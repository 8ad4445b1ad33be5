package graft.query

import org.apache.spark.sql.functions._
import graft.{SparkSuite, TestSpark}
import graft.core.Tables

/** O(delta) hyperplane-LSH dedup ([[EmbeddingIndex]]): per-vector
  * signatures make incremental maintenance EXACT, so the delta query
  * must equal the one-shot operator's pairs restricted to
  * newer-side-in-delta — bit for bit. */
class EmbeddingDeltaSpec extends SparkSuite {

  private val dir = TestSpark.sfDir

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("delta form == one-shot pairs with the newer side in the delta") {
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    val cut = Tables.deltaCutoff(e, "vec_id")
    val viaDelta = rows(EmbeddingIndex.dedupEmbeddingAnnDeltaOf(e))
    val viaOneShot = rows(TextSim.dedupEmbeddingAnnOf(e)
      .filter(col("v2") >= cut))
    assert(viaDelta === viaOneShot)
  }

  test("persisted store serves the same pairs as the store-free core") {
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    val served = rows(EmbeddingIndex.dedupEmbeddingAnnDelta(spark, dir))
    assert(served === rows(EmbeddingIndex.dedupEmbeddingAnnDeltaOf(e)))
  }

  test("recall contract: every planted twin is found from the delta " +
      "probe (ids land above the cutoff by construction)") {
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    val cut = Tables.deltaCutoff(
      e.unionByName(e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          col("embedding"), col("label"))), "vec_id")
    assert(cut > e.agg(max("vec_id")).head().getLong(0),
      "twins not all in the delta slice — the contract would stop " +
      "exercising the incremental path")
    val c = Contracts.dedupEmbeddingAnnDeltaRecall(spark, dir)
    assert(c.count() === 50)
    assert(c.filter(!col("caught")).count() === 0L)
  }
}
