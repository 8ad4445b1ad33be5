package graft.query

import org.apache.spark.sql.functions._
import graft.{SparkSuite, TestSpark}
import graft.core.Tables

/** O(delta) semantic dedup ([[SemanticIndex]] — r14 verdict gap #1).
  * The load-bearing claim is EXACTNESS of incremental maintenance:
  * under a frozen centroid model, a doc's flag depends only on
  * same-cell docs with smaller vec_ids, so base-then-append must be
  * bit-identical to one full frozen-model run over base ∪ delta. */
class SemanticDeltaSpec extends SparkSuite {

  private val dir = TestSpark.sfDir

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("incremental == full frozen-model run over base ∪ delta") {
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    val incremental = SemanticIndex.dedupSemanticDeltaOf(e)
    val cut = Tables.deltaCutoff(e, "vec_id")
    val cent = Ivf.trainCentroids(
      e.filter(col("vec_id") < cut), 8, 3, 7L)
    val all = TextSim.assignCells(e, cent)
    val full = TextSim.cellDupFlags(all, all, 0.35).orderBy("vec_id")
    assert(rows(incremental) === rows(full))
    assert(incremental.count() === e.count(), "not total over the corpus")
  }

  test("persisted store serves the same flags as the store-free core") {
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    val served = SemanticIndex.dedupSemanticDelta(spark, dir)
    assert(rows(served) ===
      rows(SemanticIndex.dedupSemanticDeltaOf(e)))
    // second call is memo/disk-served and identical (build idempotence)
    assert(rows(SemanticIndex.dedupSemanticDelta(spark, dir)) ===
      rows(served))
  }

  test("delta mass is genuinely flagged by the incremental path: " +
      "every planted twin lands above the cutoff and is caught") {
    val e = graft.core.Tables.load(spark, dir, "embeddings")
    val cut = Tables.deltaCutoff(
      e.unionByName(e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          col("embedding"), col("label"))), "vec_id")
    assert(cut > e.agg(max("vec_id")).head().getLong(0),
      "twins do not all land in the delta slice — the contract " +
      "would no longer exercise the incremental path")
    val c = Contracts.dedupSemanticDeltaRecall(spark, dir)
    assert(c.count() === 50)
    assert(c.filter(!col("caught")).count() === 0L,
      "frozen-model incremental path missed an exact twin")
  }

  test("flag grain sanity: one row per vec_id, duplicates exist at " +
      "the fixture threshold") {
    val served = SemanticIndex.dedupSemanticDelta(spark, dir)
    val n = served.count()
    assert(served.select("vec_id").distinct().count() === n)
    assert(served.filter(col("is_dup")).count() > 0L,
      "no duplicates flagged — threshold/fixture drifted, vacuous key")
  }
}
