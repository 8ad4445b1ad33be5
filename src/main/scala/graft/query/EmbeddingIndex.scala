package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ingest.PersistedIndex
import graft.functions.cosine_sim

/** Incrementally-maintained hyperplane-LSH bucket index — the delta
  * form of [[TextSim.dedupEmbeddingAnn]], closing the last
  * approximate dedup family without a delivery story (minhash, IVF,
  * PQ, semantic, vocabulary and gram-grain substring all have one).
  *
  * Like minhash — and unlike frozen-centroid IVF — maintenance is
  * EXACT forever: an LSH signature is a per-vector computation
  * ([[TextSim.annBuckets]]), so the incrementally-built bucket table
  * is bit-identical to a from-scratch rebuild at any number of
  * deliveries; no drift, no retrain rule. A delivery appends only its
  * own vectors' (vec_id, t, bucket) rows as one O(delta) manifest
  * commit.
  *
  * The delta query mirrors [[MinhashIndex.dedupMinhashDelta]]: the
  * near-dup pairs a delivery INTRODUCES — every exact-cosine ≥
  * threshold pair whose newer side is in the delta (delta ids are the
  * corpus maximum, so v1 < v2 puts the delta vector at v2) —
  * candidates from the delta's buckets joined against the FULL
  * persisted table (the small probe side against the index), the
  * one-shot operator's `maxBucket` skew cap applied to TOTAL bucket
  * size, exact cosine verifying every emitted pair. No vector is
  * re-hashed at query time. Rows-only key (engine-specific
  * signatures); [[Contracts.dedupEmbeddingAnnDeltaRecall]] is the
  * hash gate — planted twins land above the cutoff and must each be
  * found against their base original. */
object EmbeddingIndex {

  private val Index = new PersistedIndex[DataFrame]("annlsh", "A1",
    "embeddings", "vec_id", PersistedIndex.Store("buckets", 2))

  /** Build-or-load the incrementally-maintained bucket table over
    * base ∪ delta (base commit + one O(delta) append; one
    * [[PersistedIndex]]). */
  def ensureIndex(spark: SparkSession, dir: String, nPlanes: Int = 8,
      nTables: Int = 8, seed: Long = 7L): DataFrame =
    Index.ensure(spark, dir, nPlanes, nTables, seed)(
      _.baseDelivery()(e =>
        Seq(TextSim.annBuckets(e, nPlanes, nTables, seed))))(
      _.read("buckets"))

  /** Store-free core over any (vec_id, embedding) frame — the
    * contract/spec path (twin-augmented corpora are not a loadable
    * dir). Identical dataflow; per-vector signatures make it
    * bit-equal to the persisted form (EmbeddingDeltaSpec). */
  def dedupEmbeddingAnnDeltaOf(e: DataFrame, threshold: Double = 0.35,
      nPlanes: Int = 8, nTables: Int = 8, maxBucket: Int = 10000,
      seed: Long = 7L): DataFrame =
    deltaPairs(TextSim.annBuckets(e, nPlanes, nTables, seed),
      e, Tables.deltaCutoff(e, "vec_id"), threshold, maxBucket)

  /** Driver key `dedup_embedding_ann_delta`. */
  def dedupEmbeddingAnnDelta(spark: SparkSession, dir: String,
      threshold: Double = 0.35, nPlanes: Int = 8, nTables: Int = 8,
      maxBucket: Int = 10000, seed: Long = 7L): DataFrame = {
    val e = Tables.load(spark, dir, "embeddings")
    deltaPairs(ensureIndex(spark, dir, nPlanes, nTables, seed),
      e, Tables.deltaCutoff(e, "vec_id"), threshold, maxBucket)
  }

  /** The delta-pair query over an explicit bucket table — shared with
    * the STREAMED maintainer ([[graft.streaming.DeliveryStore.ann]]), whose
    * store content is bit-equal to [[ensureIndex]]'s by the per-vector
    * signature grain. */
  private[graft] def deltaPairs(buckets: DataFrame, e: DataFrame,
      cut: Long, threshold: Double, maxBucket: Int): DataFrame = {
    // the one-shot operator's skew cap, applied to TOTAL bucket size:
    // a degenerate bucket is dropped before any pairing, same honesty
    val keep = buckets.groupBy("t", "bucket")
      .agg(count(lit(1)).as("n"))
      .filter(col("n").between(2, maxBucket))
      .select("t", "bucket")
    val capped = buckets.join(keep, Seq("t", "bucket"))
    val cand = capped.filter(col("vec_id") >= cut).as("y")
      .join(capped.as("x"),
        col("x.t") === col("y.t") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("v1"), col("embedding").as("e1")),
        "v1")
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2")),
        "v2")
      .select(col("v1"), col("v2"),
        round(cosine_sim(col("e1"), col("e2")), 4).as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy("v1", "v2")
  }
}
