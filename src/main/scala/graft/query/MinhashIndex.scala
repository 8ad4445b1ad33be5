package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ingest.PersistedIndex

/** Incrementally-maintained MinHash-LSH dedup index — the weekly-
  * delivery regime (the reference's own cadence, README.md:19-20)
  * applied to NEAR-DUP DEDUP; the dedup counterpart of the
  * incrementally-maintained ANN index ([[Ivf.ensureDeltaIndex]]).
  *
  * A 100 TB curation pipeline cannot re-shingle its corpus on every
  * delivery: [[TextSim.dedupMinhash]] is the right ONE-SHOT operator,
  * but its signature stage is O(corpus) per run. This index persists
  * the artifacts incremental curation actually needs — the band-bucket
  * table (doc_id, band, bh), the shingle-hash postings (doc_id, sh_h)
  * and the canonical-md5 postings (doc_id, canon_md5; curate_delta's
  * stage-1 store) — via [[graft.ingest.SnapshotStore]]. A delivery appends only the
  * DELTA docs' rows as one O(delta) manifest commit (Iceberg-style
  * fast append: base files are never rewritten, the new manifest just
  * references one more dir), and the delta-dedup query joins only the
  * delta's buckets — the small probe side — against the full index.
  * Query cost is O(delta + candidates), independent of corpus size on
  * the signature side.
  *
  * Unlike the IVF delta (frozen centroids ⇒ a drift bound and a
  * retrain rule), minhash maintenance is EXACT forever: signatures and
  * band buckets are per-doc aggregations, so an incrementally-built
  * index is bit-identical to a from-scratch rebuild at any number of
  * deliveries — no retrain trigger exists because there is nothing to
  * drift ([[TextSim.bandBucketsOf]]'s per-doc grain is the proof
  * obligation, pinned by MinhashIndexSpec's equivalence test).
  *
  * Default threshold 0.8 — the regime where 8×4 banding is measured
  * complete on the fixtures (per-pair collision probability
  * 1−(1−j⁴)⁸ ≥ 0.985 at j = 0.8, exactly 1 for identical docs; the
  * hash-green `dedup_minhash_recall` contract pins catch = ALL at
  * every driver SF). Completeness over the full corpus implies
  * completeness over the delta-touching subset, which is what lets
  * `dedup_minhash_delta` run under the FULL DuckDB hash gate (oracle:
  * exact-Jaccard ≥ 0.8 pairs with the newer side in the delta) rather
  * than rows-only.
  */
object MinhashIndex {

  /** Layout M2 added the canonical-md5 posting store (curate_delta
    * stage 1). */
  private val Index = new PersistedIndex[(DataFrame, DataFrame, DataFrame)](
    "minhash", "M2", "documents", "doc_id",
    PersistedIndex.Store("buckets", 2), PersistedIndex.Store("postings", 2),
    PersistedIndex.Store("canon", 2))

  /** Build-or-load the incrementally-maintained index: base docs'
    * buckets+postings+canon committed as v0, the delta's appended as
    * one O(delta) manifest commit each. Returns (buckets, postings,
    * canon) over base∪delta. One [[PersistedIndex]] — the three-store
    * build stages under one root and publishes atomically, so a
    * crashed or racing builder can never publish a base-only index or
    * a double-appended delta. */
  def ensureIndex(spark: SparkSession, dir: String, nHashes: Int = 32,
      bands: Int = 8): (DataFrame, DataFrame, DataFrame) =
    Index.ensure(spark, dir, nHashes, bands)(_.baseDelivery() { d =>
      val sh = TextSim.shingleHashesOf(d)
      Seq(TextSim.bandBucketsOf(sh, nHashes, bands), sh,
        d.select(col("doc_id"),
          TextSim.canonicalMd5(col("text")).as("canon_md5")))
    })(st => (st.read("buckets"), st.read("postings"), st.read("canon")))

  /** The persisted (doc_id, canon_md5) postings — curate_delta's
    * stage-1 store: a delivery's canonical first-wins check becomes a
    * delta-vs-store anti-join instead of a full-corpus
    * re-canonicalization ([[TextQuality.curateDelta]]). */
  def canonPostings(spark: SparkSession, dir: String): DataFrame =
    ensureIndex(spark, dir)._3

  /** The near-dup pairs a delivery INTRODUCES: every exact-Jaccard ≥
    * `threshold` pair whose newer side is in the delta (delta ids are
    * the corpus maximum, so d1 < d2 puts the delta doc at d2 —
    * delta-vs-base and delta-vs-delta pairs, never base-vs-base).
    * Candidates come from the delta's band buckets joined against the
    * FULL persisted bucket table; verification joins the persisted
    * postings — no document is re-shingled at query time. Same output
    * contract as [[TextSim.dedupMinhash]]: (d1, d2, jaccard). */
  /** Star-bounded near-dup pairs AMONG `ids`, served from the
    * PERSISTED index — the curate chain's pair stage without
    * re-shingling the corpus: postings and buckets are per-doc rows
    * ([[TextSim.shingleHashesOf]]'s scaladoc guarantee), so
    * semi-filtering the stored tables to the survivor set yields
    * exactly [[TextSim.dedupMinhashStarOf]](survivors)'s inputs and
    * bit-identical pairs (CurateIndexSpec pins it). This is the
    * production shape: the weekly curation pass reads the maintained
    * index, it does not re-derive it from text. */
  def starPairsFromIndex(spark: SparkSession, dir: String,
      ids: DataFrame, threshold: Double = 0.8, allPairCap: Int = 32)
      : DataFrame = {
    val (buckets, postings, _) = ensureIndex(spark, dir)
    val keep = ids.select("doc_id")
    TextSim.verifyJaccard(
      TextSim.starCandidates(
        buckets.join(keep, Seq("doc_id"), "left_semi"), allPairCap),
      postings.join(keep, Seq("doc_id"), "left_semi"), threshold)
  }

  /** [[starPairsFromIndex]] over the WHOLE corpus — no survivor
    * semi-filter, the stored bucket/posting tables feed the star
    * expansion directly. Bit-identical to
    * [[TextSim.dedupMinhashStar]] by the same per-doc-rows guarantee
    * (the store holds exactly the full corpus's rows: base commit +
    * delivery append); the consumers that cluster the ENTIRE corpus
    * ([[Cluster.dedupClusterMinhash]], [[Cluster.dedupKeepBest]])
    * read the maintained index instead of re-shingling every
    * document per run. */
  def starPairsAll(spark: SparkSession, dir: String,
      threshold: Double = 0.8, allPairCap: Int = 32): DataFrame = {
    val (buckets, postings, _) = ensureIndex(spark, dir)
    TextSim.verifyJaccard(
      TextSim.starCandidates(buckets, allPairCap), postings, threshold)
  }

  def dedupMinhashDelta(spark: SparkSession, dir: String,
      threshold: Double = 0.8, nHashes: Int = 32, bands: Int = 8)
      : DataFrame = {
    val (buckets, postings, _) = ensureIndex(spark, dir, nHashes, bands)
    val cut = Tables.deltaCutoff(Tables.load(spark, dir, "documents"), "doc_id")
    val cand = buckets.filter(col("doc_id") >= cut).as("y")
      .join(buckets.as("x"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    TextSim.verifyJaccard(cand, postings, threshold)
  }
}
