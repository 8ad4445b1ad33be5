package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ingest.PersistedIndex

/** Incrementally-maintained SemDeDup index — the weekly-delivery
  * regime applied to SEMANTIC dedup, closing the r14 verdict's gap #1:
  * [[TextSim.dedupSemanticKmeans]] is the right one-shot operator, but
  * it re-trains and re-assigns the FULL corpus every run, and in the
  * reference's own weekly cadence that is the first cost cliff a user
  * hits (minhash and IVF/PQ already had delta forms; semantic did
  * not).
  *
  * Maintenance model — the [[Ivf.ensureDeltaIndex]] shape:
  *   - centroids train ONCE on the base slice (vec_id < cutoff) and
  *     freeze — the k-means model is the index, deliveries never move
  *     it (retrain policy = the IVF drift rule, same scaladoc);
  *   - the base slice is assigned and flagged (keep-first-seen inside
  *     each cell) as commit v0 of two [[graft.ingest.SnapshotStore]]s:
  *     CELLS (vec_id, embedding, cid — partitioned by cid, the probe
  *     side) and FLAGS (vec_id, cluster, is_dup — the served result);
  *   - a delivery (vec_id ≥ cutoff) is ASSIGNED under the frozen
  *     model — one broadcast-argmax pass over the delta only — and
  *     flagged against base ∪ delta EARLIER rows (same cell, smaller
  *     vec_id, rounded cosine ≥ threshold): O(delta × cell) pair
  *     work, never O(corpus²); both stores take one O(delta) manifest
  *     append (no base file rewritten).
  *
  * Exactness: under a FROZEN model, a doc's flag depends only on
  * same-cell docs with smaller vec_ids — all of which are already in
  * the store when the delivery lands — so the incremental result is
  * BIT-IDENTICAL to re-running the full pipeline over base ∪ delta
  * with the same centroids (SemanticDeltaSpec pins the equivalence;
  * unlike frozen-centroid IVF *recall*, the dedup flags have no
  * drift — only cell QUALITY for future deliveries drifts, which is
  * the retrain trigger).
  *
  * Trained centroids are deterministic but SQL-inexpressible
  * (iterated exact-decimal means), so the key is rows-only and
  * [[Contracts.dedupSemanticDeltaRecall]] is its hash gate — planted
  * exact twins of base docs land in the SAME cell under any model and
  * at cosine 1.0 MUST flag, so a missed twin means the frozen-assign →
  * store-probe → flag pipeline broke. */
object SemanticIndex {

  /** The cell-partitioned CELLS store and the served FLAGS, each
    * committing `versions` versions. */
  private def semanticIndex[V](name: String, versions: Int) =
    new PersistedIndex[V](name, "D1", "embeddings", "vec_id",
      PersistedIndex.Store("cells", versions, partition = Some("cid")),
      PersistedIndex.Store("flags", versions))

  private val DeltaIndex = semanticIndex[DataFrame]("semantic", 2)
  private val RetrainIndex =
    semanticIndex[(DataFrame, Boolean)]("semantic-retrain", 1)

  /** Store-free core over any (vec_id, embedding) frame — the
    * contract/spec path (twin-augmented corpora are not a loadable
    * dir). Same dataflow as the persisted build: frozen base-trained
    * centroids, base flags, delta flags against base ∪ delta. */
  def dedupSemanticDeltaOf(e: DataFrame, k: Int = 8, iters: Int = 3,
      threshold: Double = 0.35, seed: Long = 7L): DataFrame = {
    val (base, delta) = Tables.deltaSlices(e, "vec_id")
    val cent = Ivf.trainCentroids(base, k, iters, seed)
    val baseCells = TextSim.assignCells(base, cent)
    val deltaCells = TextSim.assignCells(delta, cent)
    TextSim.cellDupFlags(baseCells, baseCells, threshold)
      .unionByName(TextSim.cellDupFlags(deltaCells,
        baseCells.unionByName(deltaCells), threshold))
      .orderBy("vec_id")
  }

  /** Build-or-load the incrementally-maintained index for (dir,
    * params): returns the served FLAGS frame (vec_id, cluster,
    * is_dup) over base ∪ delta. Two-commit build per store, one
    * [[PersistedIndex]] — both stores stage under one root and
    * publish atomically, so a crashed or racing builder can never
    * publish base-only flags or a double-appended delta. */
  def ensureIndex(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, threshold: Double = 0.35, seed: Long = 7L)
      : DataFrame =
    DeltaIndex.ensure(spark, dir, k, iters, threshold, seed) { st =>
      val (base, delta) = st.split(st.source)
      buildDelta(st, base, delta, k, iters, threshold, seed)
    }(_.read("flags"))

  /** The frozen delta chain: centroids trained on `base`, base cells
    * and flags committed, then the delivery's frozen-model assignment
    * with flags probed against the PERSISTED cells ∪ the delta — one
    * O(delta) append per store. */
  private def buildDelta(st: PersistedIndex.Stores, base: DataFrame,
      delta: DataFrame, k: Int, iters: Int, threshold: Double,
      seed: Long): Unit = {
    val cent = Ivf.trainCentroids(base, k, iters, seed)
    val baseCells = TextSim.assignCells(base, cent)
      .localCheckpoint() // assign once, feed both commits
    st("cells").overwrite(baseCells)
    st("flags").overwrite(
      TextSim.cellDupFlags(baseCells, baseCells, threshold))
    val deltaCells = TextSim.assignCells(delta, cent).localCheckpoint()
    val earlier = st.read("cells")
      .select("vec_id", "embedding", "cid")
      .unionByName(deltaCells)
    st("cells").append(deltaCells)
    st("flags").append(
      TextSim.cellDupFlags(deltaCells, earlier, threshold))
  }

  /** Driver key `dedup_semantic_delta`: the post-delivery serving
    * state of semantic dedup — [[TextSim.dedupSemanticKmeans]]'s
    * output contract over base ∪ delta with base-trained frozen
    * centroids, read from the incrementally-maintained store. */
  def dedupSemanticDelta(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, threshold: Double = 0.35): DataFrame =
    ensureIndex(spark, dir, k, iters, threshold)
      .select(col("vec_id"), col("cluster"), col("is_dup"))
      .orderBy("vec_id")

  // ----------------------------------------------------- retrain action
  //
  // The [[Ivf.ensureRetrainedIndex]] shape applied to FLAGS — the
  // other frozen-model index family the drift gauge watches. A quiet
  // gauge serves the frozen delta pipeline unchanged; a fired gauge
  // swaps the frozen model for one retrained on the full corpus and
  // recomputes every flag under it, which is BY CONSTRUCTION
  // [[TextSim.dedupSemanticKmeansOf]] of the merged corpus (the
  // one-shot operator IS the full refit) — so the retrained arm's
  // semantics are pinned to an existing, already-oracle-shaped
  // operator rather than a new code path.

  /** Frame-level retrain-on-drift: ([[IndexDrift]]-gauged) flags +
    * the decision. Quiet ⇒ bit-identical to [[dedupSemanticDeltaOf]];
    * fired ⇒ bit-identical to the one-shot full refit. */
  def retrainIfDrifted(e: DataFrame, k: Int = 8, iters: Int = 3,
      threshold: Double = 0.35): (DataFrame, Boolean) = {
    val (base, delta) = Tables.deltaSlices(e, "vec_id")
    if (DriftGauge.fired(IndexDrift.indexDriftOf(base, delta),
        "index_retrain"))
      (TextSim.dedupSemanticKmeansOf(e, k, iters, threshold), true)
    else (dedupSemanticDeltaOf(e, k, iters, threshold), false)
  }

  /** Store-backed retrain-on-drift serving state: quiet gauge
    * publishes the frozen two-commit chain (content identical to
    * [[ensureIndex]]); fired gauge publishes a retrained single-commit
    * RESET of both stores. Chain length = the durable decision record
    * (the [[Ivf.ensureRetrainedIndex]] convention); one
    * [[PersistedIndex]]. */
  def ensureRetrainedIndex(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, threshold: Double = 0.35, seed: Long = 7L)
      : (DataFrame, Boolean) =
    RetrainIndex.ensure(spark, dir, k, iters, threshold, seed) { st =>
      val e = st.source
      val (base, delta) = st.split(e)
      if (DriftGauge.fired(IndexDrift.indexDriftOf(base, delta),
          "index_retrain")) {
        // fired: full refit, chain RESET to a single version
        val cent = Ivf.trainCentroids(e, k, iters, seed)
        val cells = TextSim.assignCells(e, cent).localCheckpoint()
        st("cells").overwrite(cells)
        st("flags").overwrite(TextSim.cellDupFlags(cells, cells, threshold))
      } else buildDelta(st, base, delta, k, iters, threshold, seed)
    }(st => (st.read("flags"), st("flags").versions(spark).size == 1))

  /** Serving query over the retrain-on-drift state — identical to
    * [[dedupSemanticDelta]] when the gauge is quiet, the full-refit
    * flags when it fired. */
  def dedupSemanticRetrain(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, threshold: Double = 0.35): DataFrame =
    ensureRetrainedIndex(spark, dir, k, iters, threshold)._1
      .select(col("vec_id"), col("cluster"), col("is_dup"))
      .orderBy("vec_id")
}
