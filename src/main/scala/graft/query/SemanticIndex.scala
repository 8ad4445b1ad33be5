package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

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

  private val indexMemo = new graft.core.Caches.PerSession[
    scala.collection.mutable.Map[String, DataFrame]]


  private val LayoutVersion = "D1"
  private def indexTag(spark: SparkSession, dir: String, k: Int,
      iters: Int, threshold: Double, seed: Long): String =
    graft.core.Caches.md5Tag(
      s"$dir|$k|$iters|$threshold|$seed|$LayoutVersion|" +
      Tables.fingerprint(spark, dir, "embeddings"))

  /** Store-free core over any (vec_id, embedding) frame — the
    * contract/spec path (twin-augmented corpora are not a loadable
    * dir). Same dataflow as the persisted build: frozen base-trained
    * centroids, base flags, delta flags against base ∪ delta. */
  def dedupSemanticDeltaOf(e: DataFrame, k: Int = 8, iters: Int = 3,
      threshold: Double = 0.35, seed: Long = 7L): DataFrame = {
    val cut = Tables.deltaCutoff(e, "vec_id")
    val cent = Ivf.trainCentroids(
      e.filter(col("vec_id") < cut), k, iters, seed)
    val baseCells = TextSim.assignCells(
      e.filter(col("vec_id") < cut), cent)
    val deltaCells = TextSim.assignCells(
      e.filter(col("vec_id") >= cut), cent)
    TextSim.cellDupFlags(baseCells, baseCells, threshold)
      .unionByName(TextSim.cellDupFlags(deltaCells,
        baseCells.unionByName(deltaCells), threshold))
      .orderBy("vec_id")
  }

  /** Build-or-load the incrementally-maintained index for (dir,
    * params): returns the served FLAGS frame (vec_id, cluster,
    * is_dup) over base ∪ delta. Two-commit build per store,
    * single-publish across processes via
    * [[graft.ingest.StoreBootstrap]] — both stores stage under one
    * root and rename into place atomically, so a crashed or racing
    * builder can never publish base-only flags or a double-appended
    * delta. */
  def ensureIndex(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, threshold: Double = 0.35, seed: Long = 7L)
      : DataFrame = {
    val tag = indexTag(spark, dir, k, iters, threshold, seed)
    val memo = indexMemo.get(spark)(
      scala.collection.mutable.Map.empty[String, DataFrame])
    memo.synchronized {
      memo.getOrElseUpdate(tag, {
        val root = s"target/graft-semantic/$tag"
        new graft.ingest.StoreBootstrap(root).ensure(spark)(
            graft.ingest.StoreBootstrap.chains(spark,
              "cells" -> 2, "flags" -> 2)) { b =>
          val cellStore = new graft.ingest.SnapshotStore(
            s"$b/cells", partition = Some("cid"))
          val flagStore = new graft.ingest.SnapshotStore(s"$b/flags")
          val e = Tables.load(spark, dir, "embeddings")
          val cut = Tables.deltaCutoff(e, "vec_id")
          val base = e.filter(col("vec_id") < cut)
          val cent = Ivf.trainCentroids(base, k, iters, seed)
          val baseCells = TextSim.assignCells(base, cent)
            .localCheckpoint() // assign once, feed both commits
          cellStore.overwrite(baseCells)
          flagStore.overwrite(
            TextSim.cellDupFlags(baseCells, baseCells, threshold))
          // the delivery: frozen-model assignment of the delta only,
          // flags probed against the PERSISTED cells ∪ the delta —
          // one O(delta) append per store
          val deltaCells = TextSim.assignCells(
            e.filter(col("vec_id") >= cut), cent).localCheckpoint()
          val earlier = cellStore.read(spark).get
            .select("vec_id", "embedding", "cid")
            .unionByName(deltaCells)
          cellStore.append(deltaCells)
          flagStore.append(
            TextSim.cellDupFlags(deltaCells, earlier, threshold))
        }
        new graft.ingest.SnapshotStore(s"$root/flags").read(spark).get
      })
    }
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
    val cut = Tables.deltaCutoff(e, "vec_id")
    val retrained = Ivf.driftDecision(
      e.filter(col("vec_id") < cut), e.filter(col("vec_id") >= cut))
    if (retrained)
      (TextSim.dedupSemanticKmeansOf(e, k, iters, threshold), true)
    else (dedupSemanticDeltaOf(e, k, iters, threshold), false)
  }

  private val retrainMemo = new graft.core.Caches.PerSession[
    scala.collection.mutable.Map[String, (DataFrame, Boolean)]]

  /** Store-backed retrain-on-drift serving state: quiet gauge
    * publishes the frozen two-commit chain (content identical to
    * [[ensureIndex]]); fired gauge publishes a retrained single-commit
    * RESET of both stores. Chain length = the durable decision record
    * (the [[Ivf.ensureRetrainedIndex]] convention); single-publish via
    * [[graft.ingest.StoreBootstrap]]. */
  def ensureRetrainedIndex(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, threshold: Double = 0.35, seed: Long = 7L)
      : (DataFrame, Boolean) = {
    val tag = indexTag(spark, dir, k, iters, threshold, seed) + "-retrain"
    val memo = retrainMemo.get(spark)(
      scala.collection.mutable.Map.empty[String, (DataFrame, Boolean)])
    memo.synchronized {
      memo.getOrElseUpdate(tag, {
        val root = s"target/graft-semantic/$tag"
        new graft.ingest.StoreBootstrap(root).ensure(spark)(
            graft.ingest.StoreBootstrap.chains(spark,
              "cells" -> 1, "flags" -> 1)) { b =>
          val cellStore = new graft.ingest.SnapshotStore(
            s"$b/cells", partition = Some("cid"))
          val flagStore = new graft.ingest.SnapshotStore(s"$b/flags")
          val e = Tables.load(spark, dir, "embeddings")
          val cut = Tables.deltaCutoff(e, "vec_id")
          val base = e.filter(col("vec_id") < cut)
          val delta = e.filter(col("vec_id") >= cut)
          if (Ivf.driftDecision(base, delta)) {
            // fired: full refit, chain RESET to a single version
            val cent = Ivf.trainCentroids(e, k, iters, seed)
            val cells = TextSim.assignCells(e, cent).localCheckpoint()
            cellStore.overwrite(cells)
            flagStore.overwrite(
              TextSim.cellDupFlags(cells, cells, threshold))
          } else {
            // quiet: the frozen two-commit delta chain (ensureIndex's
            // exact build, restated so the staging root is this one's)
            val cent = Ivf.trainCentroids(base, k, iters, seed)
            val baseCells = TextSim.assignCells(base, cent)
              .localCheckpoint()
            cellStore.overwrite(baseCells)
            flagStore.overwrite(
              TextSim.cellDupFlags(baseCells, baseCells, threshold))
            val deltaCells = TextSim.assignCells(delta, cent)
              .localCheckpoint()
            val earlier = cellStore.read(spark).get
              .select("vec_id", "embedding", "cid")
              .unionByName(deltaCells)
            cellStore.append(deltaCells)
            flagStore.append(
              TextSim.cellDupFlags(deltaCells, earlier, threshold))
          }
        }
        val flagStore = new graft.ingest.SnapshotStore(s"$root/flags")
        (flagStore.read(spark).get,
          flagStore.versions(spark).size == 1)
      })
    }
  }

  /** Serving query over the retrain-on-drift state — identical to
    * [[dedupSemanticDelta]] when the gauge is quiet, the full-refit
    * flags when it fired. */
  def dedupSemanticRetrain(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 3, threshold: Double = 0.35): DataFrame =
    ensureRetrainedIndex(spark, dir, k, iters, threshold)._1
      .select(col("vec_id"), col("cluster"), col("is_dup"))
      .orderBy("vec_id")
}
