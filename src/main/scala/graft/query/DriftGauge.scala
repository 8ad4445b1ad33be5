package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** The ONE copy of the retrain-gauge lifecycle shared by the six
  * frozen-store drift gauges: [[IndexDrift]] (embedding index),
  * [[PqDrift]] (PQ codebooks), [[TextQuality.vocabDriftOf]] (tokenizer
  * vocabulary), and [[graft.multimodal.Phash.bitDriftOf]] (image and
  * audio fingerprints) and [[graft.multimodal.VideoFp.videoDriftOf]]
  * (video sequences). A gauge is a frame function
  * `(base, delivery) => panel`; everything around it is written here.
  *
  * The lifecycle, stated once:
  *   - **Delivery.** The delivery is the newest ~20% of the store's
  *     ids — those at or past `max(id) * 4 / 5 + 1`
  *     ([[Tables.deltaCutoff]]); [[Tables.deltaSlices]] cuts a source
  *     into (base, delivery), at its own cut or at one taken from
  *     another table (the perceptual stores cut at `documents`).
  *   - **Panel.** Each gauge unions the two slices tagged `is_delta`
  *     ([[tagged]]), computes per-row flags with the shared algebra
  *     ([[occShift]], [[safeRate]], [[distancePanel]]) and ends on a
  *     panel-wide retrain column ([[anyRow]]): the same value on
  *     every row, true iff some row flags.
  *   - **Decision.** [[fired]] reads that column back: true iff any
  *     row of the panel holds it; an empty panel reads false.
  *   - **Apply.** [[applied]] runs gauge → act → re-gauge. A fired
  *     pre-gauge resets the chain — the full source becomes the new
  *     base and the delivery is empty — so the post panel
  *     deterministically reads all-quiet (no delivery rows, every
  *     flag false); a quiet pre-gauge keeps the frozen store serving
  *     and the post panel IS the pre panel. `retrained` records the
  *     decision that was applied. Every stage is exact column
  *     algebra, so the DuckDB oracles recompute the whole loop.
  *
  * The `*_drift_check` and `*_retrain_apply` keys pin these semantics
  * against DuckDB; the store-level acts ([[Ivf.ensureRetrainedIndex]],
  * [[SemanticIndex.ensureRetrainedIndex]], [[Pq.similarityPqRetrain]])
  * take the same [[fired]] decision. */
object DriftGauge {

  /** Occupancy-shift flag: |delta_share − base_share| > 5%, evaluated
    * WITHOUT division as |n_delta·T_base − n_base·T_delta| · 20 >
    * T_base · T_delta in exact wide-integer arithmetic (Spark
    * DECIMAL(38,0), DuckDB HUGEINT — both exact far past any physical
    * corpus; plain BIGINT would silently wrap in Spark's non-ANSI mode
    * once the cross-product passes ~3e9² while DuckDB raises,
    * diverging the engines). */
  def occShift(nDelta: Column, nBase: Column, tDelta: Column,
      tBase: Column): Column =
    abs(nDelta.cast("decimal(38,0)") * tBase -
        nBase.cast("decimal(38,0)") * tDelta) * 20 >
      tBase.cast("decimal(38,0)") * tDelta

  /** Rounded-ratio rate with the empty-delivery guard: den = 0 (the
    * retrained arm's empty delta) must not hit IEEE 0/0 — engines
    * disagree there — so it reads 0.0 by convention. */
  def safeRate(num: Column, den: Column): Column =
    when(den === 0, lit(0.0))
      .otherwise(round(num.cast("double") / den, 6))

  /** Base rows tagged `is_delta = false` and delivery rows `true`, in
    * one frame; the two must carry the same columns. */
  def tagged(base: DataFrame, delta: DataFrame): DataFrame =
    base.withColumn("is_delta", lit(false))
      .unionByName(delta.withColumn("is_delta", lit(true)))

  // a panel is model grain (at most a few hundred rows), so one
  // single-partition window over all of it is affordable at any scale
  private val panel = Window.partitionBy(lit(1))

  /** The panel-wide retrain column: true on every row iff `flag`
    * holds on some row. */
  def anyRow(flag: Column): Column = bool_or(flag).over(panel)

  /** The frozen-partition distance panel [[IndexDrift]] and
    * [[PqDrift]] share. `dims` carries one row per (vector, dimension):
    * `vec_id`, `is_delta`, the partition `keys`, `d` and `val`. Each
    * partition's frozen centroid is the base's per-(keys, d) mean; every
    * vector's squared distance to it is rolled up per key into
    * `n_base`, `n_delta` and the rounded mean distances `msd_base` /
    * `msd_delta`, with occupancy totals over the `totalsBy` group (the
    * whole panel when empty). The flags are [[occShift]] on those
    * totals, the gauge's own `distDrift` rule, `needs_retrain` = either,
    * and the panel-wide `flag`; rows are ordered by `keys`. */
  def distancePanel(dims: DataFrame, keys: Seq[String],
      totalsBy: Seq[String], distDrift: Column, flag: String): DataFrame = {
    val ks = keys.map(col)
    val cent = dims.filter(!col("is_delta"))
      .groupBy(ks :+ col("d"): _*).agg(avg(col("val")).as("m"))
    // a delivery-only partition has no centroid => null distance
    val sq = dims.join(cent, keys :+ "d", "left")
      .groupBy(col("vec_id") +: ks :+ col("is_delta"): _*)
      .agg(sum((col("val") - col("m")) * (col("val") - col("m")))
        .as("sq"))
    val stats = sq.groupBy(ks: _*).agg(
      count(when(!col("is_delta"), lit(1))).as("n_base"),
      count(when(col("is_delta"), lit(1))).as("n_delta"),
      avg(when(!col("is_delta"), col("sq"))).as("mb"),
      avg(when(col("is_delta"), col("sq"))).as("md"))
    val totals =
      if (totalsBy.isEmpty) panel else Window.partitionBy(totalsBy.map(col): _*)
    val counts = Seq(col("n_base"), col("n_delta"))
    stats.select(ks ++ counts ++ Seq(
        round(col("mb"), 4).as("msd_base"),
        round(col("md"), 4).as("msd_delta"),
        sum(col("n_base")).over(totals).as("tb"),
        sum(col("n_delta")).over(totals).as("td")): _*)
      .select(ks ++ counts ++ Seq(col("msd_base"), col("msd_delta"),
        occShift(col("n_delta"), col("n_base"), col("td"), col("tb"))
          .as("occ_shift"),
        distDrift.as("dist_drift")): _*)
      .select(col("*"),
        (col("occ_shift") || col("dist_drift")).as("needs_retrain"))
      .select(col("*"), anyRow(col("needs_retrain")).as(flag))
      .orderBy(ks: _*)
  }

  /** The decision: does any row of `panel` hold `flag`? An empty panel
    * reads false. */
  def fired(panel: DataFrame, flag: String): Boolean =
    panel.agg(coalesce(bool_or(col(flag)), lit(false)))
      .head().getBoolean(0)

  /** Gauge → act → re-gauge over `src` split on `idCol`: the post panel
    * of the class scaladoc's Apply step, with `retrained`. */
  def applied(src: DataFrame, idCol: String, flag: String)(
      gauge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val (base, delta) = Tables.deltaSlices(src, idCol)
    val retrained = fired(gauge(base, delta), flag)
    val (pb, pd) = if (retrained) (src, src.limit(0)) else (base, delta)
    gauge(pb, pd).withColumn("retrained", lit(retrained))
  }
}
