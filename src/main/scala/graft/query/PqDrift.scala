package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Retrain-trigger gauge for the PRODUCT-QUANTIZATION codebooks
  * (`pq_drift_check` / `pq_retrain_apply`) — closes the r18 verdict's
  * gap #2: [[Pq.ensureDeltaIndex]] freezes its per-subspace codebooks
  * at base time (the delta is assigned, never retrained), and until
  * this gauge the PQ store was the ONE trained-frozen family without a
  * staleness signal (IVF has [[IndexDrift]]; vocabulary and the three
  * perceptual stores have their own gauges).
  *
  * What drifts in PQ specifically: quantization error is PER SUBSPACE
  * (Jégou '11 §II — total reconstruction error is the sum of the m
  * independent subquantizers' errors), so a distribution shift can
  * inflate a single subspace's assignment distance or migrate its code
  * occupancy while the other 15 look healthy. The gauge therefore
  * panels at (sub, cell) grain — [[IndexDrift]]'s two signals
  * (assignment-distance inflation, occupancy shift) evaluated
  * per subspace, with occupancy shares normalized WITHIN each
  * subspace (every vector contributes exactly one row per sub).
  *
  * Oracle-expressibility, same stance as [[IndexDrift]]: the learned
  * codebooks are deterministic but SQL-inexpressible (iterative
  * Lloyd), which is why `similarity_pq_delta` is rows-only with a
  * recall-contract twin. The GAUGE does not need the learned model —
  * it freezes the most transparent per-subspace partition there is:
  * the 16 sign-quadrant cells of each subspace's 4 dimensions, each
  * with the base slice's per-(sub, cell) mean as its frozen centroid
  * (one Lloyd half-step from a deterministic seed — exactly the
  * geometry Lloyd iterates from, restricted to the subspace the
  * codebook quantizes). Any shift that inflates a subquantizer's
  * assignment distance or migrates its code occupancy under the
  * learned codebooks does so under this fixed partition too (both
  * read the same subvectors); thresholds are literal so the decision
  * is hash-checkable in DuckDB.
  *
  * Flag algebra is the shared [[DriftGauge]] copy (exact wide-integer
  * occupancy cross-multiplication; the ×2/×3 exact-multiple distance
  * rule; the round(_,4) accepted residual documented on
  * [[IndexDrift]]) with ONE deliberate divergence: the distance
  * verdict is EVIDENCE-MASS-GATED ([[MinDistMass]]). [[IndexDrift]]'s
  * per-vector distance is a 64-dim sum — self-averaging enough that a
  * handful of delivery vectors per cell yields a stable cell mean —
  * but a subquantizer's distance is 4-dim: over a few samples the
  * cell msd swings ×2 on iid data (measured on the control fixture:
  * 14 of 256 cells breach ×1.5 with n_delta ≤ 7, zero with n_delta ≥
  * 16), so a cell renders a distance verdict only with ≥ 16 delivery
  * vectors — including the novel-cell rule: a fresh cell must carry
  * real mass, strays are noise. Occupancy shift needs no gate (its
  * cross-multiplication is already mass-scaled) and alone catches the
  * migration a fresh cluster causes. At production scale cells carry
  * orders of magnitude more than the floor; the literal keeps the
  * decision hash-checkable.
  *
  * Scale shape: one dimension-grain explode (the linear pass any
  * assignment pays), a map-side-combinable per-(sub, cell, dim) mean,
  * one equi-join back, a (vector, sub)-grain rollup and a ≤ m·16-row
  * panel rollup; windows run over ≤ 16 rows per subspace (and one
  * 256-row decision window). No all-pairs, no data-grain collect. */
object PqDrift {

  /** Subspace geometry: must match [[Pq.M]] over the 64-dim fixture
    * embeddings (16 subspaces × 4 dims). The `pq_drift_check` /
    * `pq_retrain_apply` DuckDB oracles hardcode this 16×4 shape
    * (d // 4 subspace slicing, 8/4/2/1 bit weights, 4-dim quadrant
    * cells), so a [[Pq.M]] change must trip HERE at construction, not
    * surface as a silent engine-vs-oracle hash mismatch. */
  private val D = 64 / Pq.M
  require(D == 4,
    s"pq drift oracles hardcode 4-dim subspaces (16×4); Pq.M changed " +
      s"— rewrite the oracle constants with it (got D=$D)")

  /** Minimum delivery vectors in a cell for a DISTANCE verdict — see
    * the class scaladoc's small-sample argument. Literal so the DuckDB
    * oracle restates it. */
  val MinDistMass = 16

  /** Sign-quadrant cell id of subspace `s` (dims 4s..4s+3, MSB
    * first). */
  private def cellOf(v: Column, s: Int): Column =
    (0 until D).map(i =>
      when(element_at(v, s * D + i + 1) > 0d, lit(1L << (D - 1 - i)))
        .otherwise(lit(0L))).reduce(_ + _)

  /** Driver key `pq_drift_check`: the per-(subspace, cell) drift panel
    * for the standard delivery split of the embeddings table. */
  def pqDriftCheck(spark: SparkSession, dir: String): DataFrame = {
    val (base, delta) =
      Tables.deltaSlices(Tables.load(spark, dir, "embeddings"), "vec_id")
    pqDriftOf(base, delta)
  }

  /** Driver key `pq_retrain_apply`: the gauge panel after applying its
    * own decision ([[DriftGauge.applied]]). */
  def pqRetrainApply(spark: SparkSession, dir: String): DataFrame =
    DriftGauge.applied(Tables.load(spark, dir, "embeddings"), "vec_id",
      "pq_retrain")(pqDriftOf)

  /** Frame-parameterized core — PqDriftSpec drives a planted
    * distribution shift through it. Both frames carry
    * (vec_id, embedding). */
  def pqDriftOf(base: DataFrame, delta: DataFrame): DataFrame = {
    def cols(df: DataFrame) = df.select(col("vec_id"), col("embedding"))
    val dims = DriftGauge.tagged(cols(base), cols(delta))
      .select(col("vec_id"), col("is_delta"),
        col("embedding").cast("array<double>").as("v"))
      // the per-subspace cells ride the dim explode as one array —
      // no extra shuffle to pair a dim row with its subspace's cell
      .withColumn("cells",
        array((0 until Pq.M).map(s => cellOf(col("v"), s)): _*))
      .select(col("vec_id"), col("is_delta"), col("cells"),
        posexplode(col("v")).as(Seq("d", "val")))
      .withColumn("sub", (col("d") / D).cast("long"))
      .withColumn("cell",
        element_at(col("cells"), (col("sub") + 1).cast("int")))
      .drop("cells")
    // frozen centroid = base per-(sub, cell) mean, dim-wise (d already
    // determines sub; both ride the key for the panel's grain).
    // Occupancy shares are WITHIN-subspace (each vector contributes
    // one row per sub, so per-sub totals are the corpus totals — the
    // per-sub window keeps the algebra honest if a geometry ever
    // changes that)
    DriftGauge.distancePanel(dims, Seq("sub", "cell"), Seq("sub"),
      when(col("n_base") === 0, col("n_delta") >= MinDistMass)
        .when(col("n_delta") < MinDistMass ||
          col("n_base") < MinDistMass, lit(false))
        .otherwise(col("msd_delta") * 2 > col("msd_base") * 3),
      "pq_retrain")
  }
}
