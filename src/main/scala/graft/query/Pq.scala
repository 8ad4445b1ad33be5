package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Caches, Tables}
import graft.functions.{cosine_sim, dot_product}

/** Product-quantization ANN (Jégou, Douze & Schmid '11, "Product
  * Quantization for Nearest Neighbor Search"): split each `d`-dim
  * vector into `m` subvectors, k-means each subspace to `ks` centroids
  * independently, and represent a vector by its `m` codes — a
  * 256-byte float embedding compresses to ~10 bytes. A query never
  * touches the
  * corpus floats: it builds an `m × ks` lookup table of exact partial
  * inner products against the codebooks, scores every code row by `m`
  * table lookups (asymmetric distance computation, ADC), and only the
  * top `rerank` candidates are re-scored exactly.
  *
  * This is the memory-bound scale path the IVF family ([[Ivf]]) does
  * not cover: IVF prunes WHICH vectors are scored (nprobe cells), PQ
  * shrinks WHAT is scored (codes, not floats). At 100 TB the codes
  * table is ~1/25 the corpus bytes, the LUT join is a broadcast of
  * `queries × m × ks` rows, the ADC pass is one scan + partial-agg of
  * the codes table (map-side combine: only top-R rows per query reach
  * the shuffle via the bounded-heap [[graft.functions.TopK]]), and the
  * exact rerank reads `queries × rerank` full vectors. In a real
  * deployment the two compose (IVF-PQ); here each is measured alone.
  *
  * Approximation algebra (why ADC ranks cosine correctly): with
  * reconstruction x̂ = (c₁…c_m) concatenated, ip(q, x̂) = Σ_sub
  * ip(q_sub, c_sub) — each term a LUT entry — and ‖x̂‖² = Σ_sub
  * ‖c_sub‖² is code-determined, so approx_cos = Σ ip / (‖q‖·√Σ‖c‖²)
  * is computable entirely from the codes + LUT. PqSpec pins this
  * identity against [[cosine_sim]] of the materialized reconstruction
  * (float-sum tolerance — the two paths order the 64 additions
  * differently).
  *
  * Training mirrors [[Ivf.trainCentroids]] — deterministic seeding by
  * `xxhash64(vec_id, seed + sub)`, Lloyd assignment as a broadcast
  * argmin (L2: argmax ip − ‖c‖²/2), exact-decimal means so the model
  * is bit-reproducible — but runs all `m` subspaces in ONE joint loop
  * (centroid key = (sub, cid)); m× fewer jobs than training subspaces
  * serially. */
object Pq {

  /** Default geometry for the 64-dim test embeddings: 16 subspaces of
    * 4 dims, 32 codes each (16 × 5 bits = 10 bytes/vector, ~25× the
    * float rate). Tuned on the UNIFORM-RANDOM fixture — PQ's worst
    * case, no cluster structure for the codebooks to exploit — where
    * the measured per-query recall floor is 4/5 at sf0.001-sf0.1.
    * Round-14 sweep (a one-off main, retired after commit 42bc2f6),
    * min hits/5 vs brute-force top-5 over the 10 standard queries at
    * sf0.001 / sf0.01 / sf0.1: m=16, ks=32, rerank 128 → 5 / 4 / 5;
    * m=8, ks=16, rerank 128 → 4 / 5 / 1; m=8, ks=32, rerank 128 → 3 at
    * sf0.1; m=8, ks=16, rerank 32 → 1 at sf0.01. Coarser geometries
    * (8×8-dim subspaces, 16 codes) drop to 1/5 at the 2000-row SF. On
    * clustered real corpora smaller geometries suffice; these defaults are the
    * honest no-structure operating point, the same calibration stance
    * as [[Ivf.HighRecallNprobe]]. */
  val M = 16
  val Ks = 32
  val Iters = 4
  val Seed = 77L

  /** ADC candidate depth for the exact rerank. A constant, not a
    * corpus fraction: at 2000 rows it is 6.4 % of the corpus and
    * recall is already 5/5; the fraction only shrinks as the corpus
    * grows while ADC ordering quality is corpus-size-independent
    * (quantization error depends on the codebooks, not N). */
  val Rerank = 128

  /** (vec_id, sub, svec): the corpus exploded into subvectors.
    * `slice` is 1-based; float → double once here so every downstream
    * op is double-exact. */
  private def subVectors(e: DataFrame, m: Int): DataFrame = {
    val d = 64 / m
    e.select(col("vec_id"),
        posexplode(array((0 until m).map(s =>
          slice(col("embedding"), s * d + 1, d).cast("array<double>")): _*))
          .as(Seq("sub", "svec")))
  }

  /** Codebooks (sub, cid, cvec, csq): joint Lloyd over all subspaces.
    * csq = ‖cvec‖² is carried because both the assignment argmin and
    * the ADC norm term need it. */
  private[query] def trainCodebooks(sv: DataFrame, m: Int, ks: Int,
      iters: Int, seed: Long): DataFrame = {
    val seedRank = Window.partitionBy("sub")
      .orderBy(col("h").asc, col("vec_id").asc)
    var cb = sv
      .withColumn("h", xxhash64(col("vec_id"), col("sub"), lit(seed)))
      .withColumn("rn", row_number().over(seedRank))
      .filter(col("rn") <= ks)
      .select(col("sub"), col("rn").cast("long").as("cid"),
        col("svec").as("cvec"))
      .localCheckpoint()
    for (_ <- 0 until iters)
      cb = Ivf.lloydMeans(assign(sv, cb), Seq("sub", "cid"), "svec")
    cb.withColumn("csq", dot_product(col("cvec"), col("cvec")))
      .localCheckpoint()
  }

  /** Nearest-codebook assignment per (vec_id, sub): broadcast the
    * model, L2 argmin as max_by(ip − csq/2); ties to the lowest cid. */
  private def assign(sv: DataFrame, cb: DataFrame): DataFrame =
    sv.join(broadcast(cb.withColumn("csq",
        dot_product(col("cvec"), col("cvec")))), Seq("sub"))
      .withColumn("score",
        dot_product(col("svec"), col("cvec")) - col("csq") / 2)
      .groupBy("vec_id", "sub")
      .agg(max_by(struct(col("cid"), col("svec")),
        struct(col("score"), -col("cid"))).as("m"))
      .select(col("vec_id"), col("sub"), col("m.cid").as("cid"),
        col("m.svec").as("svec"))

  private val memo = new Caches.Keyed[String, (DataFrame, DataFrame)]

  /** (codebooks, codes) for a corpus dir — trained once per session
    * per (dir, params); codes = (vec_id, sub, cid), the 10-byte-per-
    * vector surrogate corpus (default m=16 subspaces × 5-bit codes —
    * see [[M]]/[[Ks]]). Both localCheckpointed: the model is
    * the reusable index (persisting it to disk would be one more
    * [[graft.ingest.PersistedIndex]] declaration; in-session
    * memoization is the same contract minus cross-session reuse). */
  def ensureIndex(spark: SparkSession, dir: String, m: Int = M,
      ks: Int = Ks, iters: Int = Iters, seed: Long = Seed)
      : (DataFrame, DataFrame) =
    memo.get(spark, Caches.md5Tag(
      s"pq|$dir|$m|$ks|$iters|$seed|${Tables.fingerprint(spark, dir, "embeddings")}"))(
      buildIndexOf(Tables.load(spark, dir, "embeddings"), m, ks, iters,
        seed))

  /** Incrementally-maintained PQ (the weekly-delivery regime of
    * [[Ivf.ensureDeltaIndex]] applied to the codes index): codebooks
    * train on the BASE slice only (vec_id < cutoff — the newest ~20 %
    * model the un-indexed delivery), the delta is ASSIGNED to the
    * frozen codebooks in one O(delta) pass and its codes appended.
    * Quantization drift mirrors IVF's centroid-drift argument: frozen
    * codebooks mis-code the delta only as far as its distribution
    * departs from the base; the fixture delta is iid, and
    * `similarity_pq_delta_recall_q` pins the post-delivery serving
    * floors. Disk persistence would be one more
    * [[graft.ingest.PersistedIndex]] declaration (the
    * [[Ivf.ensureDeltaIndex]] base + delivery build); the in-session
    * memo is the same contract minus cross-session reuse. */
  def ensureDeltaIndex(spark: SparkSession, dir: String, m: Int = M,
      ks: Int = Ks, iters: Int = Iters, seed: Long = Seed)
      : (DataFrame, DataFrame) =
    memo.get(spark, Caches.md5Tag(
      s"pqdelta|$dir|$m|$ks|$iters|$seed|${Tables.fingerprint(spark, dir, "embeddings")}")) {
      val (base, delta) =
        Tables.deltaSlices(Tables.load(spark, dir, "embeddings"), "vec_id")
      val baseSv = subVectors(base, m).localCheckpoint()
      val cb = trainCodebooks(baseSv, m, ks, iters, seed)
      val deltaSv = subVectors(delta, m)
      val codes = assign(baseSv, cb)
        .unionByName(assign(deltaSv, cb)) // O(delta): one frozen pass
        .select(col("vec_id"), col("sub"), col("cid"))
        .localCheckpoint()
      (cb, codes)
    }

  /** Top-k over the incrementally-maintained codes — the
    * post-delivery serving state ([[TextSim.similarityTopk]]'s
    * output contract, [[similarityPq]]'s geometry). */
  def similarityPqDelta(spark: SparkSession, dir: String, k: Int = 5,
      rerank: Int = Rerank): DataFrame =
    similarityPqOf(Tables.load(spark, dir, "embeddings"),
      ensureDeltaIndex(spark, dir), k, rerank, M)

  /** The [[PqDrift]] gauge's decision applied at the serving layer
    * (the [[Ivf.similarityIvfRetrain]] role for the codes index): a
    * firing gauge RETRAINS the codebooks on the full corpus — the
    * chain resets, every vector re-coded under the fresh model
    * ([[ensureIndex]] over base ∪ delta IS that model) — while a
    * quiet gauge serves the frozen delta chain's answers bit-for-bit.
    * PqDriftSpec drives both arms through a planted shift / control
    * pair. */
  def similarityPqRetrain(spark: SparkSession, dir: String, k: Int = 5,
      rerank: Int = Rerank): DataFrame = {
    if (DriftGauge.fired(PqDrift.pqDriftCheck(spark, dir), "pq_retrain")) similarityPq(spark, dir, k, rerank)
    else similarityPqDelta(spark, dir, k, rerank)
  }

  /** Un-memoized index build over an arbitrary embeddings frame —
    * the Scale sweep's entry point (each factor is a fresh corpus). */
  def buildIndexOf(e: DataFrame, m: Int = M, ks: Int = Ks,
      iters: Int = Iters, seed: Long = Seed): (DataFrame, DataFrame) = {
    val sv = subVectors(e, m).localCheckpoint()
    val cb = trainCodebooks(sv, m, ks, iters, seed)
    val codes = assign(sv, cb)
      .select(col("vec_id"), col("sub"), col("cid"))
      .localCheckpoint()
    (cb, codes)
  }

  /** similarity_pq: top-`k` cosine neighbors for the standard query set
    * (vec_id < 10, mirroring [[TextSim.similarityTopk]]) via PQ-ADC
    * over the codes table, exact rerank of the top-`rerank` ADC
    * candidates. Output shape/rounding matches similarity_topk so the
    * recall contract diffs them directly. */
  def similarityPq(spark: SparkSession, dir: String, k: Int = 5,
      rerank: Int = Rerank, m: Int = M, ks: Int = Ks): DataFrame =
    similarityPqOf(Tables.load(spark, dir, "embeddings"),
      ensureIndex(spark, dir, m, ks), k, rerank, m)

  /** similarity_ivfpq: the production ANN composition (FAISS's
    * IVFADC, Jégou '11 §V) — IVF prunes WHICH vectors are considered
    * (the `nprobe` nearest cells via the persisted inverted file,
    * probed cids as literal partition filters), PQ shrinks WHAT is
    * scored for the survivors (ADC over the codes table), and only
    * `rerank` candidates per query are read at full float width. The
    * 100 TB read cost per query is therefore: centroid model
    * (broadcast) + probed cells' CODE rows (~nprobe/nlist × N × m
    * tiny rows) + rerank full vectors — the corpus floats are never
    * scanned. Recall floors measured per-SF like the component
    * operators' (contract key `similarity_ivfpq_recall_q`). */
  def similarityIvfPq(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = Ivf.HighRecallNprobe, rerank: Int = Rerank,
      m: Int = M, ks: Int = Ks): DataFrame =
    similarityIvfPqOf(spark, Tables.load(spark, dir, "embeddings"),
      Ivf.ensureIndex(spark, dir), ensureIndex(spark, dir, m, ks),
      k, nprobe, rerank, m)

  /** The O(delta) leg of the production composition (r19 verdict task
    * 2): IVF-PQ served from BOTH incrementally-maintained layers — the
    * persisted coarse chain ([[Ivf.ensureDeltaIndex]]: base-trained
    * centroids, the delivery frozen-assigned and appended O(delta))
    * and the incrementally-maintained codes ([[ensureDeltaIndex]]:
    * base-trained codebooks, the delivery coded in one frozen pass).
    * This is the state a weekly-delivery user actually serves from at
    * 100 TB — before it existed the composition paid a full two-layer
    * rebuild per delivery while each layer alone had a delta form.
    * Same output contract as [[similarityIvfPq]]; the per-query recall
    * contract re-runs against brute force over the merged corpus
    * (`similarity_ivfpq_delta_recall_q`, the
    * `similarity_pq_delta_recall_q` template). */
  def similarityIvfPqDelta(spark: SparkSession, dir: String, k: Int = 5,
      nprobe: Int = Ivf.HighRecallNprobe, rerank: Int = Rerank,
      m: Int = M, ks: Int = Ks): DataFrame =
    similarityIvfPqOf(spark, Tables.load(spark, dir, "embeddings"),
      Ivf.ensureDeltaIndex(spark, dir),
      ensureDeltaIndex(spark, dir, m, ks), k, nprobe, rerank, m)

  /** Retrain-on-drift serving for the composition — the combination
    * rule the two independent staleness signals need (r19 verdict task
    * 5): EACH LAYER IS GOVERNED BY ITS OWN GAUGE, independently. The
    * coarse layer serves [[Ivf.ensureRetrainedIndex]] (the
    * [[IndexDrift]] gauge's decision applied: quiet keeps the frozen
    * two-commit chain, fired resets to a full-corpus-trained index);
    * the codes layer serves the [[PqDrift]] decision the same way
    * (quiet → [[ensureDeltaIndex]], fired → [[ensureIndex]] over the
    * full corpus). Independence is sound because the layers' models
    * answer different questions over the SAME raw vectors — centroids
    * partition (WHICH cells are probed), codebooks quantize (WHAT the
    * survivors' distances are computed from; codes here are over raw
    * vectors, not residuals, so neither model is derived from the
    * other) — and each gauge measures exactly its own model's
    * mis-fit. A coarse-only drift re-partitions without paying the
    * O(corpus) re-code; a quantization-only drift re-codes against
    * the still-valid cell structure. When the gauges are BOTH quiet
    * this is bit-for-bit [[similarityIvfPqDelta]] (IvfPqDeltaSpec
    * pins it); when either fires, that layer serves its retrained
    * model exactly as its single-layer retrain key does. */
  def similarityIvfPqRetrain(spark: SparkSession, dir: String,
      k: Int = 5, nprobe: Int = Ivf.HighRecallNprobe,
      rerank: Int = Rerank, m: Int = M, ks: Int = Ks): DataFrame = {
    val (cent, cells, _) = Ivf.ensureRetrainedIndex(spark, dir)
    val pq = if (DriftGauge.fired(PqDrift.pqDriftCheck(spark, dir),
        "pq_retrain")) ensureIndex(spark, dir, m, ks)
      else ensureDeltaIndex(spark, dir, m, ks)
    similarityIvfPqOf(spark, Tables.load(spark, dir, "embeddings"),
      (cent, cells), pq, k, nprobe, rerank, m)
  }

  /** The composed query path over explicit (coarse, codes) layers —
    * shared by the one-shot, delta and retrain-on-drift serving
    * states. */
  private[query] def similarityIvfPqOf(spark: SparkSession, e: DataFrame,
      coarse: (DataFrame, DataFrame), pq: (DataFrame, DataFrame),
      k: Int, nprobe: Int, rerank: Int, m: Int): DataFrame = {
    val (cent, cells) = coarse
    val (cb, codes) = pq
    val (probes, probeCids) = Ivf.probeSet(spark, e, cent, nprobe)
    val q = probes.select(col("query_id"), col("qv")).distinct()
    val lut = subVectors(
        q.select(col("query_id").as("vec_id"), col("qv").as("embedding")), m)
      .select(col("vec_id").as("query_id"), col("sub"),
        col("svec").as("qsvec"))
      .join(cb, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid"),
        dot_product(col("qsvec"), col("cvec")).as("part_ip"), col("csq"))
    val qnorm = q.select(col("query_id"),
      sqrt(dot_product(col("qv").cast("array<double>"),
        col("qv").cast("array<double>"))).as("qn"))
    // IVF stage: (query, candidate) pairs restricted to probed cells —
    // the inverted file's partition pruning does the corpus cut
    val candPairs = cells.filter(col("cid").isin(probeCids: _*))
      .join(broadcast(probes.select(col("query_id"),
        col("probe_cid"))), cells("cid") === col("probe_cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    // PQ stage: ADC over the survivors' code rows only
    val adc = candPairs.join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("query_id", "sub", "cid"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("part_ip")).as("ip"), sum(col("csq")).as("sq"))
      .join(broadcast(qnorm), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        (col("ip") / (col("qn") * sqrt(col("sq")))).as("approx_cos"))
    rerankExact(e, q, adc, rerank, k)
  }

  /** Shared tail of every PQ query path: keep the top-`rerank` ADC
    * candidates per query, re-score ONLY those at full float width,
    * and emit the exact top-`k` in [[TextSim.similarityTopk]]'s
    * output contract. */
  private def rerankExact(e: DataFrame, q: DataFrame, adc: DataFrame,
      rerank: Int, k: Int): DataFrame = {
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("approx_cos").desc, col("vec_id").asc)
    val cand = adc.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= rerank)
      .select("query_id", "vec_id")
    val exact = cand
      .join(e, Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine_sim(col("qv"), col("embedding")), 4).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    exact.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }

  /** The query path over an explicit (corpus, index) pair. */
  def similarityPqOf(e: DataFrame, index: (DataFrame, DataFrame),
      k: Int = 5, rerank: Int = Rerank, m: Int = M): DataFrame = {
    val (cb, codes) = index
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // LUT: queries × m × ks exact partial inner products (tiny, broadcast)
    val lut = subVectors(
        q.select(col("query_id").as("vec_id"), col("qv").as("embedding")), m)
      .select(col("vec_id").as("query_id"), col("sub"),
        col("svec").as("qsvec"))
      .join(cb, Seq("sub"))
      .select(col("query_id"), col("sub"), col("cid"),
        dot_product(col("qsvec"), col("cvec")).as("part_ip"), col("csq"))
    val qnorm = q.select(col("query_id"),
      sqrt(dot_product(col("qv").cast("array<double>"),
        col("qv").cast("array<double>"))).as("qn"))
    // ADC: one scan of the codes table, m lookups per row, partial-agg
    val adc = codes.join(broadcast(lut), Seq("sub", "cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("part_ip")).as("ip"), sum(col("csq")).as("sq"))
      .join(broadcast(qnorm), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        (col("ip") / (col("qn") * sqrt(col("sq")))).as("approx_cos"))
    rerankExact(e, q, adc, rerank, k)
  }
}
