package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Deterministic sampling + sequence packing — training-data pipeline
  * operators (builder directive). All of them avoid RNG state on
  * purpose: the "randomness" is a cryptographic hash of the row KEY, so
  * the sample is (1) engine-portable — DuckDB computes the identical
  * md5, making these fully oracle-checkable, unlike TABLESAMPLE whose
  * RNG is engine-private; (2) reproducible across runs, partitionings
  * and cluster sizes; (3) stable under re-ingestion — a row keeps its
  * sample fate when the corpus around it changes (the property that
  * makes hash-sampling the standard train/test-split device). Pure
  * per-row predicates / windowed ranks: filters push down, no shuffle
  * beyond the stated ones. */
object Sampling {

  /** Uniform-rate key-hash sample: keep rows whose md5(key) falls below
    * the hex threshold. "1a" ≈ 0x1a/0x100 ≈ 10.2% of key space. Pure
    * scan-side predicate — no shuffle at any scale. */
  def sampleHash(spark: SparkSession, dir: String,
      hexThreshold: String = "1a"): DataFrame =
    Tables.load(spark, dir, "orders")
      .filter(md5(col("o_orderkey").cast("string")) < hexThreshold)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")

  /** Stratified fixed-size sample: k rows per stratum, chosen by hash
    * order (deterministic, unbiased within the stratum). One shuffle on
    * the stratum key; the rank prunes everything beyond k per group. */
  def sampleStratified(spark: SparkSession, dir: String, k: Int = 100)
      : DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(md5(col("o_orderkey").cast("string")).asc,
        col("o_orderkey").asc)
    Tables.load(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .orderBy("o_orderpriority", "rn")
  }

  /** Mixture sampling: each source sampled at its own rate — the "data
    * mixing weights" step of assembling a pretraining corpus (web 5%,
    * books 75%, ...). Rates are per-source hex thresholds on the same
    * key hash as [[sampleHash]], so the mix is reproducible, stable
    * under re-ingestion, and engine-portable. Still a pure scan-side
    * predicate: the per-row threshold is derived from the row's own
    * `source` column — no join, no shuffle, at any corpus size. */
  def sampleMixture(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .withColumn("mix_threshold", mixtureThreshold)
      .filter(md5(col("doc_id").cast("string")) < col("mix_threshold"))
      .select("doc_id", "source", "mix_threshold")
      .orderBy("doc_id")

  /** The per-source mixing-rate table (hex thresholds on md5(doc_id)) —
    * THE single definition; [[sampleMixture]] and
    * [[TextQuality.curateE2e]] both read it, so a rate change cannot
    * drift between the standalone key and the composed pipeline. */
  private[query] def mixtureThreshold: Column = {
    val grp = regexp_extract(col("source"), "([0-9]+)", 1).cast("int") % 4
    when(grp === 0, "0d")   // ≈  5%
      .when(grp === 1, "26") // ≈ 15%
      .when(grp === 2, "59") // ≈ 35%
      .otherwise("c0")       // ≈ 75%
  }

  /** Driver key `mix_budget_plan`: the SOURCE-grain token-budget
    * allocation panel — the "data recipe" planning step run before any
    * document is sampled (the published pretraining-mix tables: per
    * source, how many tokens the mix wants vs how many exist, and the
    * implied epoch count when the want exceeds the have — the
    * data-constrained regime of Muennighoff '23, arXiv:2305.16264).
    * Weights are [[mixtureThreshold]]'s rate groups as integers
    * (5/15/35/75 — THE single mixing-rate definition, so plan and
    * apply cannot drift); `target_tokens = B·w/Σw` and
    * `epochs_x1000 = target·1000/have` in BIGINT floor division — no
    * doubles anywhere, the panel is exact on both engines.
    *
    * Scale shape: one narrow corpus scan (size(tokens) per doc — no
    * explode), a source-grain aggregate (map-side combinable; sources
    * number in the dozens), and a 1-row totals frame broadcast-crossed
    * back in (the tfidf model-scalar shape). Nothing here grows with
    * corpus width at any scale. */
  def mixBudgetPlan(spark: SparkSession, dir: String,
      budget: Long = 100000L): DataFrame = {
    val bySource = Tables.load(spark, dir, "documents")
      .select(col("source"),
        size(TextSim.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .withColumn("weight", mixtureWeight)
    val totals = bySource.agg(sum(col("weight")).as("w_total"))
    bySource.crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("weight"),
        // DIV, not `/`: Spark's `/` is double division; the plan must
        // stay in exact BIGINT floor arithmetic on both engines
        expr(s"CAST(${budget}L * weight DIV w_total AS BIGINT)")
          .as("target_tokens"))
      // n_tokens = 0 (a source whose documents all tokenize empty —
      // degenerate but reachable): epoch count is undefined, and the
      // engines DISAGREE on bare division by zero (Spark DIV yields
      // NULL, DuckDB errors) — guard explicitly on both sides
      .withColumn("epochs_x1000",
        when(col("n_tokens") === 0, lit(null).cast("long"))
          .otherwise(
            expr("CAST(target_tokens * 1000L DIV n_tokens AS BIGINT)")))
      .withColumn("oversubscribed",
        col("target_tokens") > col("n_tokens"))
      .orderBy("source")
  }

  /** [[mixtureThreshold]]'s rate groups as integer mixing WEIGHTS —
    * the same grouping rule, so the plan panel and the apply-side
    * sampler read one definition. */
  private[query] def mixtureWeight: Column = {
    val grp = regexp_extract(col("source"), "([0-9]+)", 1).cast("int") % 4
    when(grp === 0, 5L).when(grp === 1, 15L)
      .when(grp === 2, 35L).otherwise(75L)
  }

  /** Importance resampling weights (DSIR — Xie et al. '23,
    * arXiv:2302.03169): score every training document by how much its
    * hashed-n-gram feature profile leans toward a TARGET distribution
    * vs the raw-corpus proposal, the public method for selecting
    * pretraining data that "looks like" a trusted target set. Target =
    * the doc_id % 50 == 0 slice (the [[TextSim.decontaminate]] eval-set
    * convention, standing in for an external target corpus); features =
    * unigrams hashed into `b` buckets (md5-prefix bucketing — the
    * engine-portable hash every dedup key here uses); per-bucket
    * add-one-smoothed log-ratios; a document's log importance weight is
    * the sum of its token occurrences' bucket log-ratios. `keep` flags
    * the per-token-normalized weight (length bias removed) against a
    * threshold placed inside the synthetic corpus' observed
    * distribution so both branches are exercised (the
    * [[TextQuality.qualityFilter]] convention; production DSIR samples
    * a budget with Gumbel noise — a seeded per-row column, same plan
    * shape).
    *
    * Cross-engine determinism: the per-doc sum folds over the SORTED
    * log-ratio list via the sequential `aggregate` HOF — the
    * [[TextQuality.textSurprisal]] convention (float addition is
    * order-sensitive; sorting fixes the order on both engines).
    *
    * Shape at scale: one token explode + a 64-group aggregation for the
    * bucket table (kilobytes — broadcast), then one doc-grain
    * aggregation. Same cost class as tfidf: everything partitions by
    * doc or bucket, nothing pairwise, no shuffle wider than the
    * doc-grain combine. */
  def sampleImportance(spark: SparkSession, dir: String, b: Int = 64)
      : DataFrame =
    sampleImportanceOf(Tables.fanOut(Tables.load(spark, dir, "documents")), b)

  /** [[sampleImportance]]'s core over any (doc_id, text) frame (the
    * scaled-copy harness [[graft.Scale]] runs it on replicated
    * corpora). */
  def sampleImportanceOf(docs: DataFrame, b: Int = 64): DataFrame = {
    val isEval = col("doc_id") % 50 === 0
    val occ = docs
      .select(col("doc_id"),
        explode(TextSim.tokens(col("text"))).as("token"))
      .select(col("doc_id"),
        (conv(substring(md5(col("token")), 1, 8), 16, 10)
          .cast("long") % b).as("bucket"))
    // b rows — pinned, because the frame is referenced twice more (the
    // `tot` scalar action and the broadcast `lr` build inside the final
    // query) and each un-pinned reference re-runs the corpus
    // tokenize+md5 explode from the scan (ProfileOne: THREE ~full-
    // corpus Generate stages per pass; with the pin it is two — this
    // materialization plus the probe side). The pinned bytes are
    // bucket-grain (b rows), never corpus-grain.
    val counts = occ.groupBy("bucket").agg(
      sum(when(isEval, 1L).otherwise(0L)).as("ct"),
      sum(when(isEval, 0L).otherwise(1L)).as("cp"))
      .localCheckpoint()
    // corpus totals: model scalars (the tfidf `n` convention)
    val tot = counts.agg(sum("ct"), sum("cp")).first()
    val (t, p) = (tot.getLong(0), tot.getLong(1))
    val lr = counts.select(col("bucket"),
      (log((col("ct") + 1).cast("double") / (t + b).toDouble) -
        log((col("cp") + 1).cast("double") / (p + b).toDouble)).as("lr"))
    occ.filter(!isEval)
      .join(broadcast(lr), "bucket")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("lr"))).as("lrs"))
      .withColumn("w", expr("aggregate(lrs, CAST(0.0 AS DOUBLE), " +
        "(a, x) -> a + x)"))
      .select(col("doc_id"), size(col("lrs")).cast("long").as("n_tokens"),
        round(col("w"), 4).as("logw"),
        round(col("w") / size(col("lrs")), 4).as("avg_lr"))
      .withColumn("keep", col("avg_lr") >= -0.09)
      .orderBy("doc_id")
  }

  /** Sequence packing (concat-and-split): lay documents end to end in
    * doc_id order and cut fixed token-capacity bins — the standard
    * LLM-pretraining batch-shaping step. Partitioned per `source` shard
    * so the cumulative sum is a bounded per-shard window, not one global
    * partition (at 100 TB each shard packs independently; a single
    * global ordering would serialize). Emits each document's bin and
    * intra-bin offset. */
  def packSequences(spark: SparkSession, dir: String,
      capacity: Int = 2048): DataFrame =
    packBins(Tables.load(spark, dir, "documents")
        .withColumn("n_tokens",
          size(TextSim.tokens(col("text"))).cast("long")),
      capacity)
      .orderBy("source", "doc_id")

  /** The bin/offset algebra over any (source, doc_id, n_tokens) frame —
    * THE single definition; [[packSequences]] and
    * [[TextQuality.curateE2e]] both run it. No ordering here (the batch
    * key adds its presentation sort). */
  private[query] def packBins(docs: DataFrame, capacity: Int): DataFrame = {
    require(capacity > 0, s"capacity must be positive: $capacity")
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("source"), col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) DIV $capacity").as("bin"),
        ((col("cum") - col("n_tokens")) % capacity).as("bin_offset"))
  }

  /** Overlapping token-window chunking — the document-splitting step of
    * an embedding / retrieval pipeline (window `win`, stride `stride`,
    * stride < win ⇒ consecutive chunks overlap by win−stride tokens).
    * Redundant tail starts (a final window fully contained in the
    * previous one) are pruned by the `start = 0 OR len > win − stride`
    * rule, so every emitted chunk contributes tokens no earlier chunk
    * covered. Scale shape: chunk starts are GENERATED per row
    * (`sequence(0, n−1, stride)`) and exploded scan-side — no shuffle,
    * no driver loop; the fan-out is ⌈n/stride⌉ per document by
    * construction. Emits positions + an md5 of the chunk text (the
    * driver-hashable digest form). */
  def docChunk(spark: SparkSession, dir: String,
      win: Int = 64, stride: Int = 32): DataFrame =
    chunkOf(Tables.load(spark, dir, "documents"), win, stride)
      .orderBy("doc_id", "chunk_idx")

  /** Driver key `dedup_chunks`: exact dedup at the CHUNK grain — the
    * retrieval-store step downstream of [[docChunk]]: identical chunks
    * (boilerplate, shared passages, exact-dup documents sliced on the
    * same stride) would embed and be retrieved once per copy, so the
    * store keeps the corpus-first occurrence of every repeated chunk
    * digest and drops the rest. Output is the duplicate-group summary:
    * each repeated `chunk_md5` with its canonical (first-seen by
    * (doc_id, chunk_idx)) location and copy count. Token joins are
    * injective (tokens carry no whitespace), so a shared digest means
    * identical token content — `n_chunk_tokens` is group-constant.
    * Scale shape: one hash groupBy on the digest (map-side
    * combinable), the [[graft.query.TextSim]] exact-dedup pattern one
    * grain down. */
  def dedupChunks(spark: SparkSession, dir: String,
      win: Int = 64, stride: Int = 32): DataFrame =
    chunkOf(Tables.load(spark, dir, "documents"), win, stride)
      .groupBy("chunk_md5")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("c"),
        count(lit(1)).as("n_copies"),
        min(col("n_chunk_tokens")).as("n_chunk_tokens"))
      .filter(col("n_copies") >= 2)
      .select(col("chunk_md5"), col("c.doc_id").as("canon_doc_id"),
        col("c.chunk_idx").as("canon_chunk_idx"), col("n_copies"),
        col("n_chunk_tokens"))
      .orderBy("chunk_md5")

  /** [[docChunk]]'s core over any (doc_id, text) frame — per-row
    * stateless column algebra, so the SAME plan runs on a batch frame
    * and inside a streaming micro-batch (the chunk store's delivery
    * leg, [[graft.streaming.DeliveryStore.chunk]]). No ordering here: a
    * stream cannot globally sort; the batch key adds its presentation
    * ORDER BY on top. */
  def chunkOf(docs: DataFrame, win: Int = 64, stride: Int = 32)
      : DataFrame = {
    require(stride > 0 && stride <= win,
      s"stride must be in (0, win]: stride=$stride win=$win")
    docs
      .withColumn("toks", TextSim.tokens(col("text")))
      // size guard inside the generator (CASE → null → zero rows), not
      // a filter: the TextSim.textWinnowOf pushed-predicate rationale
      .select(col("doc_id"),
        explode(expr("CASE WHEN size(toks) > 0 THEN " +
          s"sequence(0, size(toks) - 1, $stride) END"))
          .as("chunk_start"),
        col("toks"))
      .withColumn("chunk", expr(s"slice(toks, chunk_start + 1, $win)"))
      .withColumn("n_chunk_tokens", size(col("chunk")).cast("long"))
      .filter(col("chunk_start") === 0 ||
        col("n_chunk_tokens") > (win - stride))
      .select(col("doc_id"),
        // integer division: `/` would be double-divide-then-truncate,
        // exact only while chunk_start is a stride multiple
        expr(s"chunk_start DIV $stride").as("chunk_idx"),
        col("chunk_start").cast("long"),
        col("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
  }
}
