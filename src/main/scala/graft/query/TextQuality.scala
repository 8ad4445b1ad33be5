package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Corpus-curation operators a training-data pipeline runs after dedup
  * (extends SURVEY.md §2 Part B): TF-IDF keyword extraction, Gopher-style
  * quality filtering with drop reasons, and PII redaction. All are pure
  * column algebra / one aggregation pass — codegen-friendly, no UDFs —
  * and each has a DuckDB oracle twin in SparkEntry.
  */
object TextQuality {

  // NOT fanOut here (r20 measured): the consumers are one-aggregation
  // panels whose tokenize cost is smaller than the extra round-robin
  // exchange of full text rows — corpus_stats ×1.9, quality_filter ×2
  // with a blanket fanOut. Heavy per-row paths fan out at their own
  // entries instead.
  private def docsTok(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .withColumn("toks", TextSim.tokens(col("text")))

  /** Per-source corpus panel — the dataset card a data-mix decision
    * reads before setting sampling weights ([[Sampling.sampleMixture]]):
    * document and token volume, exact length quantiles, and language
    * share per source. One hash aggregation over scan-side token
    * counts; at 100 TB the exact percentile swaps for
    * `approx_percentile` (same contract as agg_percentile's note).
    * Deterministic: counts are exact, the quantiles interpolate over
    * integer token counts, ratios derive from exact operands. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    docsTok(spark, dir)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens_total"),
        round(expr("percentile(n_tokens, 0.5D)"), 6).as("p50_tokens"),
        round(expr("percentile(n_tokens, 0.9D)"), 6).as("p90_tokens"),
        round(sum(when(col("lang") === "en", 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("share_en"))
      .orderBy("source")

  /** Per-source document-length histogram — the distribution panel
    * behind "is this crawl slice truncation-heavy?". Buckets are
    * fixed-width (`floor(n_chars / width)`), NOT quantile-based, so
    * the key is pure map-side column algebra + one tiny hash aggregate
    * (cardinality = sources × occupied buckets); an equi-depth
    * histogram would need a global sort. Both engines compute the
    * bucket as floor over float division of exact integers — exact for
    * any n_chars < 2^52. */
  def corpusHist(spark: SparkSession, dir: String, width: Int = 50)
      : DataFrame =
    Tables.load(spark, dir, "documents")
      .groupBy(col("source"),
        floor(col("n_chars") / lit(width)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy("source", "bucket")

  /** Wide→long reshape (unpivot/melt): the per-source stats panel as
    * (source, metric, value) rows — the shape dashboards and metric
    * stores ingest. Uses the native `Dataset.unpivot` (Expand node, one
    * scan-side row-multiply by the metric count — NOT a union of N
    * re-scans). All measures are cast to double BEFORE the reshape so
    * the long column has one type; avg is exact-sum / count, division
    * done identically in the oracle. */
  def corpusMelt(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.load(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).cast("double").as("n_docs"),
        sum(col("n_chars")).cast("double").as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1)))
          .as("avg_chars"))
    wide.unpivot(Array(col("source")),
        Array(col("n_docs"), col("total_chars"), col("avg_chars")),
        "metric", "value")
      .orderBy("source", "metric")
  }

  /** Budget-constrained curation: per source, admit documents in
    * quality order (ties by doc_id) until the source's cumulative token
    * count reaches `budget` — "give me the best N tokens per domain",
    * the data-selection step between quality scoring and training-mix
    * sampling. One window over (source), ordered by the ALREADY-ROUNDED
    * quality score, so the admission order is the cross-engine parity
    * surface itself. At 100 TB the per-source window partitions by
    * source; no global ordering exists anywhere. */
  def curateBudget(spark: SparkSession, dir: String, budget: Long = 800)
      : DataFrame = {
    val stats = TextSim.textStats(spark, dir)
      .select("doc_id", "n_words", "quality_score")
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "source")
    val w = Window.partitionBy("source")
      .orderBy(col("quality_score").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(stats, "doc_id")
      .withColumn("cum_tokens", sum(col("n_words")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select("source", "doc_id", "quality_score", "n_words", "cum_tokens")
      .orderBy("source", "doc_id")
  }

  /** End-to-end curation pipeline — the five stages a pretraining corpus
    * actually goes through, composed as ONE lazy plan (no intermediate
    * writes, no driver barriers between stages):
    *
    *   1. quality gate   — [[qualityFilter]]'s Gopher rules (keep only
    *                       `reason = ok`)
    *   2. canonical dedup — first doc per [[TextSim.canonicalMd5]] group
    *                       among the quality survivors
    *   3. decontamination — drop the eval split itself (doc_id % 50 = 0)
    *                       and any training doc sharing ≥2 distinct
    *                       4-gram shingles with an eval doc
    *                       ([[TextSim.decontaminate]] reused as-is)
    *   4. mixture sampling — per-source hash-threshold rates
    *                       ([[Sampling.sampleMixture]]'s thresholds)
    *   5. sequence packing — per-source capacity bins
    *                       ([[Sampling.packSequences]]'s window)
    *
    * Stage order is semantic, not incidental: dedup picks its canonical
    * representative among quality-passing docs, decontamination sees the
    * deduped corpus, and packing bins only the final survivors. Scale
    * shape: stages 1 and 4 are scan-side predicates; stage 2 is one
    * hash-partitioned window; stage 3 is a broadcast anti-join (the
    * contaminated-id set is benchmark-sized, MBs against a TB corpus);
    * stage 5 is one per-source window. Total: two shuffles on the big
    * side plus the broadcast — five jobs' worth of curation in one
    * pipeline. */
  def curateE2e(spark: SparkSession, dir: String,
      capacity: Int = 2048): DataFrame =
    curateE2eOf(Tables.load(spark, dir, "documents"), capacity)

  /** [[curateE2e]]'s core over any (doc_id, source, text) frame (the
    * scaled-copy harness [[graft.Scale]] runs it on replicated
    * corpora, where canonical dedup collapses the replicas). */
  def curateE2eOf(docs: DataFrame, capacity: Int = 2048): DataFrame = {
    // stage 1: quality gate — the SAME rule definition qualityFilter
    // serves ([[withQualitySignals]]), keep ⇔ reason = ok
    val kept = withQualitySignals(
        docs.withColumn("toks", TextSim.tokens(col("text"))))
      .filter(col("reason") === "ok")
      .withColumn("n_tokens", col("n_words"))
      .drop("n_words", "distinct_ratio", "top_token_ratio", "reason")
    // stage 2: canonical dedup among the survivors
    val wDedup = Window.partitionBy("canon_md5").orderBy(col("doc_id").asc)
    val deduped = kept
      .withColumn("canon_md5", TextSim.canonicalMd5(col("text")))
      .withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1)
    // stage 3: decontamination (contaminated ids from the SAME operator
    // users run standalone; eval split leaves the training corpus too)
    val contaminated = TextSim.decontaminateOf(docs)
      .select("doc_id").distinct()
    val clean = deduped
      .filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    // stage 4: mixture sampling — sampleMixture's threshold table
    val mixed = clean.filter(
      md5(col("doc_id").cast("string")) < Sampling.mixtureThreshold)
    // stage 5: pack the survivors — packSequences' bin algebra
    Sampling.packBins(mixed, capacity)
      .orderBy("source", "doc_id")
  }

  /** The curation pipeline ON THE SCALE PATH — [[curateE2e]]'s five
    * stages plus the near-duplicate CLUSTER stage, wired through the
    * banded-minhash edge source end-to-end:
    *
    *   1. canonical dedup  — exact/whitespace-case collapse FIRST (it
    *                        deletes the quadratic mass before any
    *                        pairwise stage runs — the SCALE.md
    *                        decade-audit lesson)
    *   2. near-dup cluster — [[TextSim.dedupMinhashOf]] verified pairs
    *                        (Jaccard ≥ 0.8) over the survivors →
    *                        [[Cluster.connectedComponents]] → keep each
    *                        component's minimum doc_id. Banding bounds
    *                        the candidate fan-out by construction — no
    *                        DF-cap knob to outgrow at ×10 and beyond
    *   3. quality gate     — the Gopher rules (reason = ok)
    *   4. decontamination  — eval split + ≥2-shared-4-gram docs out
    *   5. mixture sampling — per-source hash thresholds
    *   6. sequence packing — per-source capacity bins
    *
    * One lazy plan end-to-end except the cluster stage's log-round
    * star loop (bounded by O(log n) rounds on the LINKED subgraph
    * only). Scale shape: stage 1 is one hash window; stage 2 is the
    * banded pipeline (signatures linear in corpus, pairs bounded by
    * banding) plus CC on near-dup mass; stages 3–6 as [[curateE2eOf]].
    */
  def curateFull(spark: SparkSession, dir: String,
      capacity: Int = 2048): DataFrame =
    curateFullOf(Tables.load(spark, dir, "documents"), capacity,
      pairsOf = Some(indexPairs(spark, dir)))

  /** [[curateFull]]'s core over any (doc_id, source, text) frame (the
    * decade harnesses run it on generated corpora).
    *
    * `scrubSpans` (optional, off by default to keep the long-standing
    * curate_full hash): after doc-grain dedup picks its
    * representatives, rewrite each survivor's text through the
    * substring-grain removal stage ([[TextSim.dedupSubstringApplyOf]]
    * — keep the corpus-first occurrence of every duplicated gram run,
    * cut the rest), so the quality gate, token counts and packing all
    * operate on span-deduplicated text — the full Lee-'22 pipeline
    * placement (doc dedup first, then substring dedup among
    * survivors). CurateScrubSpec pins the composition law. */
  /** curate_scrub: [[curateFullOf]] with the substring-grain scrub
    * stage ON — the complete Lee-'22 pipeline (doc-grain dedup, then
    * span removal among survivors, then quality/decontaminate/mix/
    * pack), hash-gated by its own composed DuckDB oracle. */
  def curateScrub(spark: SparkSession, dir: String,
      capacity: Int = 2048): DataFrame =
    curateFullOf(Tables.load(spark, dir, "documents"), capacity,
      scrubSpans = true, pairsOf = Some(indexPairs(spark, dir)))

  /** Dir-level pair source for the chain: the PERSISTED minhash index
    * filtered to the canonical survivors
    * ([[MinhashIndex.starPairsFromIndex]] — bit-identical to the
    * recompute, CurateIndexSpec). */
  private def indexPairs(spark: SparkSession, dir: String)
      : DataFrame => DataFrame =
    canon => MinhashIndex.starPairsFromIndex(spark, dir,
      canon.select("doc_id"), threshold = 0.8)

  def curateFullOf(docs: DataFrame, capacity: Int = 2048,
      scrubSpans: Boolean = false,
      pairsOf: Option[DataFrame => DataFrame] = None): DataFrame = {
    // stage 1: canonical dedup over the raw corpus
    val wDedup = Window.partitionBy("canon_md5").orderBy(col("doc_id").asc)
    val canon = docs
      .withColumn("canon_md5", TextSim.canonicalMd5(col("text")))
      .withColumn("rn", row_number().over(wDedup))
      .filter(col("rn") === 1)
      .drop("canon_md5", "rn")
    // stage 2: banded-minhash near-dup clustering among the survivors;
    // each component keeps its minimum doc_id (label-blocked docs that
    // never banded together stay — banding completeness at the 0.8 bar
    // is the dedup_minhash_recall contract)
    // star-bounded candidates: the closure consumes connectivity only,
    // so degenerate buckets cost O(B) edges, not O(B²) pairs
    val pairs = pairsOf.getOrElse((c: DataFrame) =>
      TextSim.dedupMinhashStarOf(c, threshold = 0.8))(canon)
    val labels = Cluster.connectedComponents(
      pairs.select(col("d1").as("src"), col("d2").as("dst")))
    val reps0 = canon.join(labels, Seq("doc_id"), "left")
      .filter(coalesce(col("cluster"), col("doc_id")) === col("doc_id"))
      .drop("cluster")
    // stage 2.5 (optional): substring-grain span removal among the
    // representatives — the scrub stage already holds each survivor's
    // kept token array, so the quality gate consumes THAT directly
    // instead of rebuilding cleaned_text only to re-split it
    // (hash-neutral: tokens(concat_ws(" ", toks)) == toks —
    // [[TextSim.substringKeptToksOf]]); doc set unchanged
    val reps =
      if (!scrubSpans)
        reps0.withColumn("toks", TextSim.tokens(col("text")))
      else {
        // materialize the survivors once: the apply stage references
        // its input three times (gram side, position side, total
        // join), and each reference would otherwise re-run the
        // stage-1 canonical window (the Ivf localCheckpoint precedent).
        // fanOut AFTER the checkpoint (r20): the checkpoint freezes the
        // AQE-coalesced partitioning — locally ONE partition, which
        // serialized the gram stages (profiled 1.1 s + 0.85 s single-
        // task); post-checkpoint the partition count is the REAL one,
        // so at scale (>= parallelism partitions) this is a no-op
        val survivors = Tables.fanOut(reps0.localCheckpoint())
        survivors.drop("text").join(
          TextSim.substringKeptToksOf(survivors)
            .select(col("doc_id"), col("toks")),
          Seq("doc_id"))
      }
    // stages 3-6: exactly curateE2eOf's algebra over the representatives
    val kept = withQualitySignals(reps)
      .filter(col("reason") === "ok")
      .withColumn("n_tokens", col("n_words"))
      .drop("n_words", "distinct_ratio", "top_token_ratio", "reason")
    val contaminated = TextSim.decontaminateOf(docs)
      .select("doc_id").distinct()
    val clean = kept
      .filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    val mixed = clean.filter(
      md5(col("doc_id").cast("string")) < Sampling.mixtureThreshold)
    Sampling.packBins(mixed, capacity)
      .orderBy("source", "doc_id")
  }

  /** The weekly delivery curated INCREMENTALLY (curate_delta): the
    * delta docs (newest ~20% of doc_ids, [[graft.core.Tables.deltaCutoff]])
    * flow through the whole curation pipeline WITHOUT re-processing
    * the base corpus —
    *   1. canonical first-wins: a delta doc is dropped if its
    *      canonical form already exists anywhere older — a delta-vs-
    *      store check against the PERSISTED canon postings maintained
    *      beside the minhash index ([[canonKeptDelta]]: only the
    *      delivery's text is canonicalized, the corpus side is a
    *      broadcast-probed two-column posting scan);
    *   2. near-dup: a delta doc is dropped if the PERSISTED banded
    *      index reports any ≥ 0.8 pair with an older doc
    *      ([[MinhashIndex.dedupMinhashDelta]] — the online dedup
    *      policy: the newer member yields, no base re-clustering);
    *   3–6. quality gate, eval-split decontamination, mixture
    *      sampling, sequence packing — [[curateFullOf]]'s algebra over
    *      the delivery's survivors only, producing the delivery's own
    *      packed training shard.
    * Per-delivery cost is O(delta + candidates) on the dedup side —
    * the reference's weekly cadence composed end-to-end on the
    * incremental path. */
  def curateDelta(spark: SparkSession, dir: String,
      capacity: Int = 2048): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val cut = Tables.deltaCutoff(docs, "doc_id")
    val canonKept = canonKeptDelta(spark, dir, docs, cut)
    // stage 2: the index's verified delta pairs; the newer side yields
    val dupNewer = MinhashIndex.dedupMinhashDelta(spark, dir)
      .select(col("d2").as("doc_id")).distinct()
    val reps = canonKept.join(dupNewer, Seq("doc_id"), "left_anti")
    deltaTail(docs, reps, capacity)
  }

  /** curate_scrub_delta: the INCREMENTAL pipeline with the
    * substring-grain scrub stage — [[curateDelta]]'s doc-grain stages
    * (canonical first-wins vs the persisted canon postings, near-dup
    * drop vs the persisted minhash index), then each surviving
    * delivery doc's text is span-cleaned against the PERSISTED base
    * gram store ([[SubstringIndex.cleanDeltaAgainst]]: base-seen gram
    * runs are cut, delivery-internal duplicated runs keep their first
    * occurrence), then the quality gate / token accounting / packing
    * run on the scrubbed text. Per-delivery cost stays O(delta +
    * candidates): no base text is re-read on ANY stage — the complete
    * Lee-'22 pipeline in the weekly-delivery regime, under its own
    * composed end-to-end DuckDB oracle. */
  def curateScrubDelta(spark: SparkSession, dir: String,
      capacity: Int = 2048): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val cut = Tables.deltaCutoff(docs, "doc_id")
    val canonKept = canonKeptDelta(spark, dir, docs, cut)
    val dupNewer = MinhashIndex.dedupMinhashDelta(spark, dir)
      .select(col("d2").as("doc_id")).distinct()
    // materialized once: the span-removal stage references the
    // survivors four times (gram-stats side, probe side, position
    // side, total join), each of which would re-run the store-probe
    // anti-joins (the curateFullOf scrub-branch checkpoint)
    val reps0 = Tables.fanOut(
      canonKept.join(dupNewer, Seq("doc_id"), "left_anti")
        .localCheckpoint()) // post-checkpoint fanOut: the curateFullOf
                            // scrub-branch rationale (no-op at scale)
    // stage 2.5: span removal among the delivery survivors, probed
    // against the persisted pre-delivery gram store — kept token
    // arrays flow straight into the quality gate (single tokenize:
    // the curateFullOf scrub-branch argument)
    val reps = reps0.drop("text").join(
      SubstringIndex.cleanDeltaKeptToks(reps0,
          SubstringIndex.baseGrams(spark, dir), gramLen = 5)
        .select(col("doc_id"), col("toks")),
      Seq("doc_id"))
    deltaTail(docs, reps, capacity)
  }

  /** Stages 3–6 of the incremental pipeline (quality gate on the
    * delivery survivors, eval-split + contamination drop, mixture
    * sampling, sequence packing) — shared by [[curateDelta]] and
    * [[curateScrubDelta]]. */
  private def deltaTail(docs: DataFrame, reps: DataFrame,
      capacity: Int): DataFrame = {
    // the scrub path arrives pre-tokenized (kept arrays from the span
    // removal stage); the plain path tokenizes its survivors here
    val withToks =
      if (reps.columns.contains("toks")) reps
      else reps.withColumn("toks", TextSim.tokens(col("text")))
    val kept = withQualitySignals(withToks)
      .filter(col("reason") === "ok")
      .withColumn("n_tokens", col("n_words"))
      .drop("n_words", "distinct_ratio", "top_token_ratio", "reason")
    val contaminated = TextSim.decontaminateOf(docs)
      .select("doc_id").distinct()
    val clean = kept
      .filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    val mixed = clean.filter(
      md5(col("doc_id").cast("string")) < Sampling.mixtureThreshold)
    Sampling.packBins(mixed, capacity)
      .orderBy("source", "doc_id")
  }

  /** curate_delta's stage 1 — canonical first-wins over the DELIVERY
    * against the PERSISTED canon postings
    * ([[MinhashIndex.canonPostings]]: (doc_id, canon_md5), maintained
    * beside the minhash index as O(delta) appends). Only the delta's
    * text is canonicalized; the corpus side is a broadcast-probed scan
    * of the two-column posting store — no full-corpus text read, no
    * store-side shuffle (the delivery's distinct canon keys broadcast,
    * the store streams through the join, and the per-canon min runs on
    * the matched sliver only). A delta doc is kept iff it IS the
    * store's first (min doc_id) holder of its canonical form — exactly
    * the full-corpus rank-1 condition, since the store spans
    * base∪delta (CurateDeltaSpec ties the two forms; the plan audit
    * pins the no-full-text-scan shape). */
  private[graft] def canonKeptDelta(spark: SparkSession, dir: String,
      docs: DataFrame, cut: Long): DataFrame = {
    val deltaCanon = docs.filter(col("doc_id") >= cut)
      .withColumn("canon_md5", TextSim.canonicalMd5(col("text")))
    val store = MinhashIndex.canonPostings(spark, dir)
    val first = store
      .join(broadcast(deltaCanon.select("canon_md5").distinct()),
        Seq("canon_md5"))
      .groupBy("canon_md5").agg(min("doc_id").as("__first_id"))
    deltaCanon.join(first, Seq("canon_md5"), "left")
      .filter(col("__first_id").isNull ||
        col("__first_id") === col("doc_id"))
      .drop("canon_md5", "__first_id")
  }

  /** TF-IDF keyword extraction: top 5 terms per document.
    *
    * tf = in-document term count, df = document frequency, N = corpus
    * size; score = tf · ln(N/df), ranked by the ROUNDED score (token as
    * tie-break) — the rounded value is already the cross-engine parity
    * surface (it is an output column), so ranking on it adds no new
    * portability risk, and corpus-ubiquitous terms (score 0) sink
    * instead of outranking distinctive ones. Shape at scale: one
    * explode + two hash aggregations (doc-term, then term df) + a
    * per-doc top-k window — everything partitions by doc or term, no
    * cross product. */
  def textTfidf(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs = docsTok(spark, dir)
    val n = docs.count() // corpus size: one cached-scan count, a model scalar
    // tf is referenced TWICE (the df aggregate derives from it AND it
    // is the join's probe side), and each reference re-ran the
    // tokenize + explode scan. Materialize it once: tf is the
    // AGGREGATED doc-term matrix (unique (doc, token) rows — strictly
    // smaller than the exploded token stream), the cheapest frame on
    // this path to pin. At scale this trades one corpus re-tokenize
    // for a doc-term-matrix materialization (the dedup-chain
    // localCheckpoint precedent for multiply-referenced frames).
    val tf = docs
      .select(col("doc_id"),
        TextSim.explodeNonEmpty(col("toks")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("token").asc)
    // df is vocabulary-sized (tiny next to the doc-term matrix):
    // broadcast it so the big side never shuffles for this join
    tf.join(broadcast(df), "token")
      .withColumn("tfidf",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("df"), col("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** CCNet-style language-model quality signal: per-document mean
    * unigram SURPRISAL in bits — avg over the doc's token occurrences
    * of −log2(count(token)/T) under the corpus' own unigram
    * distribution (T = corpus token count). Low = templated/common
    * text, high = rare-token text; the perplexity-filter signal of
    * CCNet/RedPajama computed with the corpus itself as the LM (no
    * external model in the sandbox — the plan shape is identical with
    * a real LM's broadcast table).
    *
    * Cross-engine determinism: floating-point sums are
    * order-sensitive, so the per-doc fold runs over the SORTED count
    * list via the sequential `aggregate` HOF — the oracle mirrors with
    * list_sort + list_reduce, making the operation order identical on
    * both engines (the residual last-ulp log2 risk is the accepted
    * [[textTfidf]] precedent). Shape at scale: one token-grain
    * aggregate for the frequency table (vocabulary-sized → broadcast),
    * one doc-grain aggregate — same class as tfidf, no cross product. */
  def textSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsTok(spark, dir)
    // The token stream is referenced THREE times per pass (the `total`
    // scalar action, the broadcast freq build inside the join, and the
    // probe side) — without a pin each reference re-runs the tokenize
    // scan (measured ×1.3 at sf0.1). Pin the DOC-GRAIN tokenized frame,
    // not the exploded occurrence stream (r20 advice): the array form
    // is the strictly smaller materialization (no per-token doc_id/row
    // overhead), each reference re-explodes from it — a cheap codegen
    // Generate — and the pinned bytes stay doc-grain at 100 TB where
    // the exploded pin would be the largest frame on the path.
    val docsPinned = docs.select(col("doc_id"), col("toks"))
      .localCheckpoint()
    val occ = docsPinned
      .select(col("doc_id"), explode(col("toks")).as("token"))
    val freq = occ.groupBy("token").agg(count(lit(1)).as("c"))
    // corpus token count: a model scalar (the tfidf `n` convention)
    val total = freq.agg(sum("c")).first().getLong(0)
    occ.join(broadcast(freq), "token")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("c"))).as("cs"))
      .select(col("doc_id"), size(col("cs")).cast("long").as("n_tokens"),
        round((size(col("cs")) * log2(lit(total.toDouble)) -
          expr("aggregate(cs, CAST(0.0 AS DOUBLE), " +
            "(a, x) -> a + log2(CAST(x AS DOUBLE)))")) /
          size(col("cs")), 6).as("avg_bits"))
      .orderBy("doc_id")
  }

  /** CCNet's actual filter signal (Wenzek et al. '19 §4.3): per-document
    * PERPLEXITY under a trained n-gram language model — here a bigram LM
    * with add-one smoothing trained on the corpus itself (the sandbox
    * stand-in for KenLM's out-of-band model; the plan shape with an
    * external model is the same minus the two count aggregations).
    * Unlike [[textSurprisal]] this is a CONDITIONAL model:
    *   p(w2 | w1) = (c(w1,w2) + 1) / (c(w1) + V),
    * c = corpus counts, V = vocabulary size — so templated text scores
    * low even when its tokens are individually rare, which is exactly
    * why CCNet filters on perplexity rather than unigram frequency.
    *
    * Shape at scale: bigram counts are one explode + one hash
    * aggregation; the per-pair probability lookup joins the bigram
    * stream to its OWN count table keyed on (w1,w2) — a shuffle join
    * on the bigram key, NOT a broadcast (at 100 TB the bigram table is
    * itself corpus-sized; only the vocabulary-sized unigram table
    * broadcasts). Doc-grain fold is one aggregation.
    *
    * Cross-engine determinism (the [[textSurprisal]] convention): the
    * two counts of each pair are packed into one bigint
    * (c(w1)·2³¹ + c(w1,w2) — counts are < 2³¹ by the fixture bound,
    * documented, not checked), the per-doc list is SORTED, and the
    * bits fold runs sequentially over it in both engines. ppl rounds
    * the power of the already-rounded avg_bits. */
  def textPerplexity(spark: SparkSession, dir: String): DataFrame =
    textPerplexityOf(docsTok(spark, dir))

  /** [[textPerplexity]]'s core over any frame carrying (doc_id, toks)
    * — the LM trains on exactly the frame it scores. */
  private[query] def textPerplexityOf(docs: DataFrame): DataFrame = {
    val occ = docs.select(col("doc_id"),
      TextSim.explodeNonEmpty(col("toks")).as("token"))
    val uni = occ.groupBy("token").agg(count(lit(1)).as("cw"))
    // vocabulary size: a model scalar (the tfidf `n` convention)
    val v = uni.count()
    // size guard inside the generator (CASE → null → zero rows), not a
    // filter: the TextSim.textWinnowOf pushed-predicate rationale
    val bg = docs
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(toks) >= 2 THEN " +
          "transform(sequence(0, size(toks) - 2), " +
          "i -> struct(toks[i] AS w1, toks[i + 1] AS w2)) END")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val cbg = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cbg"))
    val perDoc = bg
      .join(cbg, Seq("w1", "w2"))
      .join(broadcast(uni.withColumnRenamed("token", "w1")), Seq("w1"))
      .select(col("doc_id"),
        (col("cw") * lit(1L << 31) + col("cbg")).as("e"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .select(col("doc_id"), size(col("es")).cast("long").as("n_pairs"),
        round(expr(s"aggregate(es, CAST(0.0 AS DOUBLE), (a, e) -> a" +
          s" + log2(CAST(e DIV ${1L << 31} + $v AS DOUBLE))" +
          s" - log2(CAST(e % ${1L << 31} + 1 AS DOUBLE)))") /
          size(col("es")), 6).as("avg_bits"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        col("avg_bits"),
        round(pow(lit(2.0), col("avg_bits")), 4).as("ppl"))
      .orderBy("doc_id")
  }

  /** Gopher-style quality filter: keep/drop with the FIRST failing rule
    * as the reason. Rules (thresholds sit inside the synthetic corpus'
    * observed distribution so every branch is exercised):
    *   too_short      — fewer than 20 words
    *   low_diversity  — distinct-token ratio < 0.45
    *   repetitive     — most-frequent token > 12% of all tokens
    * Pure per-row column algebra — scales as a single projected scan. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    withQualitySignals(docsTok(spark, dir))
      .select(col("doc_id"), col("n_words"), col("distinct_ratio"),
        col("top_token_ratio"), col("reason"),
        (col("reason") === "ok").as("keep"))
      .orderBy("doc_id")

  /** The Gopher rule signals over any frame carrying `toks` — THE
    * single definition of the thresholds (20 / 0.45 / 0.12) and their
    * rounded-ratio comparisons; [[qualityFilter]] and [[curateE2e]]
    * both read `reason` from here, so a threshold change cannot drift
    * between the standalone key and the composed pipeline. */
  private[query] def withQualitySignals(docs: DataFrame): DataFrame = {
    val topTokCount = array_max(transform(array_distinct(col("toks")),
      t => size(filter(col("toks"), x => x === t))))
    // The VERDICT is one self-contained expression with the token
    // array bound ONCE through a single-element transform() lambda:
    // the composed curate keys FILTER on `reason`, and predicate
    // pushdown inlines every alias into the pushed condition — with
    // flat alias-chained definitions that put SEVEN full split/lower
    // evaluations per row into the chain's scan-side Filter (r21 plan
    // audit, the guide §4.4 duplicate-evaluation class); with the
    // lambda binding the pushed predicate tokenizes once. Arithmetic
    // is expression-identical to the flat signal columns below (same
    // casts, same rounds), so `reason` is value-unchanged.
    val reasonOf = (t: Column) => {
      val nW = size(t).cast("long")
      val dR = round(size(array_distinct(t)).cast("double") / nW, 6)
      val tC = array_max(transform(array_distinct(t),
        u => size(filter(t, x => x === u))))
      when(nW < 20, "too_short")
        .when(dR < 0.45, "low_diversity")
        .when(round(tC.cast("double") / nW, 6) > 0.12, "repetitive")
        .otherwise("ok")
    }
    docs
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("distinct_ratio",
        round(size(array_distinct(col("toks"))).cast("double") /
          col("n_words"), 6))
      .withColumn("top_token_ratio",
        round(topTokCount.cast("double") / col("n_words"), 6))
      .withColumn("reason",
        element_at(transform(array(col("toks")), reasonOf), 1))
  }

  /** Repetition signals (the Gopher repetition rules adapted to
    * newline-free corpora): the most-frequent token BIGRAM and the share
    * of bigram slots it covers, plus the distinct-5-gram ratio (how much
    * of the document is recycled phrasing). A doc whose top bigram
    * covers a large share, or whose 5-grams mostly repeat, is
    * boilerplate/spam — these two signals catch what the per-token
    * rules in [[qualityFilter]] miss.
    *
    * Scale shape: ZERO shuffle. The per-doc bigram mode is computed
    * scan-side — sort the doc's bigram array, then a single
    * higher-order `aggregate` finds the longest run (count-desc,
    * gram-asc tie-break falls out of the ascending sort + strict `>`
    * update). No explode, no groupBy: at 100 TB this stays a projected
    * scan, where the explode+count form would shuffle one row per
    * bigram occurrence. Per-row memory is BOUNDED: analysis looks at
    * the first `maxTokens` tokens only (`slice`), so the token, bigram
    * and 5-gram arrays that materialize together per row are capped by
    * construction — an adversarial 10M-token document costs the same as
    * a `maxTokens`-token one. The cap is part of the operator contract
    * and is mirrored in the DuckDB oracle twin (same honesty pattern as
    * [[TextSim.dedupNgram]]'s document-frequency cap). */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOf(Tables.load(spark, dir, "documents"))

  /** Analysis window for [[repetitionOf]]: repetition signals stabilize
    * well before this many tokens; beyond it, more tokens only cost
    * memory. Mirrored in the oracle twin in SparkEntry. */
  val RepetitionMaxTokens = 4096

  /** [[textRepetition]]'s core over any (doc_id, text) frame. */
  def repetitionOf(docs: DataFrame,
      maxTokens: Int = RepetitionMaxTokens): DataFrame = {
    require(maxTokens >= 2, s"maxTokens must be >= 2: $maxTokens")
    // longest run in the sorted bigram list = (count, gram) of the mode;
    // ties keep the lexicographically smallest gram (first in sort order,
    // preserved by the strict > update)
    val mode = expr(
      """aggregate(
        |  array_sort(g2),
        |  struct(cast('' as string) as prev, cast(0 as bigint) as run,
        |         cast(0 as bigint) as best_n, cast('' as string) as best_g),
        |  (acc, x) -> struct(
        |    x as prev,
        |    cast(if(x = acc.prev, acc.run + 1, 1) as bigint) as run,
        |    cast(if(if(x = acc.prev, acc.run + 1, 1) > acc.best_n,
        |           if(x = acc.prev, acc.run + 1, 1), acc.best_n) as bigint)
        |      as best_n,
        |    if(if(x = acc.prev, acc.run + 1, 1) > acc.best_n, x, acc.best_g)
        |      as best_g),
        |  acc -> struct(acc.best_n as n, acc.best_g as g))""".stripMargin)
    docs
      .withColumn("toks", slice(TextSim.tokens(col("text")), 1, maxTokens))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .filter(col("n_tokens") >= 2)
      .withColumn("g2", expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"""
          .stripMargin))
      .withColumn("mode", mode)
      .withColumn("r5", expr(
        """case when size(toks) >= 5 then
          |  cast(size(array_distinct(transform(sequence(1, size(toks) - 4),
          |    i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),
          |      element_at(toks, i + 2), element_at(toks, i + 3),
          |      element_at(toks, i + 4))))) as double) / (size(toks) - 4)
          |end""".stripMargin))
      .select(col("doc_id"), col("n_tokens"),
        col("mode.g").as("top_bigram"),
        col("mode.n").as("top_bigram_n"),
        round(col("mode.n").cast("double") / (col("n_tokens") - 1), 6)
          .as("top_bigram_frac"),
        round(col("r5"), 6).as("distinct_5gram_ratio"))
      .orderBy("doc_id")
  }

  /** PII redaction: count and mask emails / phone numbers / URLs.
    *
    * The synthetic corpus carries no PII, so a deterministic planted
    * suffix (keyed on doc_id) exercises every pattern — the operator
    * itself is the regexp_count/regexp_replace chain, which DuckDB's RE2
    * mirrors token-for-token (patterns restricted to the common regex
    * subset: char classes, quantifiers, alternation — no backrefs or
    * lookaround). One projected scan; at 100 TB this is the cheapest kind
    * of operator there is. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val url = "https?://[^ ]+"
    val planted = concat(col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
        .when(col("doc_id") % 7 === 3,
          lit(" call 555-867-5309 or https://example.com/profile"))
        .otherwise(lit("")))
    Tables.load(spark, dir, "documents")
      .withColumn("pii_text", planted)
      .select(col("doc_id"),
        regexp_count(col("pii_text"), lit(email)).cast("long")
          .as("n_emails"),
        regexp_count(col("pii_text"), lit(phone)).cast("long")
          .as("n_phones"),
        regexp_count(col("pii_text"), lit(url)).cast("long").as("n_urls"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("pii_text"),
          url, "<URL>"), email, "<EMAIL>"), phone, "<PHONE>"))
          .as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Curation drop-lineage audit — for EVERY document, the first
    * pipeline stage that removed it (or `kept`): the provenance record
    * a 100 TB curation run has to emit, because "the corpus shrank 40%"
    * is not actionable until it decomposes into quality / duplicate /
    * eval-split / contamination / sampling shares, per document and per
    * source. Mirrors [[curateE2e]]'s stage ORDER and rule definitions
    * exactly — the reason columns come from the same
    * [[withQualitySignals]] / [[TextSim.canonicalMd5]] /
    * [[TextSim.decontaminateOf]] / [[Sampling.mixtureThreshold]]
    * definitions the pipeline itself runs, so the audit cannot drift
    * from the pipeline it explains.
    *
    * Stage labels, in pipeline order (first hit wins):
    * `too_short` / `low_diversity` / `repetitive` (the quality gate's
    * own reason), `duplicate` (a later canon-group member among quality
    * survivors), `eval_split` (the held-out doc_id % 50 split),
    * `contaminated` (shares ≥2 4-gram shingles with an eval doc),
    * `mixture_sampled_out` (the per-source mixing rate), `kept`.
    *
    * Scale shape: identical to the pipeline it audits — one
    * hash-partitioned window over (canon_md5) for the duplicate rank,
    * one broadcast join against the benchmark-sized contaminated-id
    * set; everything else is scan-side column algebra. The audit of a
    * 100 TB corpus costs one extra join-back over the curation run
    * itself. */
  def curateAudit(spark: SparkSession, dir: String): DataFrame =
    curateAuditOf(Tables.load(spark, dir, "documents"))

  /** [[curateAudit]]'s core over any (doc_id, source, text) frame. The
    * fixture corpus leaves the `duplicate` branch idle at small SFs
    * (canonical twins there are template docs the quality gate rejects
    * first); CurateAuditSpec drives EVERY branch on a constructed
    * corpus. */
  def curateAuditOf(docs: DataFrame): DataFrame = {
    val sig = withQualitySignals(
        docs.withColumn("toks", TextSim.tokens(col("text"))))
      .withColumn("canon_md5", TextSim.canonicalMd5(col("text")))
    // duplicate rank among QUALITY SURVIVORS only (the pipeline dedups
    // after the gate); non-survivors re-acquire null rn via the
    // join-back and are labeled by their own gate reason first
    val surv = sig.filter(col("reason") === "ok")
      .withColumn("rn", row_number().over(
        Window.partitionBy("canon_md5").orderBy(col("doc_id").asc)))
      .select("doc_id", "rn")
    val contaminated = TextSim.decontaminateOf(docs)
      .select("doc_id").distinct()
      .withColumn("is_cont", lit(true))
    sig.select("doc_id", "source", "reason")
      .join(surv, Seq("doc_id"), "left")
      .join(broadcast(contaminated), Seq("doc_id"), "left")
      .withColumn("stage",
        when(col("reason") =!= "ok", col("reason"))
          .when(col("rn") > 1, "duplicate")
          .when(col("doc_id") % 50 === 0, "eval_split")
          .when(col("is_cont").isNotNull, "contaminated")
          .when(md5(col("doc_id").cast("string")) >=
            Sampling.mixtureThreshold, "mixture_sampled_out")
          .otherwise("kept"))
      .select(col("doc_id"), col("source"), col("stage"),
        (col("stage") === "kept").as("kept"))
      .orderBy("doc_id")
  }

  /** Tokenizer-vocabulary coverage — the corpus statistic a BPE/vocab
    * training run starts from: every distinct token with its count,
    * frequency rank, cumulative corpus share, and whether it makes the
    * coverage-cut vocabulary (the smallest frequency-ranked prefix
    * covering ≥ `covPct`% of all token occurrences; the boundary token
    * that crosses the cut is IN — standard vocab-truncation semantics).
    *
    * The membership test is PURE INTEGER — `(cum - cnt) * 100 <
    * covPct * total` (strictly-before-this-token coverage below the
    * bar) — so the flag is exact in both engines; only the reported
    * `cum_share` is a rounded ratio.
    *
    * Scale shape: the corpus-sized work is the map-side-combinable
    * token count (one shuffle, occurrence rows collapse to VOCABULARY
    * grain). The global rank/cumulative windows then run on the
    * collapsed vocab — model-sized by construction (a vocabulary is a
    * global object; ~10⁵–10⁶ rows at any corpus size), the same
    * bounded-model-side reasoning as the IVF centroid table. */
  def vocabCoverage(spark: SparkSession, dir: String,
      covPct: Int = 90): DataFrame =
    vocabCoverageOf(docsTok(spark, dir), covPct)

  /** [[vocabCoverage]]'s core over any frame carrying `toks`. */
  def vocabCoverageOf(docs: DataFrame, covPct: Int = 90): DataFrame = {
    val counts = docs
      .select(TextSim.explodeNonEmpty(col("toks")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val order = Window.orderBy(col("cnt").desc, col("token").asc)
    val cum = order.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    counts
      .withColumn("vocab_rank", row_number().over(order).cast("long"))
      .withColumn("cum_cnt", sum("cnt").over(cum))
      .withColumn("total", sum("cnt").over(all))
      .select(col("token"), col("cnt"), col("vocab_rank"),
        round(col("cum_cnt").cast("double") / col("total"), 6)
          .as("cum_share"),
        ((col("cum_cnt") - col("cnt")) * 100 <
          col("total") * covPct).as("in_vocab"))
      .orderBy("vocab_rank")
  }

  /** Driver key `vocab_drift_check`: the retrain-trigger gauge for the
    * TOKENIZER-vocabulary store — [[graft.query.IndexDrift]]'s role
    * played for [[VocabStore]]: the trained BPE/unigram models freeze a
    * vocabulary at base time, and the signals tokenizer maintainers
    * actually watch are (1) the delivery's OOV MASS (share of delta
    * token occurrences whose token the base never saw — unseen words
    * fragment into long byte sequences and inflate sequence lengths)
    * and (2) occupancy shift among the head tokens (a >5-point share
    * migration re-ranks merges/pieces). Both in exact arithmetic:
    * occ_shift is [[DriftGauge.occShift]], oov_rate a
    * rounded ratio ([[DriftGauge.safeRate]]); thresholds literal so the decision is
    * hash-checkable. `vocab_retrain` = any head-token shift OR
    * oov_rate > 1%.
    *
    * Scale shape: one corpus-sized token count collapsing to VOCAB
    * grain (map-side combinable — the [[vocabCoverage]] pass), a
    * LIMIT-topV head panel, a broadcast 1-row totals frame (the tfidf
    * model-scalar crossJoin shape), and windows over ≤ topV rows. */
  def vocabDriftCheck(spark: SparkSession, dir: String,
      topV: Int = 32): DataFrame = {
    val (base, delta) =
      Tables.deltaSlices(Tables.load(spark, dir, "documents"), "doc_id")
    vocabDriftOf(base, delta, topV)
  }

  /** Driver key `vocab_retrain_apply`: the vocabulary gauge panel
    * after applying its own decision ([[DriftGauge.applied]]; a fired
    * gauge re-runs the trainers over the merged corpus, which
    * [[VocabStore.mergedCounts]] makes incremental). */
  def vocabRetrainApply(spark: SparkSession, dir: String,
      topV: Int = 32): DataFrame =
    DriftGauge.applied(Tables.load(spark, dir, "documents"), "doc_id",
      "vocab_retrain")(vocabDriftOf(_, _, topV))

  /** Frame-parameterized core — specs plant an OOV-heavy delivery
    * through it to flip the flags. Both frames carry (doc_id, text). */
  def vocabDriftOf(base: DataFrame, delta: DataFrame, topV: Int = 32)
      : DataFrame = {
    val toks = DriftGauge.tagged(base, delta)
      .select(col("is_delta"),
        explode(TextSim.tokens(col("text"))).as("w"))
    vocabDriftFromCounts(toks.groupBy("w").agg(
      count(when(!col("is_delta"), lit(1))).as("n_base"),
      count(when(col("is_delta"), lit(1))).as("n_delta")), topV)
  }

  /** The gauge panel from an already-built per-token count table
    * (w, n_base, n_delta) — the stage the STREAMED vocabulary
    * maintainer ([[graft.streaming.DeliveryStore.vocab]]) serves from its
    * persisted stores; [[vocabDriftOf]] is this over one
    * tokenize-and-count pass. */
  def vocabDriftFromCounts(counts: DataFrame, topV: Int = 32)
      : DataFrame = {
    val totals = counts.agg(
      sum(col("n_base")).as("tb"), sum(col("n_delta")).as("td"),
      sum(when(col("n_base") === 0, col("n_delta")).otherwise(lit(0L)))
        .as("oov_occ"),
      count(when(col("n_base") === 0 && col("n_delta") > 0, lit(1)))
        .as("new_tokens"))
    val head = counts.filter(col("n_base") > 0)
      .orderBy(col("n_base").desc, col("w").asc).limit(topV)
    head.crossJoin(broadcast(totals))
      .select(col("w"), col("n_base"), col("n_delta"),
        DriftGauge.occShift(col("n_delta"), col("n_base"),
          col("td"), col("tb")).as("occ_shift"),
        DriftGauge.safeRate(col("oov_occ"), col("td")).as("oov_rate"),
        col("new_tokens"),
        (col("oov_occ") * 100 > col("td")).as("oov_drift"))
      .select(col("*"),
        (DriftGauge.anyRow(col("occ_shift")) || col("oov_drift"))
          .as("vocab_retrain"))
      .orderBy("w")
  }

  /** Learned-quality-filter INFERENCE as pure columnar algebra — the
    * fastText/DCLM-style model-scoring stage that ranks documents by a
    * trained linear classifier over hashed bag-of-words features
    * (hashing trick, Weinberger et al. '09): token → feature bucket via
    * a hash, score = Σ weight(bucket) over token OCCURRENCES, keep ⇔
    * score > 0. The model here is a fixed 256-bucket integer weight
    * table derived deterministically from the bucket id (a stand-in
    * for trained parameters — integer weights keep the score
    * cross-engine exact); swapping in real trained weights is replacing
    * one broadcast table, the plan does not change.
    *
    * Scale shape: the canonical inference plan — explode tokens
    * scan-side, BROADCAST the kilobyte-sized model (a model join must
    * never shuffle the corpus), one map-side-combinable sum per doc.
    * One shuffle on doc_id at 100 TB; the model rides to every executor
    * once. Bucketing via md5's leading byte is the engine-portable
    * stand-in for the tokenizer's real hash — the oracle twin replays
    * it bit-for-bit. */
  def qualityModelScore(spark: SparkSession, dir: String): DataFrame = {
    val model = spark.range(0, 256)
      .select(lpad(lower(hex(col("id"))), 2, "0").as("bucket"),
        ((col("id") % 7) - 3).cast("long").as("weight"))
    Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(TextSim.tokens(col("text"))).as("tok"))
      .withColumn("bucket", substring(md5(col("tok")), 1, 2))
      .join(broadcast(model), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_feats"),
        sum("weight").as("score"))
      .select(col("doc_id"), col("n_feats"), col("score"),
        (col("score") > 0).as("keep"))
      .orderBy("doc_id")
  }

  /** Okapi BM25 relevance scoring (Robertson & Walker '94; the Lucene
    * `ln(1 + (N − df + 0.5)/(df + 0.5))` non-negative idf form):
    * score every matching document against a fixed query term set —
    * the retrieval primitive a curation stack uses for targeted
    * corpus slicing and decontamination triage. k1 = 1.2, b = 0.75
    * (the standard defaults).
    *
    * Shape at scale: one token-grain filtered aggregate for tf (the
    * term filter cuts the explode to query-term occurrences before
    * the shuffle), a term-grain df (query-sized → broadcast), a
    * doc-length frame joined by doc_id, and a doc-grain fold — no
    * cross product, same class as [[textTfidf]]. Cross-engine float
    * parity: per-(doc, term) contributions are a fixed left-to-right
    * arithmetic chain mirrored literally in the oracle, and the
    * per-doc sum folds in sorted term order via the sequential
    * `aggregate` HOF ([[textSurprisal]]'s technique). */
  def textBm25(spark: SparkSession, dir: String,
      terms: Seq[String] = Seq("filter", "join", "stream", "window"),
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), TextSim.tokens(col("text")).as("toks"))
    val dl = toks.select(col("doc_id"),
      size(col("toks")).cast("double").as("dl"))
    val totals = toks.agg(count(lit(1)).cast("double").as("nd"),
      sum(size(col("toks"))).cast("double").as("tt"))
    val tf = toks.select(col("doc_id"),
        TextSim.explodeNonEmpty(col("toks")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("token")
      .agg(count(lit(1)).cast("double").as("df"))
    val contrib = tf.join(broadcast(df), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("c",
        log(lit(1.0) + (col("nd") - col("df") + 0.5) / (col("df") + 0.5)) *
          col("tf") * lit(k1 + 1) /
          (col("tf") +
            lit(k1) * (lit(1 - b) + lit(b) * col("dl") * col("nd") / col("tt"))))
    contrib.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"),
        array_sort(collect_list(struct(col("token"), col("c"))))
          .as("cs"))
      .select(col("doc_id"), col("n_terms"),
        round(aggregate(transform(col("cs"), x => x("c")),
          lit(0.0), (a, v) => a + v), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
  }
}
