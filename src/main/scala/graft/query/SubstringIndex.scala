package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ingest.PersistedIndex

/** Incrementally-maintained SUBSTRING-dedup index — the delta form of
  * [[TextSim.dedupSubstringApply]], completing the delta family
  * (minhash, IVF, PQ, semantic, vocabulary, and now gram-grain): a
  * weekly delivery gets its duplicated spans cut WITHOUT re-tokenizing
  * the base corpus.
  *
  * Store: the base corpus's gram table at GRAM grain — (gh, occ),
  * occurrence counts of every `gramLen`-gram — committed v0; each
  * delivery appends ITS gram counts as one O(delta) manifest commit
  * (the [[VocabStore]] additivity argument: counts merge exactly, so
  * the chain serves any number of deliveries).
  *
  * Removal rule for a DELIVERY position (the batch
  * [[TextSim.dedupSubstringApplyOf]] rule evaluated on delta rows —
  * provably identical to running the batch operator over base ∪ delta
  * and keeping the delta rows, which is exactly how the DuckDB oracle
  * states it and SubstringDeltaSpec pins it):
  *   - a gram PRESENT in the store is duplicated by construction
  *     (base occurrence + this one) and its corpus-first occurrence
  *     lives in the base — every delivery occurrence is non-primary;
  *   - a gram ABSENT from the store is duplicated iff it occurs ≥ 2
  *     times in the delivery; its delivery-first occurrence is the
  *     corpus-first (primary, kept);
  *   - a position is cut iff covered by ≥ 1 duplicated-gram
  *     occurrence and by NO primary occurrence.
  * Base documents are IMMUTABLE under this policy (the
  * dedup_minhash_delta online rule: the newer side yields) — the one
  * divergence from a full batch re-run is that a base position kept
  * as the fresh primary of a newly-duplicated gram never flips base
  * output, because base output is never recomputed.
  *
  * Scale shape: the delivery's grams (O(delta)) are aggregated once
  * at gram grain — count + first occurrence in a single map-side-
  * combinable `min(struct(doc_id, start))`, no per-gram window sort
  * even for a hot delivery-internal gram — and probed against the
  * gram-grain store (vocabulary-sized, not corpus-sized). No base
  * text is read; zero Window operators (SubstringDeltaSpec pins
  * that). */
object SubstringIndex {

  private val Index = new PersistedIndex[DataFrame]("grams", "G1",
    "documents", "doc_id", PersistedIndex.Store("grams", 2))

  /** (doc_id, start, gh) gram occurrences of a docs frame — the
    * [[TextSim.dedupSubstringApplyOf]] gram stage. */
  private[graft] def gramsOf(docs: DataFrame, gramLen: Int): DataFrame =
    docs.withColumn("toks", TextSim.tokens(col("text")))
      // size guard inside the generator (CASE -> null -> zero rows), not
      // a filter: the textWinnowOf pushed-predicate rationale
      .select(col("doc_id"), explode(expr(
        s"""CASE WHEN size(toks) >= $gramLen THEN
           |  transform(sequence(0, size(toks) - $gramLen),
           |    s -> struct(s AS start,
           |      array_join(slice(toks, s + 1, $gramLen), ' ') AS gram))
           |END""".stripMargin)).as("g"))
      .select(col("doc_id"), col("g.start").as("start"),
        xxhash64(col("g.gram")).as("gh"))

  /** (gh, occ) gram occurrence counts of a docs frame — the store's
    * content for one commit, batch or streamed. */
  private[graft] def gramCountsOf(docs: DataFrame, gramLen: Int)
      : DataFrame =
    gramsOf(docs, gramLen).groupBy("gh").agg(count(lit(1)).as("occ"))

  /** Store-free core over any (doc_id, text) frame: clean the delta
    * slice (doc_id ≥ the standard cutoff) against the base slice's
    * gram table. The spec path; [[dedupSubstringDelta]] is the
    * persisted-store form. `baseGrams` is (gh)-grain (distinct). */
  private[graft] def cleanDeltaAgainst(delta: DataFrame,
      baseGrams: DataFrame, gramLen: Int): DataFrame =
    cleanDeltaKeptToks(delta, baseGrams, gramLen)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        concat_ws(" ", col("toks")).as("cleaned_text"))
      .orderBy("doc_id")

  /** [[cleanDeltaAgainst]] stopped before the string rebuild —
    * (doc_id, n_tokens, n_removed, toks) with `toks` the kept token
    * array, consumed directly by
    * [[TextQuality.curateScrubDelta]]'s quality gate (the
    * [[TextSim.substringKeptToksOf]] argument: kept tokens round-trip
    * the rebuild exactly, so skipping it is hash-neutral and saves a
    * re-tokenize pass over every delivery survivor). */
  private[query] def cleanDeltaKeptToks(delta: DataFrame,
      baseGrams: DataFrame, gramLen: Int): DataFrame = {
    val dg = gramsOf(delta, gramLen)
    // delivery-internal count + first occurrence in ONE map-side-
    // combinable aggregate (min(struct) == the rank-1 row under
    // (doc_id, start) order) — the batch stage's de-skewed shape
    // propagated here: no per-gram window sort even for a hot
    // delivery-internal gram
    val stats = dg.groupBy("gh")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("start"))).as("p"))
    val occ = dg
      .join(baseGrams.select(col("gh"), lit(true).as("seen")),
        Seq("gh"), "left")
      .withColumn("seen", coalesce(col("seen"), lit(false)))
      .join(stats, "gh")
      .filter(col("seen") || col("cnt") >= 2) // duplicated grams only
      .withColumn("is_primary",
        !col("seen") && col("doc_id") === col("p.doc_id") &&
          col("start") === col("p.start"))
    val covered = occ
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + gramLen - 1))
          .as("pos"),
        col("is_primary"))
      .groupBy("doc_id", "pos")
      .agg(max(col("is_primary")).as("primary_covered"))
    val cleaned = delta
      .withColumn("toks", TextSim.tokens(col("text")))
      .select(col("doc_id"),
        TextSim.posexplodeNonEmpty(col("toks")).as(Seq("pos", "tk")))
      .join(covered, Seq("doc_id", "pos"), "left")
      .withColumn("removed",
        coalesce(!col("primary_covered"), lit(false)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("removed"), lit(1))).as("n_removed"),
        transform(array_sort(collect_list(
            when(!col("removed"), struct(col("pos"), col("tk"))))),
          k => k("tk")).cast("array<string>").as("toks"))
    delta.select("doc_id").join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("toks"), array().cast("array<string>"))
          .as("toks"))
  }

  /** Build-or-load the persisted gram store (base counts v0, the
    * delivery's counts appended for FUTURE deliveries) and return the
    * BASE-version gram table the current delivery probes. */
  private def ensureStore(spark: SparkSession, dir: String,
      gramLen: Int): DataFrame =
    Index.ensure(spark, dir, gramLen)(
      _.baseDelivery()(d => Seq(gramCountsOf(d, gramLen))))(
      // the probe side is the PRE-delivery state (== the base commit
      // in this two-commit build; under a longer append chain it stays
      // the immediately preceding delivery's state, which is exactly
      // what the next delivery must probe)
      _.previous("grams").localCheckpoint())

  /** The persisted PRE-delivery gram table, exposed for compositions
    * ([[TextQuality.curateScrubDelta]] probes it for the curation
    * pipeline's scrub stage). */
  private[query] def baseGrams(spark: SparkSession, dir: String,
      gramLen: Int = 5): DataFrame =
    ensureStore(spark, dir, gramLen)

  /** Driver key `dedup_substring_delta`: the delivery (doc_id ≥ the
    * standard cutoff) span-cleaned against the persisted base gram
    * store — output grain identical to [[TextSim.dedupSubstringApply]]
    * restricted to delta docs (the oracle states exactly that). */
  def dedupSubstringDelta(spark: SparkSession, dir: String,
      gramLen: Int = 5): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val cut = Tables.deltaCutoff(docs, "doc_id")
    cleanDeltaAgainst(docs.filter(col("doc_id") >= cut),
      ensureStore(spark, dir, gramLen), gramLen)
  }
}
