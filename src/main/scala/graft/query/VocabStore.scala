package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.PersistedIndex

/** Incrementally-maintained tokenizer VOCABULARY store — the r14
  * verdict's gap #2: BPE and unigram-LM training both start from the
  * same distributed (word, count) aggregation, the ONLY pass that sees
  * corpus text; everything after it is model-grain driver arithmetic
  * over ≤ maxVocab words. Re-running that pass on every weekly
  * delivery is O(corpus) per week where the minhash index is O(delta)
  * — so the word counts get the same SnapshotStore treatment:
  *
  *   - base docs' (w, n) counts committed as v0;
  *   - a delivery appends ONLY the delta docs' counts as one O(delta)
  *     manifest commit (count the delivery, never re-read the base);
  *   - retraining reads the store and merges with one WORD-grain
  *     aggregation (counts are exact integers — sum of per-delivery
  *     partials IS the full-corpus count, so the merge is exact at any
  *     number of deliveries, the minhash exactness argument), then
  *     caps to the top-maxVocab words by (count desc, word asc) — the
  *     identical deterministic order the direct trainers use.
  *
  * Scale shape: the store is WORD-grain (vocabulary size, not corpus
  * size); the merge aggregation shuffles deliveries × vocab rows,
  * orders of magnitude under the corpus re-scan it replaces. The
  * capped collect is a model scalar by construction (≤ maxVocab
  * rows). VocabStoreSpec pins merged == full-retrain equality on a
  * two-delivery fixture; the tokenize_bpe/tokenize_unigram contracts
  * stay hash-green THROUGH the store because the capped vocabulary —
  * and therefore the trained model — is bit-identical either way. */
object VocabStore {

  private val Index = new PersistedIndex[DataFrame]("vocab", "V1",
    "documents", "doc_id", PersistedIndex.Store("counts", 2))

  /** (w, n) word counts of any docs frame — one explode + one hash
    * aggregation, the single corpus-sized pass of tokenizer training. */
  private[graft] def countsOf(docs: DataFrame): DataFrame =
    docs.select(explode(TextSim.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n"))

  /** Build-or-load the persisted per-delivery count store and return
    * the MERGED (w, n) frame. Base/delta split is the standard
    * newest-20% delivery model ([[graft.core.Tables.deltaCutoff]]);
    * the delivery counts ONLY the delta's text. One
    * [[PersistedIndex]]: a crashed or racing builder can never publish
    * a half-built or double-appended chain. */
  def mergedCounts(spark: SparkSession, dir: String): DataFrame =
    Index.ensure(spark, dir)(_.baseDelivery()(d => Seq(countsOf(d))))(
      _.read("counts")
        .groupBy("w").agg(sum(col("n")).as("n"))
        .localCheckpoint()) // merge once per session, reuse across
                            // trainer calls and parameterizations

  /** The capped trainer vocabulary from the persisted store — the
    * exact rows the direct `orderBy(n desc, w asc).limit(maxVocab)`
    * computation over the full corpus yields (VocabStoreSpec). */
  def cappedVocab(spark: SparkSession, dir: String, maxVocab: Int)
      : Array[(String, Long)] =
    mergedCounts(spark, dir)
      .orderBy(col("n").desc, col("w").asc)
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
}
