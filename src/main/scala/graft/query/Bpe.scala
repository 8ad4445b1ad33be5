package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.BpeEncodeWord
import org.apache.spark.sql.graftbridge.Bridge

/** BPE tokenizer TRAINING + ENCODE over the documents table — the
  * operator `vocab_coverage` is the precursor statistic for (the r13
  * "What's missing #4"). Public algorithm: Sennrich, Haddow & Birch,
  * ACL 2016 — start from characters (+ an end-of-word marker),
  * iteratively merge the most frequent adjacent symbol pair, record
  * the merge order; encoding applies the merges by rank.
  *
  * Scale shape — the two-grain split every model operator here uses:
  *   - the DISTRIBUTED step collapses the corpus to its (word, count)
  *     vocabulary: one explode + one hash aggregation, the only pass
  *     that sees 100 TB;
  *   - the merge LOOP runs on the collected vocabulary — model grain,
  *     like k-means centroids ([[Ivf]]) or the power-iteration vector
  *     ([[PowerIter]]): `maxVocab` caps the collect by construction
  *     (train on the top-V words by frequency — the standard trainer
  *     cap; encoding still handles every word, chars are base
  *     symbols), so the driver holds ≤ V short strings, never corpus
  *     data. K merge iterations over V words is driver arithmetic —
  *     running 200 Spark jobs of vocab-sized shuffles instead would
  *     pay 200 scheduler round-trips to move kilobytes;
  *   - ENCODE is distributed again, at VOCAB grain: the corpus'
  *     distinct words are segmented once ([[BpeEncodeWord]], applied
  *     to the word table), broadcast, and joined back to the exploded
  *     corpus — per-document work is a hash probe, and the 100 TB side
  *     never runs the merge loop.
  *
  * Determinism (the key's contract): pair counts are exact integers;
  * ties break lexicographically on (left, right); the vocabulary cap
  * orders by (count desc, word asc) — so the merge table is a pure
  * function of the corpus, bit-stable across runs and partitionings
  * (BpeSpec trains twice and on a hand-derivable corpus). */
object Bpe {

  /** End-of-word marker (Sennrich §3.2's `</w>`, uppercased): lets a
    * merge learn word-final units distinctly and makes decode
    * unambiguous. The uppercase `W` is load-bearing, not style:
    * [[TextSim.tokens]] lowercases its input, so NO corpus token can
    * contain this string (or any uppercase character), and no
    * concatenation of encoded base symbols can form it across a
    * subword boundary — decode's marker→space replacement therefore
    * matches ONLY true markers and encode∘decode is injective on every
    * legal input, including adversarial text containing a literal
    * lowercase "</w>" (which survives the roundtrip as the four base
    * symbols `<`,`/`,`w`,`>`). */
  val EndOfWord = "</W>"

  private val mergesMemo =
    new graft.core.Caches.Keyed[String, Seq[(String, String)]]

  /** The learned merge table for `dir`'s documents corpus, memoized
    * per session: ordered (left, right) pairs, rank = position. The
    * vocabulary comes from the PERSISTED incrementally-maintained
    * count store ([[VocabStore]]) — a weekly delivery appends its own
    * counts O(delta) and retraining re-reads the word-grain store
    * instead of re-scanning the corpus; the capped vocabulary (and so
    * the merge table) is bit-identical to the direct computation
    * (VocabStoreSpec), which is what keeps tokenize_bpe_contract
    * hash-green through the store. */
  def merges(spark: SparkSession, dir: String, numMerges: Int = 200,
      maxVocab: Int = 10000): Seq[(String, String)] =
    mergesMemo.get(spark, s"$dir|$numMerges|$maxVocab")(
      trainMergesFromVocab(
        VocabStore.cappedVocab(spark, dir, maxVocab), numMerges))

  /** Train on any frame with a `text` column. The distributed part is
    * the word count; the loop is model-grain driver arithmetic. */
  def trainMerges(docs: DataFrame, numMerges: Int = 200,
      maxVocab: Int = 10000): Seq[(String, String)] =
    trainMergesFromVocab(
      VocabStore.countsOf(docs)
        .orderBy(col("n").desc, col("w").asc)
        .limit(maxVocab) // caps the collect BY CONSTRUCTION (model grain)
        .collect().map(r => (r.getString(0), r.getLong(1))),
      numMerges)

  /** The merge loop over a collected (word, count) vocabulary —
    * model-grain driver arithmetic shared by the direct and
    * store-backed trainers. */
  private[query] def trainMergesFromVocab(vocab: Array[(String, Long)],
      numMerges: Int): Seq[(String, String)] = {
    var seqs: Array[(Array[String], Long)] = vocab.map { case (w, n) =>
      (w.map(_.toString).toArray :+ EndOfWord, n)
    }
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var exhausted = false
    while (out.size < numMerges && !exhausted) {
      val counts =
        scala.collection.mutable.HashMap[(String, String), Long]()
      seqs.foreach { case (s, n) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + n)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        // argmax by count; ties lexicographic on (left, right) — the
        // determinism contract
        val best = counts.toSeq.minBy { case ((l, r), n) => (-n, l, r) }._1
        out += best
        seqs = seqs.map { case (s, n) => (mergePair(s, best), n) }
      }
    }
    out.toSeq
  }

  private def mergePair(s: Array[String], p: (String, String))
      : Array[String] = {
    val b = new scala.collection.mutable.ArrayBuffer[String](s.length)
    var i = 0
    while (i < s.length) {
      if (i < s.length - 1 && s(i) == p._1 && s(i + 1) == p._2) {
        b += p._1 + p._2
        i += 2
      } else {
        b += s(i)
        i += 1
      }
    }
    b.toArray
  }

  private def bpeEncodeWord(w: Column,
      merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncodeWord(Bridge.expression(w), merges))

  /** Per-document subword sequences: (doc_id, toks, subwords) — the
    * vocab-grain encode described in the object doc. Total over the
    * corpus: a doc with no tokens gets an empty subword array. */
  private[query] def encodedDocs(spark: SparkSession, dir: String)
      : DataFrame = {
    val m = merges(spark, dir)
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("toks", TextSim.tokens(col("text")))
    val words = docs
      .select(TextSim.explodeNonEmpty(col("toks")).as("w")).distinct()
    val segmented = words.select(col("w"),
      bpeEncodeWord(col("w"), m).as("subs"))
    val perDoc = docs
      .select(col("doc_id"),
        TextSim.posexplodeNonEmpty(col("toks")).as(Seq("pos", "w")))
      .join(broadcast(segmented), "w")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("subs"))))
        .as("ps"))
      .select(col("doc_id"), flatten(col("ps.subs")).as("subwords"))
    docs.select("doc_id", "toks").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("subwords"),
          array().cast("array<string>")).as("subwords"))
  }

  /** tokenize_bpe: per-document token accounting under the learned
    * tokenizer — (doc_id, n_words, n_subwords, compression). No SQL
    * oracle (the merge table is a trained model, not SQL-expressible);
    * hash-gated through [[roundtripContract]]. */
  def tokenizeBpe(spark: SparkSession, dir: String): DataFrame =
    encodedDocs(spark, dir)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        size(col("subwords")).cast("long").as("n_subwords"))
      .withColumn("compression",
        round(col("n_subwords").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double"), 4))
      .orderBy("doc_id")

  /** The hash-gated contract twin (tokenize_bpe_contract): per doc,
    *   - roundtrip_ok: decode(encode(text)) == the normalized text
    *     (lowercased, whitespace-collapsed — the tokenizer's input
    *     normalization), i.e. the segmentation loses nothing;
    *   - bounds_ok: n_words ≤ n_subwords ≤ chars + n_words (every word
    *     is ≥ 1 and ≤ len+1 symbols — a merge can only shrink).
    * Both are THEOREMS of a correct trainer/encoder, so the oracle is
    * the literal-true row set over `documents` — any regression flips
    * a boolean and the DuckDB hash goes red. */
  def roundtripContract(spark: SparkSession, dir: String): DataFrame =
    encodedDocs(spark, dir)
      .select(col("doc_id"), col("toks"), col("subwords"),
        concat_ws(" ", col("toks")).as("norm"))
      .withColumn("decoded",
        trim(regexp_replace(concat_ws("", col("subwords")),
          java.util.regex.Pattern.quote(EndOfWord), " ")))
      .withColumn("chars", aggregate(col("toks"), lit(0L),
        (acc, t) => acc + length(t)))
      .select(col("doc_id"),
        (col("decoded") === col("norm")).as("roundtrip_ok"),
        (size(col("subwords")) >= size(col("toks")) &&
          size(col("subwords")) <= col("chars") + size(col("toks")))
          .as("bounds_ok"))
      .orderBy("doc_id")

  /** Decode a subword array back to text — the spec-side inverse. */
  private[query] def decode(subwords: Seq[String]): String =
    subwords.mkString("").replace(EndOfWord, " ").trim
}
