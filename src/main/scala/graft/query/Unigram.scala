package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.UnigramEncodeWord
import org.apache.spark.sql.graftbridge.Bridge

/** Unigram-LM tokenizer TRAINING + ENCODE over the documents table —
  * the second trained tokenizer family beside [[Bpe]]. Public
  * algorithm: Kudo, "Subword Regularization: Improving Neural Network
  * Translation Models with Multiple Subword Candidates", ACL 2018 (the
  * SentencePiece unigram model): seed a large candidate piece set,
  * EM-fit piece probabilities under the "word = any tiling by pieces"
  * mixture (E-step = forward-backward over each word's segmentation
  * lattice, M-step = normalized expected counts), prune to the target
  * vocabulary, encode by Viterbi.
  *
  * Scale shape — the same two-grain split as [[Bpe]]:
  *   - the DISTRIBUTED step collapses the corpus to its (word, count)
  *     vocabulary: one explode + one hash aggregation, the only pass
  *     that sees 100 TB;
  *   - the EM LOOP runs on the collected capped vocabulary — model
  *     grain (`maxVocab` bounds the collect by construction; the
  *     driver holds ≤ V short strings plus a ≤ seed-size piece table,
  *     never corpus data). T iterations of forward-backward over V
  *     words is driver arithmetic — kilobytes of model state;
  *   - ENCODE is distributed again at VOCAB grain: distinct words are
  *     Viterbi-segmented once ([[UnigramEncodeWord]]), broadcast, and
  *     joined back to the exploded corpus.
  *
  * Determinism (the key's contract): words iterate in sorted order,
  * piece sums accumulate in sorted order, transcendentals are
  * `StrictMath`, and the M-step quantizes log-probs to Long micro-nats
  * — so the learned piece table is a pure function of the corpus,
  * bit-stable across runs, partitionings, and platforms. Pruning is
  * by expected count with (count desc, piece asc) ties — a documented
  * simplification of Kudo's likelihood-loss pruning (§3.2 step 3);
  * single characters are always kept so encoding stays total. */
object Unigram {

  /** Trained model: pieces with quantized log-probs (micro-nats), the
    * unseen-char floor score, and the per-EM-round corpus
    * log-likelihood history (for the monotonicity theorem). */
  final case class Model(pieces: Seq[(String, Long)], floor: Long,
      llHistory: Seq[Double])

  private val modelMemo = new graft.core.Caches.Keyed[String, Model]

  /** The learned model for `dir`'s documents corpus, memoized per
    * session. */
  def model(spark: SparkSession, dir: String, maxVocab: Int = 10000,
      seedSize: Int = 3000, maxPieceLen: Int = 6, emIters: Int = 4,
      keepSize: Int = 1500): Model =
    modelMemo.get(spark,
        s"$dir|$maxVocab|$seedSize|$maxPieceLen|$emIters|$keepSize") {
      // vocabulary from the persisted O(delta) count store —
      // bit-identical to the direct corpus scan (VocabStoreSpec), so
      // the trained model (and tokenize_unigram_contract's hash) is
      // unchanged by the indirection
      trainFromVocab(
        VocabStore.cappedVocab(spark, dir, maxVocab).sortBy(_._1),
        seedSize, maxPieceLen, emIters, keepSize)
    }

  private def logsumexp(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else {
      val m = math.max(a, b)
      m + StrictMath.log(StrictMath.exp(a - m) + StrictMath.exp(b - m))
    }

  /** Train on any frame with a `text` column. The distributed part is
    * the word count; the EM loop is model-grain driver arithmetic. */
  def train(docs: DataFrame, maxVocab: Int = 10000, seedSize: Int = 3000,
      maxPieceLen: Int = 6, emIters: Int = 4, keepSize: Int = 1500)
      : Model =
    trainFromVocab(
      VocabStore.countsOf(docs)
        .orderBy(col("n").desc, col("w").asc)
        .limit(maxVocab) // caps the collect BY CONSTRUCTION (model grain)
        .collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy(_._1), // deterministic E-step accumulation order
      seedSize, maxPieceLen, emIters, keepSize)

  /** The seed + EM + prune loop over a collected, LEXICOGRAPHICALLY
    * SORTED (word, count) vocabulary — model-grain driver arithmetic
    * shared by the direct and store-backed trainers. */
  private[query] def trainFromVocab(vocab: Array[(String, Long)],
      seedSize: Int, maxPieceLen: Int, emIters: Int, keepSize: Int)
      : Model = {

    // ---- seed: all substrings up to maxPieceLen, occurrence-weighted
    val seedCount = scala.collection.mutable.HashMap[String, Long]()
    vocab.foreach { case (w, n) =>
      var j = 0
      while (j < w.length) {
        var i = j + 1
        while (i <= math.min(w.length, j + maxPieceLen)) {
          val p = w.substring(j, i)
          seedCount.update(p, seedCount.getOrElse(p, 0L) + n)
          i += 1
        }
        j += 1
      }
    }
    val chars = seedCount.keysIterator.filter(_.length == 1).toSeq.sorted
    val multi = seedCount.iterator.filter(_._1.length > 1).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(seedSize).map(_._1).sorted
    var pieces: Seq[String] = (chars ++ multi).sorted
    var logp: Map[String, Double] = {
      val tot = pieces.iterator.map(seedCount(_).toDouble).sum
      pieces.map(p =>
        p -> (StrictMath.log(seedCount(p).toDouble) - StrictMath.log(tot)))
        .toMap
    }

    // ---- EM over the fixed candidate set
    val llHist = scala.collection.mutable.ArrayBuffer[Double]()
    var lastExpected: Map[String, Double] = Map.empty
    (0 until emIters).foreach { _ =>
      val expected = scala.collection.mutable.HashMap[String, Double]()
      var ll = 0.0
      vocab.foreach { case (w, n) =>
        val L = w.length
        val alpha = Array.fill(L + 1)(Double.NegativeInfinity)
        val beta = Array.fill(L + 1)(Double.NegativeInfinity)
        alpha(0) = 0.0
        var i = 1
        while (i <= L) {
          var j = math.max(0, i - maxPieceLen)
          while (j < i) {
            logp.get(w.substring(j, i)).foreach { lp =>
              alpha(i) = logsumexp(alpha(i), alpha(j) + lp)
            }
            j += 1
          }
          i += 1
        }
        beta(L) = 0.0
        var j2 = L - 1
        while (j2 >= 0) {
          var i2 = j2 + 1
          while (i2 <= math.min(L, j2 + maxPieceLen)) {
            logp.get(w.substring(j2, i2)).foreach { lp =>
              beta(j2) = logsumexp(beta(j2), lp + beta(i2))
            }
            i2 += 1
          }
          j2 -= 1
        }
        val z = alpha(L) // finite: single chars are always in the set
        ll += n * z
        var jj = 0
        while (jj < L) {
          var ii = jj + 1
          while (ii <= math.min(L, jj + maxPieceLen)) {
            val p = w.substring(jj, ii)
            logp.get(p).foreach { lp =>
              val post = StrictMath.exp(alpha(jj) + lp + beta(ii) - z) * n
              expected.update(p, expected.getOrElse(p, 0.0) + post)
            }
            ii += 1
          }
          jj += 1
        }
      }
      llHist += ll
      // M-step in sorted-piece order (deterministic double sums),
      // quantized to micro-nats so the next E-step is bit-stable
      val kept = pieces.filter(p => expected.getOrElse(p, 0.0) > 0.0)
      val tot = kept.iterator.map(expected(_)).sum
      logp = kept.map { p =>
        val q = math.round((StrictMath.log(expected(p)) -
          StrictMath.log(tot)) * 1e6)
        p -> q / 1e6
      }.toMap
      pieces = kept
      lastExpected = kept.map(p => p -> expected(p)).toMap
    }

    // ---- prune to the target vocabulary: chars always survive
    val keptChars = pieces.filter(_.length == 1)
    val keptMulti = pieces.filter(_.length > 1)
      .sortBy(p => (-lastExpected(p), p))
      .take(math.max(0, keepSize - keptChars.size))
    val finalPieces = (keptChars ++ keptMulti).sorted
    val tot = finalPieces.iterator.map(lastExpected(_)).sum
    val table = finalPieces.map { p =>
      p -> math.round((StrictMath.log(lastExpected(p)) -
        StrictMath.log(tot)) * 1e6)
    }
    val floor = (table.iterator.map(_._2).min: Long) - 1000000L
    Model(table, floor, llHist.toSeq)
  }

  private def encodeWord(w: Column, m: Model): Column =
    Bridge.column(UnigramEncodeWord(Bridge.expression(w), m.pieces, m.floor))

  /** Per-document piece sequences: (doc_id, toks, pieces) — the
    * vocab-grain encode described in the object doc. */
  private[query] def encodedDocs(spark: SparkSession, dir: String)
      : DataFrame = {
    val m = model(spark, dir)
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("toks", TextSim.tokens(col("text")))
    val words = docs
      .select(TextSim.explodeNonEmpty(col("toks")).as("w")).distinct()
    val segmented = words.select(col("w"), encodeWord(col("w"), m).as("subs"))
    val perDoc = docs
      .select(col("doc_id"),
        TextSim.posexplodeNonEmpty(col("toks")).as(Seq("pos", "w")))
      .join(broadcast(segmented), "w")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("subs"))))
        .as("ps"))
      .select(col("doc_id"), flatten(col("ps.subs")).as("pieces"))
    docs.select("doc_id", "toks").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("pieces"), array().cast("array<string>")).as("pieces"))
  }

  /** tokenize_unigram: per-document token accounting under the learned
    * unigram tokenizer — (doc_id, n_words, n_pieces, compression). No
    * SQL oracle (the piece table is a trained model, not
    * SQL-expressible); hash-gated through [[tilingContract]]. */
  def tokenizeUnigram(spark: SparkSession, dir: String): DataFrame =
    encodedDocs(spark, dir)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        size(col("pieces")).cast("long").as("n_pieces"))
      .withColumn("compression",
        round(col("n_pieces").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double"), 4))
      .orderBy("doc_id")

  /** The hash-gated contract twin (tokenize_unigram_contract): per doc,
    *   - roundtrip_ok: pieces concatenate back to the normalized text
    *     with no marker (unigram pieces TILE each word — Viterbi only
    *     considers exact tilings, so decode = concatenation);
    *   - bounds_ok: n_words ≤ n_pieces ≤ chars (every word is 1..len
    *     pieces).
    * Both are THEOREMS of a correct trainer/encoder, so the oracle is
    * the literal-true row set over `documents`. */
  def tilingContract(spark: SparkSession, dir: String): DataFrame =
    encodedDocs(spark, dir)
      .select(col("doc_id"), col("toks"), col("pieces"))
      .withColumn("chars", aggregate(col("toks"), lit(0L),
        (acc, t) => acc + length(t)))
      .select(col("doc_id"),
        (concat_ws("", col("pieces")) === concat_ws("", col("toks")))
          .as("roundtrip_ok"),
        (size(col("pieces")) >= size(col("toks")) &&
          size(col("pieces")).cast("long") <= col("chars"))
          .as("bounds_ok"))
      .orderBy("doc_id")
}
