package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ingest.PersistedIndex

/** Audio-fingerprint dedup (`dedup_audio`) — the WAV sibling of
  * [[Phash]]: find recordings that are the same SIGNAL under container-
  * and mastering-level differences (re-encoded sample width, gain
  * change, DC offset, 2× upsample) that defeat byte-exact dedup.
  *
  * Fingerprint: 64-bit, the Haitsma–Kalker construction shape (robust
  * audio fingerprinting, ICMIR 2002): bit (frame f, band j) = sign of
  * the DOUBLE difference of band energies,
  *   bit = 1  iff  (E(f+1,j) − E(f+1,j+1)) > (E(f,j) − E(f,j+1)).
  * We take 17 frames × 5 bands and define a band's "energy" as the
  * LINEAR SUM of its time-slice samples rather than a spectral
  * magnitude, so the invariance theorems hold in EXACT integer
  * arithmetic and the DuckDB oracle can recompute every hash from the
  * shared sample formula alone:
  *   - gain ×2 (no clip by construction): every cell sum scales ×2,
  *     every strict `>` on the double differences is unchanged;
  *   - DC offset +K: cells are equal-size, so each sum shifts by K·C
  *     and the j-difference cancels it exactly;
  *   - 8-bit re-encode: base samples are exact multiples of 256, so
  *     the width reduction is the linear map x/256 + 128 — positive
  *     scale plus DC, both invariant per the two rules above;
  *   - 2× upsample (sample duplication): frame/band boundaries scale
  *     with n, each cell's sum doubles — positive scale again.
  * So all five variants of a group share one hash; the Spark side must
  * recover it through a genuine WAV encode→sniff→decode roundtrip
  * ([[Multimodal.AudioCodec]], both 16-bit signed and 8-bit unsigned
  * PCM), the oracle recomputes it from the integer formula.
  *
  * Scale shape: per-row codec work in `mapPartitions` (no Catalyst
  * expression parses RIFF), then the SAME 4×16-bit chunk-LSH candidate
  * stage as SimHash/Phash (pigeonhole: hamming ≤ 3 ⇒ some chunk equal
  * — candidates are bucketed, never all-pairs), exact Hamming verify
  * via xor+bit_count.
  */
object AudioFp {

  /** 17 frames × 5 bands × 4 samples per cell. */
  val Frames = 17
  val Bands  = 5
  val Cell   = 4
  val N: Int = Frames * Bands * Cell // 340

  /** Shared base-sample formula, mirrored in the oracle: the SIGNED
    * magnitude m ∈ [−60, 60]; the 16-bit waveform is 256·m (so the
    * 8-bit variant's x/256 + 128 lands exactly on m + 128 ∈ [68,188]).
    * The anchor is mixed through a Knuth multiplicative hash first and
    * the i²/i/i³ coefficients are keyed to the mixed value — a purely
    * additive formula would make every anchor a constant-offset
    * sibling of every other (one giant near-dup cluster); with the
    * keyed polynomial the measured cross-anchor Hamming floor is 8
    * exhaustively over 2000 anchors and ≥10 over 3M sampled pairs of
    * 10k anchors — far above the ≤ 3 dedup bar. */
  def baseMag(anchor: Long, i: Int): Int = {
    val a1 = (anchor * 2654435761L) % 1000003L
    (((a1 + i.toLong * i * (a1 % 97 + 3) + i.toLong * (a1 % 89 + 7) +
      (i.toLong * i * i) % 1009 * (a1 % 83 + 11)) % 121) - 60).toInt
  }

  /** The planted variant of one document: groups of 5 share an anchor
    * waveform; v = doc_id % 5 selects the mastering/container
    * disguise. Returns the encoded WAV bytes. */
  private[multimodal] def variantWav(docId: Long): Array[Byte] = {
    val anchor = docId - docId % 5
    val base = Array.tabulate(N)(i => baseMag(anchor, i) * 256)
    (docId % 5).toInt match {
      case 0 => Multimodal.AudioCodec.encode(8000, 1, base)
      case 1 => // 8-bit re-encode: lossless width reduction (x/256+128)
        Multimodal.AudioCodec.encode8(8000, 1, base.map(_ / 256 + 128))
      case 2 => // gain ×2 — |x| ≤ 15360 so ×2 cannot clip 16-bit
        Multimodal.AudioCodec.encode(8000, 1, base.map(_ * 2))
      case 3 => // DC offset +4096
        Multimodal.AudioCodec.encode(8000, 1, base.map(_ + 4096))
      case _ => // 2× upsample by sample duplication
        Multimodal.AudioCodec.encode(16000, 1,
          Array.tabulate(N * 2)(i => base(i / 2)))
    }
  }

  /** 64-bit H-K-style fingerprint of a decoded mono-folded sample
    * array whose length is an exact multiple of Frames×Bands. */
  private[multimodal] def fingerprint64(samples: Array[Int]): Long = {
    val cells = Frames * Bands
    require(samples.length % cells == 0 && samples.length > 0,
      s"${samples.length} samples not a multiple of $cells")
    val c = samples.length / cells
    val s = Array.tabulate(cells) { ci =>
      var acc = 0L
      var k = 0
      while (k < c) { acc += samples(ci * c + k); k += 1 }
      acc
    }
    // D(f,j) = S(f,j) − S(f,j+1), f ∈ [0,17), j ∈ [0,4)
    val d = Array.tabulate(Frames * (Bands - 1)) { di =>
      val f = di / (Bands - 1); val j = di % (Bands - 1)
      s(f * Bands + j) - s(f * Bands + j + 1)
    }
    var hash = 0L
    var b = 0
    while (b < 64) {
      val f = b / 4; val j = b % 4
      if (d((f + 1) * 4 + j) > d(f * 4 + j)) hash |= (1L << b)
      b += 1
    }
    hash
  }

  /** (doc_id, afp) through the REAL WAV roundtrip: encode the planted
    * variant, sniff, decode via the JDK's own WAVE reader, fold
    * channels (linear — preserves the invariances), fingerprint. */
  private[multimodal] def afps(spark: SparkSession, dir: String)
      : DataFrame =
    afpsOf(Tables.load(spark, dir, "documents").select("doc_id"))

  /** Frame-parameterized core of [[afps]] — the store build
    * fingerprints the base and delta slices separately. */
  private[graft] def afpsOf(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    // NOT fanOut (r20 measured ×2.7 WITH it): the JDK audio stack
    // serializes provider lookup, so parallel WAV decodes contend on
    // a global lock — single-task decode is the faster shape here
    ids.select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val wav = variantWav(id)
        require(Multimodal.AudioCodec.isWav(wav), s"doc $id: non-WAV encode")
        val (_, ch, interleaved) = Multimodal.AudioCodec.decode(wav)
          .getOrElse(sys.error(s"doc $id: JDK failed to decode its own WAV"))
        val mono =
          if (ch == 1) interleaved
          else Array.tabulate(interleaved.length / ch) { i =>
            var acc = 0; var c = 0
            while (c < ch) { acc += interleaved(i * ch + c); c += 1 }
            acc
          }
        (id, fingerprint64(mono))
      })
      .toDF("doc_id", "afp")
  }

  /** dedup_audio: near-duplicate RECORDING pairs (d1 < d2, hamming ≤
    * `maxHamming`) — chunk-LSH candidates, exact verify. Oracle: the
    * integer-algebra twin recomputes every hash from the sample
    * formula and sweeps all pairs (verification-scale on the oracle
    * side only; the operator stays bucketed). */
  def dedupAudio(spark: SparkSession, dir: String, maxHamming: Int = 3)
      : DataFrame =
    Phash.chunkLshPairs(afps(spark, dir), "afp", newerCut = None,
      maxHamming)

  // ------------------------------------------------- incremental index
  //
  // The weekly-delivery regime for perceptual AUDIO dedup — the
  // [[Phash]] incremental construction verbatim, as its scaladoc
  // promised: the 64-bit H-K-style fingerprint is a per-item
  // computation, so the persisted store appends EXACTLY (no model to
  // drift, no retrain) — a delivery pays the WAV roundtrip for its
  // own recordings only, and the delta query joins the delivery's
  // chunk buckets against the full store.

  private val Index = new PersistedIndex[DataFrame]("afp", "A1",
    "documents", "doc_id", PersistedIndex.Store("hashes", 2))

  /** Build-or-load the persisted fingerprint store (base hashes v0,
    * the delivery's appended O(delta); one [[PersistedIndex]]). */
  def ensureIndex(spark: SparkSession, dir: String): DataFrame =
    Index.ensure(spark, dir)(
      _.baseDelivery(_.select("doc_id"))(d => Seq(afpsOf(d))))(
      _.read("hashes"))

  /** Driver key `dedup_audio_delta`: the near-dup recording pairs a
    * delivery introduces — hamming ≤ `maxHamming` pairs with the newer
    * side in the delta, candidates from the delivery's chunks against
    * the FULL persisted fingerprint table; no base recording is
    * re-decoded at query time. Pigeonhole completeness holds per-pair,
    * so the key runs under the same full hash gate as `dedup_audio`. */
  def dedupAudioDelta(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val cut = Tables.documentsCutoff(spark, dir)
    Phash.chunkLshPairs(ensureIndex(spark, dir), "afp", Some(cut),
      maxHamming)
  }

  /** Driver key `audio_drift_check`: the retrain-trigger gauge for the
    * AUDIO-fingerprint store — [[Phash.phashDriftCheck]]'s shape for
    * the second perceptual family (the H-K-style hash packs gradient
    * bit b as `1L << b` exactly like dHash, so the per-bit occupancy
    * + full-hash novelty algebra is SHARED — [[Phash.bitDriftOf]]).
    * Store-served: zero WAV decode at gauge time. */
  def audioDriftCheck(spark: SparkSession, dir: String): DataFrame = {
    val (base, delta) = Tables.deltaSlices(ensureIndex(spark, dir),
      "doc_id", Tables.documentsCutoff(spark, dir))
    Phash.bitDriftOf(base, delta, "afp")
  }
}
