package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ingest.PersistedIndex
import graft.query.DriftGauge

/** Perceptual-hash IMAGE dedup (`dedup_phash`) — the multimodal and
  * dedup surfaces joined: find images that are the same PICTURE under
  * byte-level differences (re-encoded into another container, resized,
  * brightness-shifted) that defeat exact/canonical dedup outright.
  *
  * Hash: 64-bit dHash (difference hash — the public
  * gradient-perceptual-hash construction): pool the decoded raster to
  * a 9×8 grid by exact integer block averaging, then bit (y,x) = 1
  * iff grid[y][x+1] > grid[y][x]. Gradients are invariant to the
  * planted transformations IN EXACT INTEGER ARITHMETIC:
  *   - re-encode (PNG↔BMP↔GIF): lossless for 8-bit grayscale, raster
  *     identical;
  *   - 2× nearest-neighbor upscale: a 4×4 block of duplicated 2×2
  *     pixels sums to 4× the base block, and 4S/16 = S/4 exactly —
  *     the pooled grid is bit-identical;
  *   - global brightness +40: every grid cell shifts by +40, every
  *     `>` comparison is unchanged (base pixels live in [0,200), so
  *     +40 cannot clip).
  * So all five variants of a group share one hash, and the DuckDB
  * oracle can recompute it from the shared pixel FORMULA alone — the
  * integer-algebra twin — while the Spark side must recover it through
  * a genuine container encode→sniff→decode roundtrip ([[Multimodal.RealCodec]]).
  *
  * Scale shape: per-row codec work in `mapPartitions` (the sanctioned
  * tool — no Catalyst expression decodes PNG), then the SAME 4×16-bit
  * chunk-LSH candidate stage as SimHash (pigeonhole: hamming ≤ 3 ⇒
  * some chunk equal — candidates are bucketed, never all-pairs), exact
  * Hamming verify via xor+bit_count. Degenerate chunk buckets are
  * bounded by true duplicate mass, same argument as the text family.
  */
object Phash {

  /** Base raster dims; 9×8 grid ⇒ 2×2 blocks exactly. */
  val W = 18
  val H = 16

  /** Shared pixel formula, mirrored in the oracle. Range [0,200) so
    * the +40 brightness variant cannot clip. Quadratic terms with
    * anchor-dependent coefficients on purpose: a purely ADDITIVE
    * formula (the synthPixel shape) makes every anchor's raster a
    * constant-offset sibling of every other's — gradients identical
    * except at the mod wrap, i.e. the whole corpus is one near-dup
    * cluster. With the x²/y²/xy coefficients keyed to the anchor, the
    * measured cross-anchor Hamming floor is 8 over 10k anchors (one
    * decade past sf0.1's), far above the ≤ 3 dedup bar. */
  def basePixel(anchor: Long, i: Int): Int = {
    val x = i % W
    val y = i / W
    ((anchor * 31 + x.toLong * x * (anchor % 41 + 2) +
      y.toLong * y * (anchor % 43 + 3) +
      x.toLong * y * (anchor % 97 + 1)) % 200).toInt
  }

  /** The planted variant of one document: groups of 5 share an anchor
    * raster; v = doc_id % 5 selects the byte-level disguise. */
  private[multimodal] def variantImage(docId: Long)
      : (Int, Int, Array[Int], String) = {
    val anchor = docId - docId % 5
    val base = Array.tabulate(W * H)(i => basePixel(anchor, i))
    (docId % 5).toInt match {
      case 0 => (W, H, base, "png")
      case 1 => (W, H, base, "bmp") // re-encoded
      case 2 => (W, H, base, "gif") // re-encoded
      case 3 => // 2x nearest-neighbor upscale ("resized twin")
        val up = Array.tabulate(W * 2 * H * 2) { i =>
          val x = (i % (W * 2)) / 2
          val y = (i / (W * 2)) / 2
          base(y * W + x)
        }
        (W * 2, H * 2, up, "png")
      case _ => (W, H, base.map(_ + 40), "png") // brightened
    }
  }

  /** 64-bit dHash of a decoded raster whose dims are exact multiples
    * of the 9×8 grid. */
  private[multimodal] def dHash64(w: Int, h: Int, px: Array[Int]): Long = {
    val bw = w / 9
    val bh = h / 8
    require(bw * 9 == w && bh * 8 == h, s"dims ${w}x$h not grid-exact")
    val grid = Array.tabulate(8, 9) { (gy, gx) =>
      var s = 0
      var dy = 0
      while (dy < bh) {
        var dx = 0
        while (dx < bw) {
          s += px((gy * bh + dy) * w + gx * bw + dx)
          dx += 1
        }
        dy += 1
      }
      s / (bw * bh)
    }
    var hash = 0L
    var b = 0
    while (b < 64) {
      if (grid(b / 8)(b % 8 + 1) > grid(b / 8)(b % 8))
        hash |= (1L << b)
      b += 1
    }
    hash
  }

  /** (doc_id, phash) through the REAL container roundtrip. */
  private[multimodal] def phashes(spark: SparkSession, dir: String)
      : DataFrame =
    phashesOf(Tables.load(spark, dir, "documents").select("doc_id"))

  /** The codec roundtrip + hash for an arbitrary doc_id frame — the
    * per-item grain that makes the fingerprint store's incremental
    * maintenance EXACT ([[dedupPhashDelta]]): a delivery's slice
    * hashes to the same values the full-corpus pass produces. */
  private[graft] def phashesOf(ids: DataFrame, fan: Boolean = true)
      : DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    // fanOut: the codec stage is pure per-row CPU — a one-split scan
    // would run ALL of it in one task (Tables.fanOut scaladoc).
    // fan=false for micro-batch-grain callers whose input is a SMALL
    // delivery slice: there the round-robin exchange costs more than
    // the single-task codec work it spreads (r20 measured on
    // stream_phash_delta; callers gate on row count —
    // DeliveryStore.FanRowThreshold — so a large delivery still fans).
    val in = ids.select(col("doc_id"))
    (if (fan) Tables.fanOut(in) else in).as[Long]
      .mapPartitions(_.map { id =>
        val (w, h, px, fmt) = variantImage(id)
        val bytes = Multimodal.RealCodec.encode(fmt, w, h, px)
        require(Multimodal.RealCodec.canDecode(bytes),
          s"doc $id: unsniffable $fmt")
        val (dw, dh, dec) = Multimodal.RealCodec.decode(bytes).getOrElse(
          sys.error(s"doc $id: JDK failed to decode its own $fmt"))
        (id, dHash64(dw, dh, dec))
      })
      .toDF("doc_id", "phash")
  }

  /** dedup_phash: near-duplicate IMAGE pairs (d1 < d2, hamming ≤
    * `maxHamming`) — chunk-LSH candidates, exact verify. Oracle: the
    * integer-algebra twin recomputes every hash from the pixel formula
    * and sweeps all pairs (verification-scale on the oracle side only;
    * the operator stays bucketed). */
  def dedupPhash(spark: SparkSession, dir: String, maxHamming: Int = 3)
      : DataFrame =
    chunkLshPairs(phashes(spark, dir), "phash", newerCut = None,
      maxHamming)

  /** Chunk-LSH candidates + exact Hamming verify over a (doc_id,
    * phash) table; with `newerCut` set, only pairs whose NEWER side is
    * at-or-past the cut are emitted (the delta query — the d1 < d2
    * ordering puts the delta doc at d2, so the filter sits on the
    * candidate probe side, before any pairing). Pigeonhole
    * completeness (hamming ≤ 3 ⇒ some 16-bit chunk equal) holds
    * per-pair, so the delta restriction loses nothing. Shared by the
    * audio sibling ([[AudioFp]] passes its own hash column) — the
    * chunking, pairing, verify and delta-restriction algebra is
    * modality-blind. */
  private[graft] def chunkLshPairs(sigs: DataFrame,
      hashCol: String, newerCut: Option[Long], maxHamming: Int)
      : DataFrame = {
    val chunks = sigs.select(col("doc_id"), col(hashCol),
        explode(array((0 until 4).map(k =>
          struct(lit(k).as("k"),
            shiftright(col(hashCol), k * 16).bitwiseAND(0xFFFFL)
              .as("chunk"))): _*)).as("c"))
      .select(col("doc_id"), col(hashCol), col("c.k"), col("c.chunk"))
    val probe = newerCut
      .map(c => chunks.filter(col("doc_id") >= c)).getOrElse(chunks)
    probe.as("y")
      .join(chunks.as("x"),
        col("x.k") === col("y.k") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col(s"x.$hashCol").bitwiseXOR(col(s"y.$hashCol")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming").cast("long")
        .as("hamming"))
      .orderBy("d1", "d2")
  }

  // ------------------------------------------------- incremental index
  //
  // The weekly-delivery regime applied to PERCEPTUAL image dedup: the
  // 64-bit dHash is a per-item computation, so (like minhash and
  // ANN-LSH, unlike frozen-centroid IVF) the persisted fingerprint
  // store appends EXACTLY — a delivery pays the codec roundtrip for
  // its own images only, and the delta query joins the delivery's
  // chunk buckets against the full store. The same construction
  // serves the audio/video fingerprint siblings verbatim (their
  // signatures are per-item too).

  private val Index = new PersistedIndex[DataFrame]("phash", "P1",
    "documents", "doc_id", PersistedIndex.Store("hashes", 2))

  /** Build-or-load the persisted fingerprint store (base hashes v0,
    * the delivery's appended O(delta); one [[PersistedIndex]]). */
  def ensureIndex(spark: SparkSession, dir: String): DataFrame =
    Index.ensure(spark, dir)(
      _.baseDelivery(_.select("doc_id"))(d => Seq(phashesOf(d))))(
      _.read("hashes"))

  /** Driver key `dedup_phash_delta`: the near-dup image pairs a
    * delivery introduces — hamming ≤ `maxHamming` pairs with the newer
    * side in the delta, candidates from the delivery's chunks against
    * the FULL persisted fingerprint table; no base image is re-decoded
    * at query time. Pigeonhole completeness holds per-pair, so the
    * key runs under the same full hash gate as `dedup_phash` (the
    * oracle recomputes every hash from the shared pixel formula and
    * sweeps pairs with d2 past the cutoff). */
  def dedupPhashDelta(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val cut = Tables.documentsCutoff(spark, dir)
    chunkLshPairs(ensureIndex(spark, dir), "phash", Some(cut),
      maxHamming)
  }

  /** Driver key `phash_drift_check`: the retrain-trigger gauge for the
    * PERCEPTUAL-fingerprint store — [[graft.query.IndexDrift]]'s role
    * played for the third frozen-store family (embedding index /
    * vocabulary / perceptual fingerprints). The signals a
    * perceptual-index maintainer watches: (1) per-BIT occupancy shift
    * of the 64 dHash gradient bits (a >5-point share migration means
    * the delivery's visual statistics — gradient orientations — moved,
    * so the chunk-LSH bucket geometry tuned on the base no longer
    * balances) and (2) NOVELTY mass (share of delivery items whose
    * exact fingerprint the base never produced — all-new content ⇒
    * the stored fingerprints stop being representative). Both exact:
    * occ_shift is [[DriftGauge.occShift]], novelty an integer
    * comparison + one rounded ratio.
    *
    * Scale shape: the gauge reads the PERSISTED store only — zero
    * decode work at gauge time; one 64-way bit explode over
    * item-grain rows (map-side-combinable per-bit sums), one
    * anti-join on the 64-bit key, two 1-row totals frames
    * broadcast-crossed in (the model-scalar shape), a window over 64
    * rows. */
  def phashDriftCheck(spark: SparkSession, dir: String): DataFrame = {
    val (base, delta) = Tables.deltaSlices(ensureIndex(spark, dir),
      "doc_id", Tables.documentsCutoff(spark, dir))
    phashDriftOf(base, delta)
  }

  /** Frame-parameterized core — specs plant shifted fingerprint
    * frames through it to flip each arm independently. Both frames
    * carry (doc_id, phash). */
  def phashDriftOf(base: DataFrame, delta: DataFrame): DataFrame =
    bitDriftOf(base, delta, "phash")

  /** The gauge over ANY 64-bit-fingerprint store — shared by the
    * image ([[phashDriftCheck]]) and audio
    * ([[AudioFp.audioDriftCheck]]) families: their stores are both
    * (doc_id, <64-bit hash>) and both hashes pack gradient bit b as
    * `1L << b`, so per-bit occupancy and full-hash novelty read the
    * same way. */
  private[graft] def bitDriftOf(base0: DataFrame,
      delta0: DataFrame, hashCol: String): DataFrame = {
    val base = base0.select(col("doc_id"),
      col(hashCol).as("phash"))
    val delta = delta0.select(col("doc_id"),
      col(hashCol).as("phash"))
    val perBit = DriftGauge.tagged(base, delta)
      .select(col("is_delta"), col("phash"),
        explode(expr("sequence(0, 63)")).as("bit"))
      .withColumn("b",
        expr("shiftright(phash, cast(bit as int)) & 1L"))
      .groupBy("bit")
      .agg(sum(when(!col("is_delta"), col("b"))).as("n1_base"),
        sum(when(col("is_delta"), col("b"))).as("n1_delta"),
        count(when(!col("is_delta"), lit(1))).as("tb"),
        count(when(col("is_delta"), lit(1))).as("td"))
    val novel = delta.join(base.select("phash").distinct(),
        Seq("phash"), "left_anti")
      .agg(count(lit(1)).as("novel_occ"))
    perBit.crossJoin(broadcast(novel))
      .select(col("bit").cast("long").as("bit"),
        coalesce(col("n1_base"), lit(0L)).as("n1_base"),
        coalesce(col("n1_delta"), lit(0L)).as("n1_delta"),
        DriftGauge.occShift(col("n1_delta"), col("n1_base"),
          col("td"), col("tb")).as("occ_shift"),
        DriftGauge.safeRate(col("novel_occ"), col("td"))
          .as("novel_rate"),
        (col("novel_occ") * 2 > col("td")).as("novelty_drift"))
      .select(col("*"),
        (DriftGauge.anyRow(col("occ_shift")) || col("novelty_drift"))
          .as("fp_retrain"))
      .orderBy("bit")
  }
}
