package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ingest.PersistedIndex
import graft.query.DriftGauge

/** Perceptual VIDEO dedup (`dedup_video`) — completes the multimodal
  * dedup triad beside [[Phash]] (image) and [[AudioFp]] (audio): find
  * videos that are the same FOOTAGE under container- and edit-level
  * differences (generational JPEG re-encode, 2× temporal upsample,
  * freeze-frame tail padding) that defeat byte-exact dedup.
  *
  * Fingerprint: per-frame 64-bit dHash ([[Phash.dHash64]] — the same
  * public gradient construction) over the demuxed, decoded frames,
  * then COLLAPSE runs of consecutive equal frame hashes — the
  * temporal-normalization step that makes frame-duplication upsampling
  * and freeze-frame padding invisible, the shot-boundary idea of
  * public video-copy-detection systems reduced to its exact-integer
  * core. The video's identity is the collapsed hash sequence.
  *
  * Exactness theorem the oracle leans on: every planted frame is an
  * 8×8-ALIGNED CONSTANT-BLOCK raster, and baseline JPEG codes each
  * 8×8 block independently — a constant block is DC-only and the
  * JDK codec reconstructs it EXACTLY (verified exhaustively over all
  * 256 block values, VideoFpSpec), including a second generation. So:
  *   - generational re-encode (decode → re-encode → remux): pixels
  *     bit-identical, every frame hash unchanged;
  *   - 2× temporal upsample (each frame duplicated, doubled fps): the
  *     collapse removes the duplicates;
  *   - freeze-frame tail pad (last frame repeated): collapse again.
  * All four variants of a group therefore share one collapsed
  * sequence; the DuckDB oracle recomputes every frame hash from the
  * shared cell formula alone, while the Spark side must recover it
  * through a genuine mux → ISO-BMFF demux → JPEG decode roundtrip.
  *
  * The cell formula keys a running prefix sum (mod 4) of a keyed
  * base sequence so HORIZONTALLY ADJACENT cells always differ by
  * 1..3 levels — every dHash `>` comparison is strict, no tie-break
  * sensitivity anywhere ([[AudioFp]]'s keyed-polynomial lesson).
  *
  * Scale shape: per-row codec work in `mapPartitions` (the sanctioned
  * tool — no Catalyst expression demuxes BMFF), then an EXACT
  * equality self-join on the collapsed-sequence key — a hash-
  * partitioned join on the fingerprint, linear, never all-pairs
  * (degenerate keys are bounded by true duplicate mass, the
  * dedup_exact argument). */
object VideoFp {

  /** 72×64 raster = the 9×8 dHash grid at exactly one JPEG block
    * (8×8) per grid cell. */
  val W = 72
  val H = 64

  /** Four gray levels, 64 apart — any adjacent-cell difference is
    * ≥ 64 levels (margin documentation only; the roundtrip is exact). */
  val Levels: Array[Int] = Array(32, 96, 160, 224)

  /** Level index of grid cell (gy,gx) in frame f of `anchor`'s
    * footage: running prefix (mod 4) of a keyed step in 1..3 along the
    * row — consecutive cells in a row NEVER share a level. Mirrored by
    * the oracle as list_sum over the same closed form. */
  def cellLevel(anchor: Long, f: Int, gy: Int, gx: Int): Int = {
    var acc = 0
    var j = 0
    while (j <= gx) {
      // the two integer-division terms are the anchor ENTROPY: a pure
      // affine form would collapse to `anchor % 3` per cell (three
      // distinct videos corpus-wide, a degenerate-key join); dividing
      // by cell-dependent denominators decouples the residues
      acc = (acc +
        ((anchor * 31 + anchor / (j + 2) + anchor / (gy + 2) +
          f.toLong * 101 + gy.toLong * 7 + j.toLong * 13)
          % 3).toInt + 1) % 4
      j += 1
    }
    acc
  }

  /** Frames in `anchor`'s footage: 3..5, group-shared. */
  def nFrames(anchor: Long): Int = (anchor % 3 + 3).toInt

  private def framePixels(anchor: Long, f: Int): Array[Int] =
    Array.tabulate(W * H)(i =>
      Levels(cellLevel(anchor, f, (i / W) / 8, (i % W) / 8)))

  /** The planted variant of one document: groups of 4 share an
    * anchor's footage; v = doc_id % 4 selects the edit/container
    * disguise. Returns the muxed MP4 bytes. */
  private[multimodal] def variantMp4(docId: Long): Array[Byte] = {
    val anchor = docId - docId % 4
    val frames = (0 until nFrames(anchor)).map(f =>
      Multimodal.RealCodec.encode("jpg", W, H, framePixels(anchor, f)))
    (docId % 4).toInt match {
      case 0 => Mp4.mux(W, H, frames)
      case 1 => // generational re-encode: decode → re-encode → remux
        Mp4.mux(W, H, frames.map { jp =>
          val (w, h, px) = Multimodal.RealCodec.decode(jp)
            .getOrElse(sys.error(s"doc $docId: re-encode decode failed"))
          Multimodal.RealCodec.encode("jpg", w, h, px)
        })
      case 2 => // 2x temporal upsample: every frame duplicated
        Mp4.mux(W, H, frames.flatMap(f => Seq(f, f)), fps = 60)
      case _ => // freeze-frame tail pad: last frame repeated twice
        Mp4.mux(W, H, frames ++ Seq(frames.last, frames.last))
    }
  }

  /** LSB-first 64-char bit string of a frame hash — the portable
    * cross-engine surface (bit i of the Long at string position i). */
  private[multimodal] def bitString(hash: Long): String = {
    val sb = new StringBuilder(64)
    var b = 0
    while (b < 64) { sb.append(if (((hash >> b) & 1L) == 1L) '1' else '0'); b += 1 }
    sb.toString
  }

  /** (doc_id, vseq, n_frames) through the REAL roundtrip: mux the
    * planted variant, sniff, ISO-BMFF demux, JPEG-decode EVERY sample
    * (not just sync frames), dHash each, collapse consecutive equals,
    * join with '|'. */
  private[multimodal] def vfps(spark: SparkSession, dir: String)
      : DataFrame =
    vfpsOf(Tables.load(spark, dir, "documents").select("doc_id"))

  /** Frame-parameterized core of [[vfps]] — the store build
    * fingerprints the base and delta slices separately. */
  private[graft] def vfpsOf(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    // fanOut: the codec stage is pure per-row CPU — a one-split scan
    // would run ALL of it in one task (Tables.fanOut scaladoc)
    Tables.fanOut(ids.select(col("doc_id"))).as[Long]
      .mapPartitions(_.map { id =>
        val mp4 = variantMp4(id)
        require(Mp4.isMp4(mp4), s"doc $id: non-BMFF mux output")
        val track = Mp4.parse(mp4).getOrElse(
          sys.error(s"doc $id: demux failed on own mux output"))
        require(track.codec == "jpeg" && track.width == W &&
          track.height == H, s"doc $id: track meta mismatch")
        val hashes = (0 until track.nSamples).map { f =>
          val (dw, dh, px) = Multimodal.RealCodec.decode(track.sample(mp4, f))
            .getOrElse(sys.error(s"doc $id frame $f: JPEG decode failed"))
          require(dw == W && dh == H, s"doc $id frame $f: dims $dw x $dh")
          bitString(Phash.dHash64(dw, dh, px))
        }
        val collapsed = hashes.foldLeft(List.empty[String]) {
          case (acc, h) if acc.headOption.contains(h) => acc
          case (acc, h) => h :: acc
        }.reverse
        (id, collapsed.mkString("|"), collapsed.length.toLong)
      })
      .toDF("doc_id", "vseq", "n_frames")
  }

  /** dedup_video: duplicate-FOOTAGE pairs (d1 < d2) — exact equality
    * self-join on the collapsed frame-hash sequence. Oracle: the
    * integer-algebra twin recomputes every frame hash from the cell
    * formula, collapses identically, and sweeps all pairs
    * (verification-scale on the oracle side only; the operator is a
    * keyed join). */
  def dedupVideo(spark: SparkSession, dir: String): DataFrame =
    seqPairs(vfps(spark, dir), newerCut = None)

  /** Exact-equality footage pairing over a (doc_id, vseq, n_frames)
    * table; with `newerCut` set, only pairs whose NEWER side is
    * at-or-past the cut are emitted (the delta query — d1 < d2 puts
    * the delta doc at d2, so the filter sits on the probe side before
    * any pairing; equality-join completeness is per-pair, so the
    * restriction loses nothing). */
  private[graft] def seqPairs(v: DataFrame, newerCut: Option[Long])
      : DataFrame = {
    val probe = newerCut
      .map(c => v.filter(col("doc_id") >= c)).getOrElse(v)
    probe.as("y").join(v.as("x"),
        col("x.vseq") === col("y.vseq") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        col("x.n_frames").as("n_frames"))
      .orderBy("d1", "d2")
  }

  // ------------------------------------------------- incremental index
  //
  // The weekly-delivery regime for perceptual VIDEO dedup — the
  // [[Phash]] incremental construction verbatim, as its scaladoc
  // promised: the collapsed frame-hash sequence is a per-item
  // computation, so the persisted store appends EXACTLY — a delivery
  // pays the mux→demux→JPEG-decode roundtrip for its own videos only,
  // and the delta query equality-joins the delivery's sequences
  // against the full store.

  private val Index = new PersistedIndex[DataFrame]("vfp", "V1",
    "documents", "doc_id", PersistedIndex.Store("seqs", 2))

  /** Build-or-load the persisted fingerprint store (base sequences v0,
    * the delivery's appended O(delta); one [[PersistedIndex]]). */
  def ensureIndex(spark: SparkSession, dir: String): DataFrame =
    Index.ensure(spark, dir)(
      _.baseDelivery(_.select("doc_id"))(d => Seq(vfpsOf(d))))(
      _.read("seqs"))

  /** Driver key `dedup_video_delta`: the duplicate-footage pairs a
    * delivery introduces — exact collapsed-sequence matches with the
    * newer side in the delta, the delivery's sequences joined against
    * the FULL persisted store; no base video is re-demuxed at query
    * time. Runs under the same full hash gate as `dedup_video`. */
  def dedupVideoDelta(spark: SparkSession, dir: String): DataFrame = {
    val cut = Tables.documentsCutoff(spark, dir)
    seqPairs(ensureIndex(spark, dir), Some(cut))
  }

  /** Driver key `video_drift_check`: the retrain-trigger gauge for
    * the VIDEO-sequence store — the third perceptual gauge. A
    * collapsed frame-hash sequence is not a fixed-width hash, so the
    * bit-occupancy arm doesn't apply; the signals that DO read on a
    * sequence store: (1) occupancy shift across sequence LENGTHS
    * (n_frames — a shift means the delivery's temporal structure
    * moved: longer cuts, more scene changes) in the exact
    * cross-multiplication, and (2) NOVELTY mass (delivery sequences
    * the base never produced). Store-served: zero demux/decode at
    * gauge time. */
  def videoDriftCheck(spark: SparkSession, dir: String): DataFrame = {
    val (base, delta) = Tables.deltaSlices(ensureIndex(spark, dir),
      "doc_id", Tables.documentsCutoff(spark, dir))
    videoDriftOf(base, delta)
  }

  /** Frame-parameterized core — both frames carry
    * (doc_id, vseq, n_frames). */
  def videoDriftOf(base: DataFrame, delta: DataFrame): DataFrame = {
    def cols(df: DataFrame) =
      df.select(col("doc_id"), col("vseq"), col("n_frames"))
    val tagged = DriftGauge.tagged(cols(base), cols(delta))
    val perLen = tagged.groupBy("n_frames")
      .agg(count(when(!col("is_delta"), lit(1))).as("n_base"),
        count(when(col("is_delta"), lit(1))).as("n_delta"))
    val totals = tagged.agg(
      count(when(!col("is_delta"), lit(1))).as("tb"),
      count(when(col("is_delta"), lit(1))).as("td"))
    val novel = delta.join(base.select("vseq").distinct(),
        Seq("vseq"), "left_anti")
      .agg(count(lit(1)).as("novel_occ"))
    perLen.crossJoin(broadcast(totals)).crossJoin(broadcast(novel))
      .select(col("n_frames"), col("n_base"), col("n_delta"),
        DriftGauge.occShift(col("n_delta"), col("n_base"),
          col("td"), col("tb")).as("occ_shift"),
        DriftGauge.safeRate(col("novel_occ"), col("td")).as("novel_rate"),
        (col("novel_occ") * 2 > col("td")).as("novelty_drift"))
      .select(col("*"),
        (DriftGauge.anyRow(col("occ_shift")) || col("novelty_drift"))
          .as("seq_retrain"))
      .orderBy("n_frames")
  }
}
