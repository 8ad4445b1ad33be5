package graft.streaming

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Tables
import graft.ingest.SnapshotStore
import graft.multimodal.{AudioFp, Phash, VideoFp}
import graft.query.{ChunkIndex, EmbeddingIndex, FuzzyJoin, Sampling,
  SubstringIndex, TextQuality, TextSim, VocabStore}

/** STREAMING maintenance of the persisted delivery stores: incremental
  * similarity indexes (minhash buckets + postings, chunk digests,
  * vocabulary counts, perceptual / audio / video fingerprints,
  * embedding-LSH buckets, FastSS deletion signatures, substring gram
  * counts) kept current from a STREAM of deliveries and served from the
  * persisted [[SnapshotStore]]s only — the production shape:
  * deliveries arrive continuously, the nightly query reads the store,
  * not the stream.
  *
  * One mechanism; each [[Family]] declares only its own parts. The
  * base slice of the family's table (ids below [[Tables.deltaSplit]]'s
  * cut) is committed once as the base stores; the delivery slice is
  * staged as id-range files and streamed one file per trigger through
  * a stateless `foreachBatch`, each micro-batch appending its frames to
  * the named stores; the serve reads the stores and is pinned before
  * the run's workspace goes.
  *
  * The contract every family keeps:
  *   - Exactly-once. `foreachBatch` is at-least-once — a crashed driver
  *     REPLAYS the last uncommitted micro-batch — and a blind append
  *     would double the replayed delivery's rows: doubled postings,
  *     counts, fingerprints or bucket mass, each a structurally valid
  *     commit with wrong numbers. Every append is
  *     [[SnapshotStore.appendOnce]] tagged with the batch id, so a
  *     replay finds its tag in the live chain (or, after compaction, in
  *     the `_applied_tags` sidecar) and appends nothing.
  *     DeliveryStoreSpec replays each family's delivery verbatim and
  *     pins every store's content and version count unchanged.
  *   - Boundary independence. Every per-delivery frame is a PER-ITEM
  *     computation (shingles, chunks, fingerprints, signatures, LSH
  *     buckets) or an ADDITIVE count (tokens, grams) the serve sums
  *     over the chain, so the store content and the served result do
  *     not depend on arrival order or micro-batch boundaries — which is
  *     what lets the streamed keys run under their batch twins' exact
  *     DuckDB oracles.
  *   - No streaming state at scale. The stream holds no state store;
  *     the stores ARE the state, sharded on disk by the store layout,
  *     and each micro-batch's write cost is O(its delivery). */
object DeliveryStore {

  /** One drive run's view of its stores: the delivery cut, the staged
    * delivery files and the source frame the serve may join against. */
  final case class Run(spark: SparkSession,
      stores: Map[String, SnapshotStore], cut: Long, inDir: String,
      source: DataFrame) {
    def apply(store: String): SnapshotStore = stores(store)
    def read(store: String): Option[DataFrame] = stores(store).read(spark)
  }

  /** The immutable per-session staging: the pristine base stores under
    * `idx` and the delivery files under `inDir`. */
  private final case class Staged(idx: String, inDir: String, cut: Long,
      schema: StructType)

  /** Frames to commit, by store name. */
  type Frames = DataFrame => Seq[(String, DataFrame)]

  /** One store family's own parts; the skeleton is shared.
    *
    * @param name       workspace and staging-memo prefix
    * @param params     the parameters that shape store content (part of
    *                   the staging memo key)
    * @param table      source table, keyed on `idCol`, projected to
    *                   `cols` (empty: every column)
    * @param stores     every store the family keeps, by name
    * @param base       the base stores' frames, from the base slice
    * @param delivery   one micro-batch's frames; none for an empty batch
    * @param serve      the served result, from the run's stores only
    * @param serveScope wraps the pinned serve (a conf scope) */
  final case class Family(name: String, params: Seq[Any], table: String,
      idCol: String, cols: Seq[String], stores: Seq[String], base: Frames,
      delivery: Frames, serve: Run => DataFrame,
      serveScope: SparkSession => (=> DataFrame) => DataFrame =
        _ => body => body) {

    def load(spark: SparkSession, dir: String): DataFrame = {
      val t = Tables.load(spark, dir, table)
      if (cols.isEmpty) t else t.select(cols.map(col): _*)
    }

    def storesAt(idx: Path): Map[String, SnapshotStore] =
      stores.map(s => s -> new SnapshotStore(idx.resolve(s).toString)).toMap

    /** One delivery's maintenance: its frames, each appended EXACTLY
      * ONCE per (store, batch id). */
    def append(run: Run, batch: DataFrame, batchId: Long): Unit =
      delivery(batch).foreach { case (s, df) =>
        run(s).appendOnce(df, batchId.toString)
      }

    /** The driver key: the delivery slice arrives as `chunks`
      * micro-batches that each append-once to this run's copy of the
      * pristine base stores; the result is served from the PERSISTED
      * stores only. */
    def drive(spark: SparkSession, dir: String, chunks: Int = 4)
        : DataFrame =
      DriveSupport.withWorkspace(s"graft-$name") { ws =>
        val s = staged(spark, dir, chunks)
        // this run's OWN stores: a hardlink copy of the pristine
        // bootstrap, so the pristine state serves the next run
        DriveSupport.stageStoreCopy(s.idx, ws.resolve("idx"))
        streamAndServe(runIn(spark, ws, s, load(spark, dir)), s.schema, ws)
      }

    /** Bootstrap + staging, once per (session, dir, params, chunks):
      * each drive run copies the pristine stores instead of recomputing
      * the base ([[DriveSupport.stagedOnce]]). */
    private[DeliveryStore] def staged(spark: SparkSession, dir: String,
        chunks: Int): Staged =
      DriveSupport.stagedOnce(spark,
          (Seq(name, dir) ++ params :+ chunks).mkString("|")) { ws =>
        stage(load(spark, dir), ws, chunks)
      }

    /** Commit the base stores under `ws/idx` from `source`'s base slice
      * and stage its delivery slice as `chunks` id-range files. */
    private[DeliveryStore] def stage(source: DataFrame, ws: Path,
        chunks: Int): Staged = {
      val (cut, maxId) = Tables.deltaSplit(source, idCol)
      val idx = ws.resolve("idx")
      val into = storesAt(idx)
      base(source.filter(col(idCol) < cut)).foreach { case (s, df) =>
        into(s).overwrite(df)
      }
      val inDir = ws.resolve("deliveries").toString
      DriveSupport.stageIdRangeDeliveries(source.filter(col(idCol) >= cut),
        idCol, cut, maxId, chunks, inDir)
      Staged(idx.toString, inDir, cut, source.schema)
    }

    private[DeliveryStore] def runIn(spark: SparkSession, ws: Path,
        s: Staged, source: DataFrame): Run =
      Run(spark, storesAt(ws.resolve("idx")), s.cut, s.inDir, source)

    /** The stream: one staged file per trigger, each micro-batch
      * appended exactly once; then the pinned serve. */
    private[DeliveryStore] def streamAndServe(run: Run, schema: StructType,
        ws: Path): DataFrame = {
      DriveSupport.withStreamConfs(run.spark) {
        val q = run.spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(run.inDir)
          .writeStream
          .option("checkpointLocation", ws.resolve("ckpt").toString)
          .foreachBatch { (b: DataFrame, id: Long) => append(run, b, id) }
          .start()
        DriveSupport.draining(q)(q.processAllAvailable())
      }
      pinServe(run)
    }

    private[DeliveryStore] def pinServe(run: Run): DataFrame =
      serveScope(run.spark)(DriveSupport.pin(run.spark, serve(run)))
  }

  /** The usual emptiness rule: an empty micro-batch appends nothing. */
  private def unlessEmpty(frames: Frames): Frames =
    b => if (b.isEmpty) Nil else frames(b)

  /** Staged delivery `c`, re-read from the delivery files by the id
    * range the stager wrote it under (one max job per call). */
  private def stagedDeliveries(run: Run, idCol: String, chunks: Int)
      : Int => DataFrame = {
    val staged = run.spark.read.parquet(run.inDir)
    val (_, maxId) = Tables.deltaSplit(staged, idCol)
    val span = DriveSupport.deliverySpan(maxId, run.cut, chunks)
    c => staged.filter(DriveSupport.deliveryRange(idCol, run.cut, span, c))
  }

  /** Minhash band buckets + shingle postings; serves the delta near-dup
    * pairs with the newer side in the delivery — the exact
    * [[graft.query.MinhashIndex.dedupMinhashDelta]] shape and oracle
    * (`stream_index_delta`). The shingles are pinned once per frame set
    * and feed both stores. */
  def minhash(threshold: Double = 0.8, nHashes: Int = 32, bands: Int = 8)
      : Family = {
    val frames: Frames = docs => {
      val sh = TextSim.shingleHashesOf(docs).localCheckpoint()
      Seq("buckets" -> TextSim.bandBucketsOf(sh, nHashes, bands),
        "postings" -> sh)
    }
    Family("idxm", Seq(nHashes, bands), "documents", "doc_id", Nil,
      Seq("buckets", "postings"), frames, unlessEmpty(frames),
      serve = run => {
        val buckets = run.read("buckets").get
        val postings = run.read("postings").get
        val cand = buckets.filter(col("doc_id") >= run.cut).as("y")
          .join(buckets.as("x"),
            col("x.band") === col("y.band") &&
              col("x.bh") === col("y.bh") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
          .distinct()
        TextSim.verifyJaccard(cand, postings, threshold)
      })
  }

  /** Chunk `digests` (digest-grain first occurrences; the base commit
    * is the base corpus's table) and delivery `occurrences` (occurrence
    * grain, what naming every duplicate location needs); serves every
    * delivery chunk duplicating earlier content with its canonical
    * location, bit-equal to [[ChunkIndex.dedupChunksDelta]]
    * (`stream_chunks_delta`). */
  def chunk(win: Int = 64, stride: Int = 32): Family =
    Family("chkm", Seq(win, stride), "documents", "doc_id", Nil,
      Seq("digests", "occurrences"),
      base = b => Seq("digests" -> ChunkIndex.digestsOf(b, win, stride)),
      delivery = unlessEmpty { b =>
        val ch = Sampling.chunkOf(b, win, stride)
          .select("doc_id", "chunk_idx", "chunk_md5").localCheckpoint()
        Seq("digests" -> ChunkIndex.digestsOfChunks(ch), "occurrences" -> ch)
      },
      serve = run => {
        // corpus canon = per-digest min over the whole digest chain
        // (min of per-commit firsts IS the global first, and base
        // doc_ids precede delivery doc_ids by the cutoff rule); a
        // delivery occurrence is a duplicate iff it is not its digest's
        // canon
        val canon = run.read("digests").get
          .groupBy("chunk_md5")
          .agg(min(struct(col("canon_doc_id"), col("canon_chunk_idx")))
            .as("c"))
          .select(col("chunk_md5"), col("c.canon_doc_id"),
            col("c.canon_chunk_idx"))
        // an all-empty delivery stream never creates the occurrences
        // store — serve the empty dedup
        val occurrences = run.read("occurrences").getOrElse(
          canon.limit(0).select(col("canon_doc_id").as("doc_id"),
            col("canon_chunk_idx").as("chunk_idx"), col("chunk_md5")))
        occurrences.join(canon, Seq("chunk_md5"))
          .filter(col("doc_id") =!= col("canon_doc_id") ||
            col("chunk_idx") =!= col("canon_chunk_idx"))
          .select("doc_id", "chunk_idx", "chunk_md5", "canon_doc_id",
            "canon_chunk_idx")
          .orderBy("doc_id", "chunk_idx")
      })

  /** Per-token occurrence counts: the `base` corpus's, and one `delta`
    * count table per delivery (additive: the delta mass is the
    * per-token sum over the chain, map-side combined before each write,
    * so the store stays at VOCAB grain); serves the retrain-gauge panel
    * of [[TextQuality.vocabDriftCheck]] (`stream_vocab_delta`). */
  def vocab(topV: Int = 32): Family =
    Family("vocm", Nil, "documents", "doc_id", Nil, Seq("base", "delta"),
      base = b => Seq("base" -> VocabStore.countsOf(b)),
      delivery = unlessEmpty(b => Seq("delta" -> VocabStore.countsOf(b))),
      serve = run => {
        val base = run.read("base").get
          .select(col("w"), col("n").as("n_base"))
        // an empty chain is an empty delivery
        val delta = run.read("delta")
          .map(_.groupBy("w").agg(sum(col("n")).as("n_delta")))
          .getOrElse(base.limit(0)
            .select(col("w"), col("n_base").as("n_delta")))
        val merged = base.join(delta, Seq("w"), "full_outer")
          .select(col("w"),
            coalesce(col("n_base"), lit(0L)).as("n_base"),
            coalesce(col("n_delta"), lit(0L)).as("n_delta"))
        TextQuality.vocabDriftFromCounts(merged, topV)
      })

  /** Below this many delivery rows the phash codec stage stays
    * single-task: r20 measured the fanOut round-robin exchange costing
    * more than the spread codec work on the fixture's ~100-row
    * deliveries. Above it, the per-row decode dominates any exchange
    * (≥ a core-count multiple of rows) — an unguarded `fan = false`
    * would serialize a LARGE delivery's whole decode onto however many
    * input splits the micro-batch file has, typically one. */
  private[streaming] val FanRowThreshold = 2048L

  /** Perceptual fingerprints: `base` and one `delta` frame per
    * delivery, each delivery decoding ITS OWN images exactly once
    * (decode-on-arrival, serve-from-store); serves the perceptual
    * retrain-gauge panel of [[Phash.phashDriftCheck]] with zero decode
    * (`stream_phash_delta`). The delivery's row count doubles as the
    * emptiness check (one action instead of `isEmpty`) and gates the
    * decode fan-out on delivery size. */
  val phash: Family =
    Family("phm", Nil, "documents", "doc_id", Seq("doc_id"),
      Seq("base", "delta"),
      base = b => Seq("base" -> Phash.phashesOf(b)),
      delivery = b => {
        val n = b.count()
        if (n == 0) Nil
        else Seq("delta" -> Phash.phashesOf(b.select("doc_id"),
          fan = n >= FanRowThreshold))
      },
      serve = run => {
        val base = run.read("base").get
        Phash.bitDriftOf(base, run.read("delta").getOrElse(base.limit(0)),
          "phash")
      })

  /** Embedding-LSH `buckets` (vec_id, t, bucket); serves the delivery's
    * near-dup pairs, [[EmbeddingIndex.dedupEmbeddingAnnDelta]]'s output
    * contract (`stream_ann_delta`, rows-only; `stream_ann_delta_recall`
    * is its hash gate). A replay would not change which pairs verify,
    * but would double the bucket mass the `maxBucket` skew cap reads. */
  def ann(threshold: Double = 0.35, nPlanes: Int = 8, nTables: Int = 8,
      maxBucket: Int = 10000, seed: Long = 7L): Family = {
    val frames: Frames =
      e => Seq("buckets" -> TextSim.annBuckets(e, nPlanes, nTables, seed))
    Family("annm", Seq(nPlanes, nTables, seed), "embeddings", "vec_id",
      Nil, Seq("buckets"), frames, unlessEmpty(frames),
      serve = run => EmbeddingIndex.deltaPairs(run.read("buckets").get,
        run.source, run.cut, threshold, maxBucket))
  }

  /** FastSS deletion signatures `sig` of new master-table rows; serves
    * dirty delivery probes best-matched against the full reference
    * under `join_fuzzy_delta`'s exact unblocked oracle
    * (`stream_fuzzy_delta`). A replay would not change which matches
    * verify, but would double the candidate mass the equality join
    * pays. */
  def fuzzy(k: Int = 2): Family = {
    val frames: Frames = p => Seq("sig" -> FuzzyJoin.signaturesOf(p, k))
    Family("fzym", Seq(k), "part", "p_partkey", Seq("p_partkey", "p_name"),
      Seq("sig"), frames, unlessEmpty(frames),
      serve = run => {
        val parts = run.source
        val probes = FuzzyJoin.probesOf(
          parts.filter(col("p_partkey") >= run.cut), 20)
        FuzzyJoin.matchProbes(probes, run.read("sig").get, parts, k)
      },
      serveScope = spark => body =>
        DriveSupport.withServeCoalesceFloor(spark)(body))
  }

  /** 64-bit audio fingerprints `hashes`, each delivery paying the WAV
    * decode for its own recordings once; serves the near-dup pairs the
    * delivery introduces ([[AudioFp.dedupAudioDelta]]'s shape and
    * oracle, `stream_audio_delta`) with zero decode. */
  def audio(maxHamming: Int = 3): Family = {
    val frames: Frames =
      b => Seq("hashes" -> AudioFp.afpsOf(b.select("doc_id")))
    Family("afm", Nil, "documents", "doc_id", Seq("doc_id"),
      Seq("hashes"), frames, unlessEmpty(frames),
      serve = run => Phash.chunkLshPairs(run.read("hashes").get, "afp",
        Some(run.cut), maxHamming))
  }

  /** Collapsed frame-hash sequences `seqs`, each delivery paying the
    * mux→demux→decode roundtrip for its own videos once; serves the
    * duplicate-footage pairs the delivery introduces
    * ([[VideoFp.dedupVideoDelta]]'s shape and oracle,
    * `stream_video_delta`) with zero demux. */
  val video: Family = {
    val frames: Frames =
      b => Seq("seqs" -> VideoFp.vfpsOf(b.select("doc_id")))
    Family("vfm", Nil, "documents", "doc_id", Seq("doc_id"), Seq("seqs"),
      frames, unlessEmpty(frames),
      serve = run => VideoFp.seqPairs(run.read("seqs").get, Some(run.cut)))
  }

  /** Gram counts: `base` holds the base corpus's — the PRE-delivery
    * state the delivery is span-cleaned against, the batch
    * [[SubstringIndex.dedupSubstringDelta]]'s probe rule — and `grams`
    * accumulates the streamed deliveries' counts, the state FUTURE
    * deliveries would probe. Serves the delivery cleaned against the
    * base table (`stream_substring_delta`); a replayed count would flip
    * the next delivery's primary-occurrence rule, a silent over-cut. */
  def substring(gramLen: Int = 5): Family = {
    val counts = SubstringIndex.gramCountsOf(_: DataFrame, gramLen)
    Family("ssm", Seq(gramLen), "documents", "doc_id", Seq("doc_id", "text"),
      Seq("base", "grams"),
      base = b => Seq("base" -> counts(b)),
      delivery = unlessEmpty(b => Seq("grams" -> counts(b))),
      serve = run => SubstringIndex.cleanDeltaAgainst(
        run.spark.read.parquet(run.inDir), run.read("base").get, gramLen))
  }

  /** Driver key `index_compact_check`: the store-lifecycle maintenance
    * pass under the full hash gate. A long-lived delta chain (base + one
    * appendOnce commit per delivery) accumulates version dirs until
    * reads pay an N-way union; [[SnapshotStore.compact]] rewrites the
    * live content as ONE commit. Each run copies the staged post-append
    * chain, COMPACTS both stores, then REPLAYS a delivery — a no-op
    * only through the `_applied_tags` sidecar, since compaction erased
    * the tag-bearing dirs — and serves the delta pairs from the
    * compacted stores under `dedup_minhash_delta`'s exact SQL. The
    * chain build is store-construction fixture work, staged once per
    * session; the measured path is compaction + replay probe + serve. */
  def indexCompactCheck(spark: SparkSession, dir: String,
      threshold: Double = 0.8, nHashes: Int = 32, bands: Int = 8,
      chunks: Int = 4): DataFrame = {
    val f = minhash(threshold, nHashes, bands)
    DriveSupport.withWorkspace("graft-idxc") { ws =>
      val chain = DriveSupport.stagedOnce(spark,
          s"idxc|$dir|$nHashes|$bands|$chunks") { cws =>
        val s = f.staged(spark, dir, chunks)
        DriveSupport.stageStoreCopy(s.idx, cws.resolve("idx"))
        val run = f.runIn(spark, cws, s, f.load(spark, dir))
        val delivery = stagedDeliveries(run, f.idCol, chunks)
        (0 until chunks).foreach(c => f.append(run, delivery(c), c.toLong))
        s.copy(idx = cws.resolve("idx").toString)
      }
      DriveSupport.stageStoreCopy(chain.idx, ws.resolve("idx"))
      val run = f.runIn(spark, ws, chain, f.load(spark, dir))
      f.stores.foreach(run(_).compact(spark))
      // the replay beat: delivery #1 again, post-compaction — the
      // sidecar must make it a no-op or the pairs below double-count
      f.append(run, stagedDeliveries(run, f.idCol, chunks)(1), 1L)
      f.pinServe(run)
    }
  }

  /** Driver key `fuzzy_compact_check`: the signature store's FULL
    * lifecycle inside the measured run — append the delivery slice as
    * `chunks` tagged commits, [[SnapshotStore.compact]] the chain to
    * one commit (the dir-name tags fold into the `_applied_tags`
    * sidecar), REPLAY delivery #0 post-compaction (the sidecar must
    * no-op it), then serve the fuzzy delta join from the compacted
    * store under `join_fuzzy_delta`'s exact unblocked oracle. */
  def fuzzyCompactCheck(spark: SparkSession, dir: String, k: Int = 2,
      chunks: Int = 4): DataFrame = {
    val f = fuzzy(k)
    DriveSupport.withWorkspace("graft-fzyc") { ws =>
      val s = f.staged(spark, dir, chunks)
      DriveSupport.stageStoreCopy(s.idx, ws.resolve("idx"))
      val run = f.runIn(spark, ws, s, f.load(spark, dir))
      val delivery = stagedDeliveries(run, f.idCol, chunks)
      (0 until chunks).foreach(c => f.append(run, delivery(c), c.toLong))
      f.stores.foreach(run(_).compact(spark))
      // the replay beat: delivery #0 again, post-compaction
      f.append(run, delivery(0), 0L)
      f.pinServe(run)
    }
  }

  /** The ann family over an arbitrary frame — the recall contract's
    * path (a twin-augmented corpus is not a loadable dir): fresh
    * workspace, fresh base commit, no cross-run staging reuse; the
    * delivery streams through the same maintenance and the pairs are
    * served from the persisted store. */
  def annStreamPairsOf(e: DataFrame, threshold: Double = 0.35,
      nPlanes: Int = 8, nTables: Int = 8, maxBucket: Int = 10000,
      seed: Long = 7L, chunks: Int = 4): DataFrame = {
    val f = ann(threshold, nPlanes, nTables, maxBucket, seed)
    DriveSupport.withWorkspace("graft-annm-c") { ws =>
      // pin the (possibly union-derived) corpus once: the staging
      // writes, the stream and the serve all read it repeatedly
      val eC = e.localCheckpoint()
      val s = f.stage(eC, ws, chunks)
      f.streamAndServe(f.runIn(e.sparkSession, ws, s, eC), s.schema, ws)
    }
  }
}
