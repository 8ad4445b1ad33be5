package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import graft.core.Schemas
import graft.core.Schemas.Status
import graft.ingest.{Ingest, SnapshotStore, Tracker, Upsert}

/** Structured Streaming ingest pipeline (SURVEY.md §2 A15/A16/A17 + §3.1).
  *
  * The reference's core identity is an asynchronous upload → split →
  * process pipeline over two RabbitMQ queues (reference app/mq.py:22-205,
  * app/processing/file_splitter.py:48-96, data_processor.py:40-78). Its
  * exactly-once argument — at-least-once delivery + idempotent upsert
  * (mq.py:162-181 + data_processor.py:106-110) — maps 1:1 onto Structured
  * Streaming: a checkpointed, replayable file source (offsets = discovered
  * files) feeding an idempotent `foreachBatch` merge into an atomically
  * swapped snapshot. Queue durability, acks, nack-redelivery and
  * prefetch-based backpressure all collapse into engine machinery
  * (checkpoint + trigger), exactly as SURVEY.md §4 predicts.
  *
  * Dataflow per micro-batch (replaces FileSplitter + DataProcessor):
  *   1. discovery: `binaryFile` stream over the landing dir — rows are file
  *      METADATA (path, modificationTime); content is never read here
  *      (column pruning keeps the scan metadata-only). File arrival is the
  *      signal, as in SURVEY §1.1.
  *   2. control journey: the landing dir is the queue, so a landed file
  *      has no control row until its batch starts; then its row is
  *      upserted as `processing` (reference file_splitter.py:62-66),
  *      observable mid-batch.
  *   3. parse: one distributed batch read of the batch's files (top-level
  *      JSON arrays, PERMISSIVE). A malformed file yields a corrupt marker
  *      row → the whole file flips to `failed` and contributes no records,
  *      while healthy files in the same batch proceed (A17; reference
  *      file_splitter.py:74-93 keeps poison files and marks them failed).
  *      Empty and poison-only batches take the same path (the read adds
  *      an always-null probe column, [[Ingest.readDeliveries]]).
  *   4. upsert: `Ingest.prepare` → validate → `Upsert.commitDeltaCow`
  *      into the bucketed products [[SnapshotStore]] (field-level `$set`
  *      parity; only the buckets the delivery touches are rewritten, and
  *      a batch with no valid record publishes no version). The version
  *      vector (file name, which the reference prefixes with an upload
  *      timestamp — main.py:65-69) makes later deliveries win
  *      deterministically even inside one batch.
  *   5. completion: per-file counters (Tracker) → terminal status
  *      (`processed` / `processed_with_errors` / `failed`) upserted into
  *      the `uploaded_files` control store (A4/A9/A10/A14).
  *
  * A16 (post-process GC): `cleanSource=archive/delete` on the source moves
  * consumed files out of the landing dir, the engine-level form of
  * file_splitter.py:157-161 (poison files are archived too — kept for
  * forensics, which is the reference's intent in keeping them).
  *
  * Scale: discovery is metadata-only; parsing distributes across files
  * (one task per array file — deliveries arrive many-files-per-week at
  * 100 TB, so parallelism is per-file); the merge shuffles only the
  * delta — the snapshot is bucketed on the key and joined in place, and
  * only the touched buckets are rewritten (Upsert.commitDeltaCow). The
  * control table is O(#files) — tiny by construction.
  */
object IngestStream {

  /** Where the pipeline reads, writes and checkpoints, and how it
    * batches. The store layouts are fixed: products bucketed on `code`
    * ([[productsStore]]), the control store plain ([[controlStore]]).
    *
    * @param landingDir   directory uploads land in (the reference's
    *                     FILES_DIRECTORY, settings.py:17-20)
    * @param warehouseDir root for the `products` and `uploaded_files`
    *                     snapshot stores
    * @param checkpointDir Structured Streaming checkpoint (offsets =
    *                     which files are consumed — the queue durability)
    * @param archiveDir   when set, consumed files are moved here (A16)
    * @param maxFilesPerTrigger bound files per micro-batch (the batching
    *                     knob replacing the reference's BATCH_SIZE=100,
    *                     SURVEY §2 A3)
    * @param arraySplitBytes JSON-array deliveries above this size are
    *                     stream-split into JSONL shards before the
    *                     distributed parse ([[graft.ingest.ArraySplitter]])
    *                     so no file parses in one task; 256 MiB default
    * @param afterBatchCommit TEST SEAM (the beforePublish analogue):
    *                     runs inside foreachBatch AFTER the batch's
    *                     snapshot-store commits, BEFORE the function
    *                     returns — i.e. before the engine's checkpoint
    *                     offset commit. The crash suite parks a child
    *                     JVM here for a SIGKILL, the exact at-least-once
    *                     replay window (reference mq.py:162-181). No-op
    *                     in production. */
  case class Config(
      landingDir: String,
      warehouseDir: String,
      checkpointDir: String,
      archiveDir: Option[String] = None,
      maxFilesPerTrigger: Int = 16,
      arraySplitBytes: Long = 256L << 20,
      afterBatchCommit: Long => Unit = _ => ())

  /** Products snapshot is BUCKETED on the merge key: each weekly merge
    * then joins the snapshot in place — no snapshot-side shuffle
    * (Upsert.mergeFieldsJoin + BucketedUpsertSpec's plan assertion).
    * 8 buckets locally; production sizes toward size/target-partition. */
  def productsStore(cfg: Config) =
    new SnapshotStore(cfg.warehouseDir + "/products",
      bucket = Some(("code", 8)))

  def controlStore(cfg: Config) =
    new SnapshotStore(cfg.warehouseDir + "/uploaded_files",
      schema = Some(controlSchema))

  private def baseName(c: org.apache.spark.sql.Column) =
    regexp_extract(c, "[^/]+$", 0)

  /** Schemaful empties: pre-first-ingest reads must resolve the same
    * columns as populated stores (a zero-column emptyDataFrame would
    * fail column resolution downstream). */
  def emptyProducts(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      Schemas.productSchema)

  def emptyControl(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[graft.core.UploadedFile].toDS().toDF()
      .withColumn("ingest_batch_id", lit(0L))
  }

  /** Control-table schema (graft.core.UploadedFile + batch provenance)
    * as parquet reads it back, every column nullable: the control
    * store's reads take it instead of inferring it. */
  private val controlSchema = StructType(Seq(
    "file_id" -> StringType, "filename" -> StringType,
    "location" -> StringType, "content_type" -> StringType,
    "uploaded_at" -> TimestampType, "status" -> StringType,
    "total_records" -> LongType, "records_processed" -> LongType,
    "records_failed" -> LongType, "ingest_batch_id" -> LongType)
    .map { case (n, t) => StructField(n, t) })

  private val controlCols = controlSchema.fieldNames.toSeq

  private def upsertControl(cfg: Config, delta: DataFrame): Unit = {
    val spark = delta.sparkSession
    val store = controlStore(cfg)
    val snap = store.read(spark).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        delta.schema))
    store.overwrite(Upsert.merge(snap, delta, key = "file_id",
      version = Seq(col("ingest_batch_id"))).select(
      controlCols.map(col): _*))
  }

  /** Process one micro-batch of discovered files. Public and
    * deterministic-in-inputs so tests and replay drive it directly;
    * idempotent (re-running with the same files converges to the same
    * snapshot + control state — the exactly-once argument). */
  def processBatch(spark: SparkSession, cfg: Config,
      files: Seq[(String, java.sql.Timestamp)], batchId: Long): Unit = {
    if (files.isEmpty) return
    // scratch for landing-side array splitting; shards live exactly as
    // long as the batch (every consumer action completes inside it)
    val scratch = java.nio.file.Files.createTempDirectory("graft-split")
    try doProcessBatch(spark, cfg, files, batchId, scratch)
    finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(scratch).iterator().asScala.toSeq
        .reverseIterator
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** A delivery path as a local filesystem path (the discovery stream
    * hands URIs; direct test drives hand plain paths). */
  private def localPath(p: String): java.nio.file.Path =
    if (p.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(p))
    else java.nio.file.Paths.get(p)

  /** The batch's read paths after landing-side splitting: any JSON-array
    * delivery above the split threshold is stream-split into JSONL
    * shards (constant memory, [[graft.ingest.ArraySplitter]]) so no
    * file parses in ONE task — the r13 audit's oversized-delivery gap;
    * the reference runs the identical sequential pass in its
    * FileSplitter worker (file_splitter.py:117-118). A malformed
    * oversized file aborts its split and falls back to the original
    * single-task path, preserving whole-file poison (A17). */
  /** True only for paths the DRIVER can read with java.nio — no-scheme
    * local paths and file: URIs. Remote-filesystem deliveries (hdfs://,
    * s3a://, …) must flow to Spark untouched: the splitter is a
    * driver-local landing-side optimization, and its shards land in
    * driver-local scratch that remote executors could not read. */
  private def isDriverLocal(p: String): Boolean =
    scala.util.Try(java.net.URI.create(p.replace(" ", "%20")).getScheme)
      // unparseable-as-URI ⇒ a plain local path with odd characters
      // (remote URIs are well-formed by construction)
      .getOrElse(null) match {
      case null | "file" => true
      case _ => false
    }

  private[streaming] def splitPaths(files: Seq[String], scratch: java.nio.file.Path,
      thresholdBytes: Long): Seq[String] =
    files.flatMap { p =>
      val isArray = !p.endsWith(".jsonl") && !p.endsWith(".ndjson") &&
        !p.endsWith(".csv")
      // the size probe and the split itself only make sense for
      // driver-local paths; ANY probe/split failure (remote scheme,
      // vanished file, permission) falls back to handing the original
      // path straight to Spark — the pre-r14 behavior, so a delivery
      // that Spark could read can never be failed by the optimizer
      val splittable = isArray && isDriverLocal(p) &&
        scala.util.Try(
          java.nio.file.Files.size(localPath(p)) > thresholdBytes)
          .getOrElse(false)
      if (splittable)
        scala.util.Try(graft.ingest.ArraySplitter.split(localPath(p), scratch)
          .map(_.map(_.toString)).getOrElse(Seq(p))).getOrElse(Seq(p))
      else Seq(p)
    }

  private def doProcessBatch(spark: SparkSession, cfg: Config,
      files: Seq[(String, java.sql.Timestamp)], batchId: Long,
      scratch: java.nio.file.Path): Unit = {
    import spark.implicits._

    val fileMeta = files.toDF("location", "uploaded_at")
      .withColumn("file_id", baseName(col("location")))
      .withColumn("filename", col("file_id"))
      .withColumn("content_type", lit("application/json"))
      .withColumn("ingest_batch_id", lit(batchId))

    def withStatus(status: String) = fileMeta
      .withColumn("status", lit(status))
      .withColumn("total_records", lit(0L))
      .withColumn("records_processed", lit(0L))
      .withColumn("records_failed", lit(0L))
      .select(controlCols.map(col): _*)

    // the batch's files enter `processing` (reference
    // file_splitter.py:62-66): an atomic control-store commit an
    // observer can read until the terminal rows replace it
    upsertControl(cfg, withStatus(Status.Processing))

    // distributed parse of this batch's files; cached because it feeds
    // the quarantine check, the upsert AND the counters (and Spark
    // requires a cache to filter on _corrupt_record alone). Shard
    // names map back to their delivery's file_id (suffix strip), so
    // control identity, poison grain and version ordering are
    // split-invariant — including A17: a corrupt record in an
    // array-derived shard keys a file_id WITHOUT a .jsonl suffix, so
    // the poison rule below fails the whole delivery, exactly as the
    // unsplit multiLine parse would.
    val raw = Ingest.readDeliveries(spark,
        splitPaths(files.map(_._1), scratch, cfg.arraySplitBytes))
      .withColumn("_file_id",
        regexp_replace(baseName(col("_source_file")),
          graft.ingest.ArraySplitter.ShardSuffixRe, ""))
      .cache()
    val hasCorrupt = raw.columns.contains("_corrupt_record")

    // A17: a malformed JSON-ARRAY file yields corrupt marker rows → the
    // whole file is failed and none of its rows are ingested (the
    // reference's ijson stream-parse failure, file_splitter.py:74-93).
    // A corrupt line in a JSONL file is a RECORD failure, not file
    // poison: the marker row flows on with a null `code` and is counted
    // by the validation filter, matching record-level validation
    // (data_processor.py:60-70).
    val failedFileIds =
      if (hasCorrupt)
        raw.filter(col("_corrupt_record").isNotNull &&
            !col("_file_id").rlike("\\.(jsonl|ndjson)$"))
          .select(col("_file_id")).distinct()
      else raw.limit(0).select(col("_file_id"))

    val healthy = raw.join(broadcast(failedFileIds), Seq("_file_id"),
      "left_anti")

    val prepared = Ingest.prepare(healthy.drop("_file_id", Ingest.ProbeCol))
      .withColumn("file_id",
        regexp_replace(baseName(col("file_id")),
          graft.ingest.ArraySplitter.ShardSuffixRe, ""))

    // upsert valid records into the products snapshot; later file names
    // (timestamp-prefixed by the reference's upload naming) win.
    // Bucket-grain copy-on-write: only the delivery shuffles, only the
    // buckets it touches are rewritten and the rest are inherited —
    // O(delta) write volume, the Mongo-parity cost
    // (data_processor.py:95-113). A batch with no valid record touches
    // no bucket and publishes no products version.
    val store = productsStore(cfg)
    Upsert.commitDeltaCow(store,
      store.read(spark).getOrElse(emptyProducts(spark)),
      Ingest.valid(prepared), key = "code", version = Seq(col("file_id")))

    // terminal control rows: counters for healthy files, `failed` for
    // poison files (total unknown ⇒ 0, matching the reference which never
    // learns a count for an unparseable file).
    val counters = Tracker.withStatus(Tracker.counters(prepared))
    val healthyRows = fileMeta
      .join(broadcast(failedFileIds),
        col("file_id") === col("_file_id"), "left_anti")
      .join(counters, Seq("file_id"), "left")
      .na.fill(0L, Seq("total_records", "records_processed",
        "records_failed"))
      .na.fill(Status.Processed, Seq("status"))
      .select(controlCols.map(col): _*)
    val failedRows = withStatus(Status.Failed)
      .join(broadcast(failedFileIds),
        col("file_id") === col("_file_id"), "left_semi")
    upsertControl(cfg, healthyRows.unionByName(failedRows))
    raw.unpersist()
  }

  /** The `binaryFile` source's fixed schema (streaming sources require it
    * stated explicitly). */
  private val binaryFileSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("modificationTime", TimestampType),
    org.apache.spark.sql.types.StructField("length",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("content",
      org.apache.spark.sql.types.BinaryType)))

  /** The discovery stream: file METADATA only (content pruned away). */
  def discoveryStream(spark: SparkSession, cfg: Config): DataFrame = {
    var reader = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("maxFilesPerTrigger", cfg.maxFilesPerTrigger)
    cfg.archiveDir.foreach { dir =>
      reader = reader.option("cleanSource", "archive")
        .option("sourceArchiveDir", dir)
    }
    reader.load(cfg.landingDir)
      .select(col("path"), col("modificationTime"))
  }

  /** Start the pipeline with the given trigger. */
  def start(spark: SparkSession, cfg: Config,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    discoveryStream(spark, cfg).writeStream
      .queryName("graft-ingest")
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val files = batch
          .select(col("path"), col("modificationTime").cast(TimestampType))
          .collect()  // file METADATA, O(#files in batch) — not data rows
          .map(r => (r.getString(0), r.getTimestamp(1))).toSeq
        processBatch(spark, cfg, files, batchId)
        cfg.afterBatchCommit(batchId)
      }
      .start()

  /** Drain everything currently in the landing dir and stop (the batch
    * form a weekly-delivery cron would run; also the test entry). */
  def runAvailable(spark: SparkSession, cfg: Config): Unit = {
    val q = start(spark, cfg, Trigger.AvailableNow())
    try q.awaitTermination() finally if (q.isActive) q.stop()
  }
}
