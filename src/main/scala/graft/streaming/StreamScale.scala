package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Scaling experiment for the STREAMING state machines — the SCALE.md
  * treatment the batch heavies already have: drive each machine at
  * ×1/×4/×16/×64 the base event volume, at FIXED state partitions (the
  * 4-partition drive pin), delivering the data as 8 event-time-ordered
  * chunks (one micro-batch each), and record per trigger the wall time
  * and the state store's row/byte counts (`StateOperatorProgress`, free
  * on `query.recentProgress`).
  *
  * What the curves must show for the 100 TB argument to hold:
  *   1. STATE PLATEAUS AT THE WATERMARK BOUND — after the horizon
  *      fills, state rows stop growing with total history (they track
  *      the factor, i.e. the input RATE, not time). A machine whose
  *      state grows monotonically across triggers at fixed rate is a
  *      finding.
  *   2. PER-TRIGGER TIME IS LINEAR IN TRIGGER INPUT, not in total
  *      history — constant across triggers at one factor, ∝factor
  *      across factors.
  *
  * Scaled copies replicate the events table with user_id and event_id
  * remapped per replica (stride = max + 1) over the SAME 30-day span:
  * per-key event cadence, session shape, and join selectivity are
  * preserved while the event RATE grows linearly — the shape a growing
  * production stream actually has. Chunks are equal TIME slices, so
  * each micro-batch advances the watermark by the same span and
  * eviction runs every trigger.
  *
  * Machines: one per state-layout family (the same-family drives share
  * the cost class — PERF.md r7): windowed aggregate (tumbling; sliding
  * is the same operator with overlap), symmetric-hash stream-stream
  * join (ivj_inner, plus the left/full outer variants — same join
  * state, but the outer forms additionally HOLD unmatched rows until
  * the other side's watermark clears their range, so their plateau is
  * worth its own curve rather than an argument),
  * native session merge/evict (session_window), the fMGWS session
  * tracker (session_tracker — the same per-user session state but held
  * in USER code via flatMapGroupsWithState + event-time timeout, a
  * different state code path worth its own curve), watermark-bounded
  * dedup, the custom TopKPairs aggregate codec inside window state, and
  * transformWithState per-user totals on RocksDB (keyed state WITHOUT
  * watermark eviction — its plateau is key cardinality, not horizon),
  * plus tws_ttl: the same keyed state under a processing-time TTL with
  * slice-unique (churning) keys, where the plateau must be LIVE keys
  * in the TTL window — rise then fall — not keys ever seen.
  *
  * Output: one JSON line per (machine, factor) with per-trigger
  * `{in, ms, stateRows, stateBytes}`, plus the aggregate file
  * `target/stream_scale.json`; SCALE.md records the findings.
  */
object StreamScale {

  private val Chunks = 8

  /** The provider each machine's JSON line records: tws always runs
    * on RocksDB (transformWithState requires it); every other machine
    * runs on the SPARK_GRAFT_STATE_PROVIDER store
    * ([[DriveSupport.envProviderName]]), the default HDFS-backed one
    * when unset — so the curves can be recorded on both. */
  private def providerFor(machine: String): String =
    if (machine.startsWith("tws")) "rocksdb"
    else DriveSupport.envProviderName.getOrElse("hdfs")

  /** Wall-clock pacing for the TTL eviction curve: state TTL is
    * processing-time-based, so the tws_ttl machine sleeps this long
    * after each chunk lands — with TtlSeconds = 2×pause, the live
    * window spans ~2 slices' keys and eviction is observable
    * trigger-over-trigger instead of a wall-clock race. The machine
    * runs on a throttled processing-time trigger (not the default
    * back-to-back one): under TimeMode.ProcessingTime the operator
    * always requests another micro-batch for timer/TTL work, so
    * `processAllAvailable` never settles and the drive polls the
    * progress stream instead, letting the EMPTY triggers run the
    * per-batch TTL cleanup that evicts retired keys. */
  private val TtlPauseMs = 2000L
  private val TtlSeconds = 4L
  private val TtlTriggerMs = 500L

  /** Replicate events ×factor (user/event ids salted per replica, ts
    * kept) and persist it partitioned into `Chunks` equal time slices,
    * keyed by the base fixture's fingerprint. Also writes the
    * purchases/views split the interval join stages. */
  private def ensureScaled(spark: SparkSession, sfDir: String,
      factor: Int): String =
    Tables.ensureDerived(spark, "stream-scale",
        Seq(sfDir, Tables.fingerprint(spark, sfDir, "events"), s"c$Chunks"),
        sub = s"/f$factor", parts = Seq("events", "p", "v")) { path =>
      val e = Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").cast("timestamp").as("ts"), col("value"))
      val Array(uStride, eStride, tMin, tMax) = e.agg(
        max(col("user_id")) + 1, max(col("event_id")) + 1,
        unix_micros(min(col("ts"))), unix_micros(max(col("ts"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray
      val scaled = (0 until factor).map(i => e
          .withColumn("user_id", col("user_id") + lit(i * uStride))
          .withColumn("event_id", col("event_id") + lit(i * eStride)))
        .reduce(_.unionByName(_))
        // equal time slices over [tMin, tMax]: chunk span = 30d/Chunks
        .withColumn("chunk", least(lit(Chunks - 1),
          floor((unix_micros(col("ts")) - tMin) * Chunks /
            (tMax - tMin + 1))).cast("int"))
      scaled.repartition(col("chunk"))
        .write.mode("overwrite").partitionBy("chunk")
        .parquet(s"$path/events")
      val staged = spark.read.parquet(s"$path/events")
      staged.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("value"), col("chunk"))
        .repartition(col("chunk"))
        .write.mode("overwrite").partitionBy("chunk").parquet(s"$path/p")
      staged.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id"),
          col("ts").as("view_ts"), col("value"), col("chunk"))
        .repartition(col("chunk"))
        .write.mode("overwrite").partitionBy("chunk").parquet(s"$path/v")
    }

  private case class Trigger(in: Long, ms: Long, stateRows: Long,
      stateBytes: Long)

  /** Run one machine over the staged chunks: start the query against
    * empty input dirs, deliver one time-slice per micro-batch, and
    * harvest every trigger's input rows / wall time / state size from
    * `recentProgress`. `feeds` maps each staged source subdir to the
    * workspace dir the machine's stream reads (the interval join feeds
    * two). */
  private def runMachine(spark: SparkSession, pre: String,
      machine: String): Seq[Trigger] =
    DriveSupport.withWorkspace(s"graft-sscale-$machine") { ws =>
      val provider =
        if (providerFor(machine) == "rocksdb")
          Some(DriveSupport.RocksDbProvider)
        else None
      // tws_ttl's throttled trigger emits ~2 progress entries/second
      // for the run's full wall; the default 100-entry retention would
      // silently drop the earliest triggers from both the polling sum
      // and the recorded curve
      val retention =
        if (machine == "tws_ttl")
          Seq("spark.sql.streaming.numRecentProgressUpdates" -> "1000")
        else Nil
      DriveSupport.withStreamConfs(spark, "4", provider) {
      DriveSupport.withConfs(spark, retention: _*) {
        // the file source checks path existence when the stream frame
        // is built, so the (initially empty) feed dirs go first
        val eDir = java.nio.file.Files
          .createDirectories(ws.resolve("events")).toString
        val pDir = java.nio.file.Files
          .createDirectories(ws.resolve("p")).toString
        val vDir = java.nio.file.Files
          .createDirectories(ws.resolve("v")).toString
        def stagedSchema(sub: String) =
          org.apache.spark.sql.types.StructType(
            spark.read.parquet(s"$pre/$sub/chunk=0").schema)
        def stream(dir: String, sub: String) =
          spark.readStream.schema(stagedSchema(sub)).parquet(dir)

        import spark.implicits._
        val (out, mode, feeds) = machine match {
          case "tumbling" => (
            EventStreams.tumbling(stream(eDir, "events")),
            "append", Seq("events" -> eDir))
          case "ivj_inner" => (
            EventStreams.intervalJoin(stream(pDir, "p"),
              stream(vDir, "v")),
            "append", Seq("p" -> pDir, "v" -> vDir))
          case "ivj_left" => (
            EventStreams.intervalJoinLeftOuter(stream(pDir, "p"),
              stream(vDir, "v")),
            "append", Seq("p" -> pDir, "v" -> vDir))
          case "ivj_full" => (
            EventStreams.intervalJoinFullOuter(stream(pDir, "p"),
              stream(vDir, "v")),
            "append", Seq("p" -> pDir, "v" -> vDir))
          case "session_tracker" => (
            EventStreams.sessionTracker(stream(eDir, "events")
              .select(col("user_id"), col("event_type"), col("ts"),
                col("value"))
              .as[EventStreams.UserEvent]).toDF(),
            "append", Seq("events" -> eDir))
          case "session_window" => (
            EventStreams.sessions(stream(eDir, "events")),
            "append", Seq("events" -> eDir))
          case "dedup" => (
            EventStreams.dedup(stream(eDir, "events")),
            "append", Seq("events" -> eDir))
          case "topk" => (
            EventStreams.windowedTopK(stream(eDir, "events")),
            "append", Seq("events" -> eDir))
          case "tws" => (
            EventStreams.runningTotals(stream(eDir, "events")
              .select(col("user_id"), col("event_type"), col("ts"),
                round(col("value") * 100, 0).as("value"))
              .as[EventStreams.UserEvent]).toDF(),
            "update", Seq("events" -> eDir))
          case "tws_ttl" =>
            // the churning-keys twin of tws: remap each user to a
            // FRESH id per time slice (a key's whole life is one
            // micro-batch's input), set a processing-time TTL, and
            // pace the triggers — state rows must then track LIVE
            // keys (rise to the TTL window, fall on the drain
            // triggers), not keys ever seen. The property a 100 TB
            // per-user-state job with churning users depends on.
            val staged = spark.read.parquet(s"$pre/events")
            val Array(uStride, tMin, tMax) = staged.agg(
                max(col("user_id")) + 1, unix_micros(min(col("ts"))),
                unix_micros(max(col("ts"))))
              .head().toSeq.map(_.asInstanceOf[Long]).toArray
            val slice = least(lit(Chunks - 1),
              floor((unix_micros(col("ts")) - tMin) * Chunks /
                (tMax - tMin + 1)))
            (EventStreams.runningTotals(
              stream(eDir, "events")
                .withColumn("user_id",
                  col("user_id") + slice * lit(uStride))
                .select(col("user_id"), col("event_type"), col("ts"),
                  round(col("value") * 100, 0).as("value"))
                .as[EventStreams.UserEvent],
              org.apache.spark.sql.streaming.TTLConfig(
                java.time.Duration.ofSeconds(TtlSeconds))).toDF(),
            "update", Seq("events" -> eDir))
          case other => sys.error(s"unknown machine '$other'")
        }
        val writer = out.writeStream.outputMode(mode).format("noop")
          .option("checkpointLocation", ws.resolve("ckpt").toString)
        val q =
          if (machine == "tws_ttl")
            writer.trigger(org.apache.spark.sql.streaming.Trigger
              .ProcessingTime(s"$TtlTriggerMs milliseconds")).start()
          else writer.start()
        DriveSupport.draining(q) {
          if (machine == "tws_ttl") {
            // processAllAvailable never settles here (see TtlPauseMs
            // note), so wait for each chunk's rows to be CONSUMED via
            // the progress stream, then sleep while the throttled
            // empty triggers run TTL cleanup; after the last chunk, a
            // final drain sleep must show state falling to zero
            val perChunk = spark.read.parquet(s"$pre/events")
              .groupBy(col("chunk")).count().collect()
              .map(r => r.getInt(0) -> r.getLong(1)).toMap
            var expected = 0L
            for (c <- 0 until Chunks) {
              feeds.foreach { case (sub, dir) =>
                spark.read.parquet(s"$pre/$sub/chunk=$c")
                  .coalesce(1).write.mode("append").parquet(dir)
              }
              expected += perChunk(c)
              val deadline = System.nanoTime() + 120L * 1000000000L
              while (q.recentProgress.map(_.numInputRows).sum < expected) {
                require(System.nanoTime() < deadline,
                  s"tws_ttl drive stalled waiting for chunk $c")
                Thread.sleep(100)
              }
              Thread.sleep(TtlPauseMs)
            }
            Thread.sleep(TtlSeconds * 1000 + 2 * TtlPauseMs)
          } else {
            for (c <- 0 until Chunks) {
              feeds.foreach { case (sub, dir) =>
                spark.read.parquet(s"$pre/$sub/chunk=$c")
                  .coalesce(1).write.mode("append").parquet(dir)
              }
              q.processAllAvailable()
            }
          }
          q.recentProgress.toSeq.map { p =>
            Trigger(p.numInputRows,
              p.durationMs.get("triggerExecution"),
              p.stateOperators.map(_.numRowsTotal).sum,
              p.stateOperators.map(_.memoryUsedBytes).sum)
          }
        }
      }
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = graft.Sessions.sfDir("sf0.01")
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    val machines = sys.env.get("SPARK_GRAFT_MACHINES")
      .map(_.split(",").toSeq.map(_.trim))
      .getOrElse(Seq("tumbling", "ivj_inner", "ivj_left", "ivj_full",
        "session_window", "session_tracker", "dedup", "topk", "tws",
        "tws_ttl"))

    val lines = scala.collection.mutable.ArrayBuffer[String]()
    graft.Sessions.factors.foreach { f =>
      val pre = ensureScaled(spark, sfDir, f)
      machines.foreach { m =>
        val triggers = runMachine(spark, pre, m)
        val tJson = triggers.map(t =>
          s"""{"in":${t.in},"ms":${t.ms},"stateRows":${t.stateRows},""" +
            s""""stateBytes":${t.stateBytes}}""").mkString("[", ",", "]")
        val line = s"""{"machine":"$m","factor":$f,""" +
          s""""triggers":$tJson,"sf":"$sfDir","partitions":4,""" +
          s""""provider":"${providerFor(m)}"}"""
        println(line)
        lines += line
      }
    }
    val outPath = java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_STREAM_SCALE_OUT", "target/stream_scale.json"))
    Option(outPath.getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(outPath,
      lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
