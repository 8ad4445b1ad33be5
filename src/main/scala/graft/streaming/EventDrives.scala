package graft.streaming

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Tables

/** Oracle-checked, SF-scaled drives of the event-table streaming state
  * machines: each stages the real events table, runs one machine
  * through [[DriveSupport.memoryDrive]] and serves a hash-comparable
  * result, putting the machine under both the DuckDB oracle and the
  * bench — a state-store or provider regression surfaces as a hash
  * mismatch or a bench number, not only as a spec failure. Staging
  * whose files never change is paid once per session
  * ([[DriveSupport.stagedOnce]]); only the stream is in the measured
  * path. */
object EventDrives {

  /** The `transformWithState` running-totals operator
    * (EventStreams.runningTotals) — gives the RocksDB
    * stateful-processing-V2 path a presence in both gates, which it
    * otherwise lacks entirely.
    *
    * Mechanics: the events table is staged once through the parquet
    * file source (one file → one micro-batch), grouped per user through
    * the RocksDB-backed ValueState processor, drained into a memory sink
    * in update mode. With a single input batch the sink holds exactly
    * one final record per user — the complete running totals — so the
    * result is hash-comparable to a plain GROUP BY oracle.
    *
    * Determinism: the processor accumulates a Double in per-user state,
    * and the in-batch iterator order is not fixed, so raw 2-dp values
    * would drift at ulp level across runs/engines. The drive therefore
    * stages `value` as WHOLE CENTS in a double (`round(value*100)`):
    * integer-valued doubles add exactly in any order up to 2^53, making
    * the state total bit-deterministic; the output exposes it as a
    * bigint `total_cents`. */
  def twsTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"),
        round(col("value") * 100, 0).as("value"))
    val eDir = DriveSupport.stagedOnce(spark, s"tws|$dir") { sws =>
      val d = sws.resolve("events").toString
      events.coalesce(1).write.parquet(d)
      d
    }
    DriveSupport.memoryDrive(spark, "tws", "update",
        provider = Some(DriveSupport.RocksDbProvider)) { _ =>
      EventStreams.runningTotals(spark.readStream.schema(events.schema)
        .parquet(eDir).as[EventStreams.UserEvent]).toDF()
    } { sink =>
      DriveSupport.pin(spark, sink
          .select(col("user_id"), col("n_events"),
            col("total").cast("long").as("total_cents")))
        .orderBy("user_id")
    }
  }

  /** The custom bounded-heap top-k aggregate
    * ([[graft.functions.TopKPairs]]) running INSIDE streaming window
    * state (EventStreams.windowedTopK) — the aggregate's
    * serialize/deserialize/merge path persists through the state store
    * on every trigger here, a strictly harder exercise than the one
    * shuffle the batch `window_topk_agg` key gives it. Hash-compared
    * against a plain DuckDB hour-window row_number oracle (value DESC,
    * event_id ASC — the aggregate's exact tiebreak), so any corruption
    * in the buffer codec or merge order shows up as a hash mismatch at
    * the driver, not just a spec failure.
    *
    * Mechanics: 1-hour tumbling windows, append mode — a window's top-k
    * emits only when the watermark closes it, hence the sentinel
    * (`event_id = -1` can never rank: every real value is positive, the
    * sentinel value is negative, and its window is filtered anyway).
    *
    * State at scale: one k-bounded buffer per (window) group — fixed
    * memory per group, partial aggregation map-side, watermark-evicted.
    * ~720 hourly-window groups: the same ObjectHashAggregate fallback
    * as [[heavyHitters]], so the buffers are kept in the hash regime
    * ([[DriveSupport.withHashAggHeadroom]]). */
  def topk(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .select(col("event_id"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    val eDir = DriveSupport.stagedOnce(spark, s"topk|$dir") { sws =>
      val d = sws.resolve("events").toString
      events.coalesce(1).write.parquet(d)
      DriveSupport.sentinel(events)(ts => Seq(lit(-1L).as("event_id"),
          ts.as("ts"), lit(-1.0).as("value")))
        .write.mode("append").parquet(d)
      d
    }
    DriveSupport.withHashAggHeadroom(spark) {
      DriveSupport.memoryDrive(spark, "topk", "append") { _ =>
        EventStreams.windowedTopK(
          spark.readStream.schema(events.schema).parquet(eDir))
      } { sink =>
        DriveSupport.pin(spark, sink.filter(col("event_id") =!= -1L))
          .select(
            col("window_start").cast("timestamp_ntz").as("window_start"),
            col("rn"), col("event_id"), col("value"))
          .orderBy("window_start", "rn")
      }
    }
  }

  /** `dropDuplicatesWithinWatermark` (EventStreams.dedup) — completes
    * the streaming-state-machine set in the driver gates (interval
    * joins, transformWithState, session_window, dedup).
    *
    * The at-least-once regime is simulated with the real table: the
    * ENTIRE events table is delivered twice — once in trigger #1 and
    * again (byte-identical re-delivery) in trigger #2. After trigger #1
    * the watermark sits at max(ts) − 1 h, so a re-delivered row is
    * absorbed by ONE of two mechanisms, both of which must work: rows
    * older than the watermark are dropped by the late-row filter, and
    * rows inside the final hour are dropped by the cross-batch dedup
    * state. Exactly-once restoration means the output is the original
    * table, which is the oracle: a plain projection of events. Output
    * rows don't need a sentinel flush (dedup emits survivors eagerly in
    * append mode). Staging is per RUN (the re-delivery appends to it).
    * The restart drive (RestartRecoverySpec) isolates the state path: a
    * state-store loss across its checkpoint restart would re-emit the
    * inside-horizon duplicates.
    *
    * State at scale: one state row per event_id younger than the
    * watermark horizon — the bounded-state contract that plain
    * dropDuplicates on a stream lacks; hash-partitioned by key. */
  def dedup(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    def stage(ws: Path): String = {
      val eDir = ws.resolve("events").toString
      events.coalesce(1).write.mode("append").parquet(eDir)
      eDir
    }
    DriveSupport.memoryDrive(spark, "dedup", "append",
        deliver = (q: StreamingQuery, ws: Path) => {
          q.processAllAvailable()
          // trigger #2: the full re-delivery — every row a duplicate the
          // cross-batch state must drop
          stage(ws)
          q.processAllAvailable()
        }) { ws =>
      EventStreams.dedup(
        spark.readStream.schema(events.schema).parquet(stage(ws)))
    } { sink =>
      DriveSupport.pin(spark, sink)
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .orderBy("event_id")
    }
  }

  private val itemsExpr =
    "transform(sequence(1, 32), r -> concat('z', cast(32 div r as string)))"

  /** The Misra–Gries sketch ([[graft.functions.MisraGriesItems]])
    * running INSIDE streaming window state — the sketch's
    * serialize/deserialize/merge path persists through the state store
    * on EVERY trigger (the [[topk]] exercise, applied to the frequency
    * sketch): each micro-batch updates the k-bounded buffer, append
    * mode emits the survivors when the watermark closes the window.
    *
    * What the key asserts is ONLY the order-free MG theorem, per
    * window: every item with (k+1)·f > n_window is in that window's
    * survivor set. The output rows are the EXACTLY-derived per-window
    * heavy hitters (deterministic batch algebra over the same events)
    * plus the `caught` membership flag — the oracle re-derives the
    * exact side and pins `caught` to literal TRUE, so a corruption
    * anywhere in the sketch's state-store codec or merge flips the hash.
    *
    * Item stream: every event fans out to the 32-item ramp
    * `z(32 div r), r = 1..32` (the batch `agg_heavy_hitters` fixture's
    * shape at the event grain, halved — 10 distinct items per event
    * still exceed the k = 8 slots) — so EVERY nonempty window is
    * genuinely lossy and exactly z1 (16/32) and z2 (6/32) clear the
    * per-window (k+1)·f > n bar, regardless of how many events the
    * window holds. State at scale: one ≤ k-entry buffer per window —
    * fixed memory, watermark-evicted. ~720 hourly-window groups per
    * task: without [[DriveSupport.withHashAggHeadroom]] the
    * ObjectHashAggregate fallback was SORTING the 3.2M exploded rows by
    * window before aggregating (measured: ~0.7 s of the drive). */
  def heavyHitters(spark: SparkSession, dir: String, k: Int = 8)
      : DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"))
    val eDir = DriveSupport.stagedOnce(spark, s"hh|$dir") { sws =>
      val d = sws.resolve("events").toString
      // staged as EIGHT files, not one: the file source maps one small
      // file to one input partition, so a single-file staging would run
      // the 32× explode + sketch partial aggregation — this drive's
      // dominant cost — on ONE task. All files still land in trigger #1
      // (no maxFilesPerTrigger), so the one-batch drive semantics are
      // untouched; the MG output exposes only the order-free membership
      // guarantee, so partial-aggregation parallelism cannot move it
      events.repartition(8).write.parquet(d)
      // the sentinel's far-future window stays open in state and is
      // dropped by the serve's inner join — `events` predates it
      DriveSupport.sentinel(events)(ts =>
          Seq(lit(-1L).as("event_id"), ts.as("ts")))
        .write.mode("append").parquet(d)
      d
    }
    DriveSupport.withHashAggHeadroom(spark) {
      DriveSupport.memoryDrive(spark, "hh", "append") { _ =>
        spark.readStream.schema(events.schema).parquet(eDir)
          .select(col("ts"), explode(expr(itemsExpr)).as("item"))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(graft.functions.heavy_hitters_sketch(col("item"), k)
            .as("hh"))
          .select(col("window.start").as("window_start"), col("hh"))
      } { sink =>
        val survivors = DriveSupport.pin(spark, sink)
        // fanOut: the exact side re-derives the 32× ramp explode from
        // the one-split events table — single-task otherwise (r20
        // profile: 1.8 s of the drive in that one stage)
        val exact = Tables.fanOut(events)
          .select(date_trunc("hour", col("ts")).as("window_start"),
            explode(expr(itemsExpr)).as("item"))
          .groupBy("window_start", "item").agg(count(lit(1)).as("c"))
        val totals = exact.groupBy("window_start").agg(sum("c").as("n"))
        exact.join(totals, "window_start")
          .filter(col("c") * (k + 1) > col("n"))
          .join(survivors, Seq("window_start"))
          .select(
            col("window_start").cast("timestamp_ntz").as("window_start"),
            col("item"), col("c").as("exact_cnt"),
            array_contains(col("hh"), col("item")).as("caught"))
          .orderBy("window_start", "item")
      }
    }
  }

  /** Number each user's closed sessions 1..k by start time (the
    * oracle's `session_id`, assigned after the drain — a window over
    * the pinned, already-tiny session rows) and expose the session
    * bounds as ntz, with `value` as `session_value`: the one session-row
    * shape all three session drives serve. */
  private def numberedSessions(sessions: DataFrame,
      value: Column = col("session_value")): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("session_start").asc)
    sessions
      .withColumn("session_id", row_number().over(byUser).cast("long"))
      .select(col("user_id"), col("session_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), value.as("session_value"))
      .orderBy("user_id", "session_id")
  }

  /** The CUSTOM flatMapGroupsWithState session tracker
    * (EventStreams.sessionTracker) — with this, THREE independent
    * session implementations pin to ONE oracle: the batch
    * gaps-and-islands form (`stream_session`), the native
    * session_window state machine ([[sessions]]), and this
    * hand-written state machine, which must all agree row-for-row on
    * the real events table (no logout events exist there, so every
    * close is a gap/timeout close — the semantics the three share).
    *
    * Determinism: the tracker accumulates `value` sequentially in
    * event-time order inside its state record, which would differ from
    * the oracle's exact-decimal sum at ulp level — so the drive stages
    * value as WHOLE CENTS (integer-valued doubles add exactly in any
    * order) and divides once at the end: `cents / 100.0` is the
    * correctly-rounded double of the exact decimal total, bit-identical
    * to the oracle's `CAST(SUM(DECIMAL) AS DOUBLE)`. Timestamps flow at
    * full µs precision through the tracker's micros state clock (the r7
    * precision fix this drive exists to gate). The sentinel (user -1)
    * advances the watermark so every open session's event-time timeout
    * fires in the no-data batch.
    *
    * State at scale: one fixed-size record per active user, hash-
    * partitioned, watermark-evicted. */
  def tracker(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"),
        round(col("value") * 100, 0).as("value"))
    val eDir = DriveSupport.stagedOnce(spark, s"tracker|$dir") { sws =>
      val d = sws.resolve("events").toString
      events.coalesce(1).write.parquet(d)
      DriveSupport.sentinel(events)(ts => Seq(lit(-1L).as("user_id"),
          lit("view").as("event_type"), ts.as("ts"), lit(0.0).as("value")))
        .write.mode("append").parquet(d)
      d
    }
    DriveSupport.memoryDrive(spark, "tracker", "append") { _ =>
      EventStreams.sessionTracker(spark.readStream.schema(events.schema)
        .parquet(eDir).as[EventStreams.UserEvent]).toDF()
    } { sink =>
      numberedSessions(
        DriveSupport.pin(spark, sink.filter(col("user_id") =!= -1L)),
        col("session_value") / 100.0)
    }
  }

  /** The native `session_window` streaming operator
    * (EventStreams.sessions): the whole events table flows through the
    * session-merging state store and the emitted sessions are
    * hash-compared against the SAME gaps-and-islands DuckDB oracle the
    * batch `stream_session` key uses.
    *
    * Parity notes. (1) EventStreams.sessions' aggregate mirrors the
    * batch form, so the output is the batch key's schema. (2) The
    * fixture has NO exact-30-minute same-user gaps at any SF — CI-gated
    * by StreamDriveSpec's fixture-precondition test, so a regenerated
    * fixture fails with a pointed message — hence the
    * strict-vs-inclusive boundary difference between gaps-and-islands
    * (`gap > 30min` opens) and session_window (merge while
    * `next < end`) cannot bite. (3) Append mode only emits
    * watermark-closed sessions, hence the sentinel.
    *
    * State at scale: session state is per (user, open-session), merged
    * by the native operator and evicted at watermark passage — bounded
    * by active users, hash-partitioned. The drive times exactly that
    * merge/evict path at the benched SF. */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    val events = sessionEvents(spark, dir)
    val eDir = DriveSupport.stagedOnce(spark, s"session|$dir") { sws =>
      val d = sws.resolve("events").toString
      events.coalesce(1).write.parquet(d)
      sessionSentinel(events).write.mode("append").parquet(d)
      d
    }
    DriveSupport.memoryDrive(spark, "session", "append") { _ =>
      EventStreams.sessions(
        spark.readStream.schema(events.schema).parquet(eDir))
    } { sink =>
      numberedSessions(
        DriveSupport.pin(spark, sink.filter(col("user_id") =!= -1L)))
    }
  }

  private def sessionEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("value"))

  private def sessionSentinel(events: DataFrame): DataFrame =
    DriveSupport.sentinel(events)(ts =>
      Seq(lit(-1L).as("user_id"), ts.as("ts"), lit(0.0).as("value")))

  /** The same session_window drive, but STOPPED and RESTARTED from its
    * checkpoint mid-stream — the RestartRecoverySpec recovery property
    * promoted to a driver-checkable oracle key: the union of both
    * incarnations' append emissions must still hash-match the identical
    * gaps-and-islands oracle the uninterrupted drive uses.
    *
    * The restart cut is data-derived for anti-vacuity (the spec's
    * sessionCut): the predecessor timestamp of some event that
    * CONTINUES a session — the session's head lands in incarnation #1,
    * its tail in incarnation #2, so a lost state store emits that
    * session split (two rows) or not at all, never the oracle's one
    * row. The memory sink refuses checkpoint recovery, so emissions
    * drain through foreachBatch into a driver-side buffer via
    * DriveSupport.bufferBatch — the cumulative MaxPinRows guard, same
    * cap discipline as DriveSupport.pin. */
  def sessionsRestart(spark: SparkSession, dir: String): DataFrame =
    DriveSupport.withWorkspace("graft-session-restart") { ws =>
      val events = sessionEvents(spark, dir)

      // cut = latest prev-ts of a session-continuing event (strictly
      // later, gap <= 30 min): state provably straddles the stop
      val byTs = Window.partitionBy("user_id").orderBy("ts")
      val cutRows = events
        .withColumn("prev", lag(col("ts"), 1).over(byTs))
        .filter(col("prev").isNotNull && col("ts") > col("prev") &&
          col("ts") <= col("prev") + expr("INTERVAL 30 MINUTES"))
        .orderBy(desc("prev")).select(col("prev")).limit(1).collect()
      require(cutRows.nonEmpty, "fixture precondition: need a " +
        "multi-event session to straddle the restart — regenerated " +
        "events table?")
      val cut = cutRows(0).getTimestamp(0)

      DriveSupport.withStreamConfs(spark) {
        val eDir = ws.resolve("events").toString
        events.filter(col("ts") <= lit(cut)).coalesce(1).write.parquet(eDir)
        val out = EventStreams.sessions(
          spark.readStream.schema(events.schema).parquet(eDir))
        val buf = new ConcurrentLinkedQueue[Row]
        val ckpt = ws.resolve("ckpt").toString
        def incarnation(deliver: StreamingQuery => Unit): Unit = {
          val q = out.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: Dataset[Row], _: Long) =>
              DriveSupport.bufferBatch(buf, b)
            }.start()
          try deliver(q) finally q.stop()
        }
        incarnation(_.processAllAvailable())
        // the tail AND the sentinel are staged before incarnation #2
        // starts: its single batch replays state from the checkpoint,
        // absorbs both files at the recovered watermark (which real
        // tail rows beat by construction — the cut is 30 min behind
        // them), and the no-data batch emits every closed session
        val sentinel = sessionSentinel(events)
        events.filter(col("ts") > lit(cut)).coalesce(1)
          .write.mode("append").parquet(eDir)
        sentinel.write.mode("append").parquet(eDir)
        incarnation(_.processAllAvailable())
        // buf is already driver-side: createDataFrame yields a
        // session-owned LocalRelation, no pin needed
        numberedSessions(
          spark.createDataFrame(new java.util.ArrayList[Row](buf),
              out.schema)
            .filter(col("user_id") =!= -1L))
      }
    }

  /** The three stream-stream interval joins (EventStreams.intervalJoin
    * / LeftOuter / FullOuter; `mode` "inner" | "left" | "full") — the
    * result is hash-compared against a DuckDB interval-join oracle, and
    * the drive's wall-clock lands in BENCH_r*.json so a state-store
    * regression shows up as a number instead of a hung spec.
    *
    * Mechanics: purchases and views are staged from the REAL events
    * table, streamed back through the parquet file source, joined with
    * watermarks on both sides, and drained through a memory sink; one
    * sentinel per side (event_id = -1, filtered out of the returned
    * frame) rides the staging. Batch #1's commit advances both
    * watermarks past every real row's join range and the engine's
    * no-data micro-batch flushes the outer forms' held null-extensions
    * — one data batch + one no-data batch (r17; each dropped batch is a
    * full state-store load/commit cycle per partition per side). Net:
    * the streaming output is bit-identical to the batch/DuckDB oracle
    * on every row of the real data. The trio shares ONE staging per
    * (session, dir); each drive still gets its own checkpoint and sink.
    *
    * State at scale: both sides watermarked + time-bounded join
    * condition ⇒ each side's state is evicted once the other side's
    * watermark passes its range — bounded state on unbounded input,
    * per-user-hash partitioned. The drive measures exactly that path
    * (RocksDB/HDFS store build, probe, watermark eviction) at the
    * benched SF. */
  def intervalJoin(spark: SparkSession, dir: String, mode: String)
      : DataFrame = {
    val (pDir, vDir, pSchema, vSchema) =
      DriveSupport.stagedOnce(spark, s"ivj|$dir") { ws =>
        val events = Tables.load(spark, dir, "events")
        // watermarks require ltz TIMESTAMP
        // (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on ntz); stage as ltz and
        // cast back on the way out — the session tz is UTC, so the
        // ntz→ltz→ntz round-trip is identity
        val purchases = events.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
            col("ts").cast("timestamp").as("ts"), col("value"))
        val views = events.filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("event_id"),
            col("ts").cast("timestamp").as("view_ts"), col("value"))
        val pDir = ws.resolve("purchases").toString
        val vDir = ws.resolve("views").toString
        purchases.coalesce(1).write.parquet(pDir)
        views.coalesce(1).write.parquet(vDir)
        val sentinel = DriveSupport.sentinel(events)(ts =>
          Seq(lit(-1L).as("user_id"), lit(-1L).as("event_id"),
            ts.as("ts"), lit(0.0).as("value")))
        sentinel.write.mode("append").parquet(pDir)
        sentinel.toDF("v_user", "event_id", "view_ts", "value")
          .write.mode("append").parquet(vDir)
        (pDir, vDir, purchases.schema, views.schema)
      }
    DriveSupport.memoryDrive(spark, s"ivj_$mode", "append") { _ =>
      val pStream = spark.readStream.schema(pSchema).parquet(pDir)
      val vStream = spark.readStream.schema(vSchema).parquet(vDir)
      mode match {
        case "inner" => EventStreams.intervalJoin(pStream, vStream,
          keyed = true)
        case "left" => EventStreams.intervalJoinLeftOuter(pStream,
          vStream, keyed = true)
        case "full" => EventStreams.intervalJoinFullOuter(pStream,
          vStream, keyed = true)
      }
    } { sink =>
      val raw = sink
        .filter((col("purchase_id").isNull || col("purchase_id") =!= -1L)
          && (col("view_id").isNull || col("view_id") =!= -1L))
      DriveSupport.pin(spark, raw)
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .withColumn("view_ts", col("view_ts").cast("timestamp_ntz"))
        .orderBy(asc("purchase_id"), asc("view_id"))
    }
  }
}
