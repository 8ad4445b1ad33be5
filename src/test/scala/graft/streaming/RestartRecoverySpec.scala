package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.SparkSuite
import graft.core.Tables
import graft.core.Tables.moneySum

/** Checkpoint-restart RECOVERY for every streaming state machine — the
  * production property a preempted job depends on: stop the query
  * mid-stream (state half-built), start a new incarnation from the SAME
  * checkpoint, and the union of both incarnations' emissions must still
  * equal the batch twin row-for-row. Only `transformWithState` had this
  * proven (EventStreamsSpec); these cover the other seven machines:
  * the three stream-stream interval joins, native `session_window`, the
  * fMGWS session tracker, `dropDuplicatesWithinWatermark`, and the
  * bounded-heap top-k aggregate (whose state-store codec — serialize /
  * merge of the TopKPairs buffer — only fully surfaces across a
  * restart).
  *
  * Anti-vacuity: each test picks its restart cut from the DATA so that
  * state provably straddles the stop — a matched join pair split across
  * the restart, a session whose head is before the cut and whose tail
  * after, a window whose events land on both sides — and asserts the
  * precondition. A lost state store therefore yields missing, split, or
  * duplicated rows, never a silently-green run. The memory sink refuses
  * checkpoint recovery, so emissions drain through foreachBatch into a
  * driver-side buffer (the EventStreamsSpec recovery pattern); results
  * are bounded drive-sized frames, same as DriveSupport.pin. The
  * aggregate-codec machines (session merge, TopKPairs buffer) and dedup
  * additionally prove recovery on BOTH state store providers — default
  * HDFS and RocksDB (the production store, whose snapshot/changelog
  * reload is a separate code path).
  */
class RestartRecoverySpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** Providers to prove recovery on: the default HDFS-backed store and
    * RocksDB — the store a production deployment runs, whose
    * snapshot/changelog reload is a different code path entirely. The
    * aggregate-codec machines (session merge, TopKPairs buffer) and
    * dedup run under both; the machines whose state layout is
    * engine-managed rows (the joins, fMGWS) stay on the default. */
  private val providers: Seq[(String, Option[String])] = Seq(
    "hdfs store" -> None,
    "rocksdb store" -> Some("org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider"))

  /** Run one incarnation of the streaming frame against `ckpt`,
    * collecting every output batch into `buf`; stopped afterwards. */
  private def incarnation(out: DataFrame, ckpt: String,
      buf: ConcurrentLinkedQueue[Row])(deliver: StreamingQuery => Unit)
      : Unit = {
    val q = out.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        DriveSupport.bufferBatch(buf, b)
      }.start()
    try deliver(q) finally q.stop()
  }

  private def pinned(schema: StructType,
      buf: ConcurrentLinkedQueue[Row]): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](buf), schema)

  private def assertSame(got: DataFrame, want: DataFrame,
      hint: String): Unit = {
    assert(got.count() === want.count(), s"$hint: row counts diverge")
    assert(got.exceptAll(want).count() === 0 &&
      want.exceptAll(got).count() === 0,
      s"$hint: rows diverge from the batch twin after restart")
  }

  // ---------------------------------------------------------- interval joins

  private def purchasesViews = {
    val events = Tables.load(spark, dir, "events")
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id"),
        col("ts").cast("timestamp").as("view_ts"), col("value"))
    (p, v)
  }

  /** Earliest strictly-ordered matched pair's view_ts: that view lands
    * in delivery #1, its purchase in delivery #2 — the view must sit in
    * join state ACROSS the restart for the pair to ever emit. */
  private def ivjCut(p: DataFrame, v: DataFrame): Timestamp = {
    val strict = p.alias("p").join(v.alias("v"),
      expr("""p.user_id = v.v_user AND
              v.view_ts > p.ts - INTERVAL 30 MINUTES AND
              v.view_ts < p.ts"""))
      .select(col("v.view_ts")).orderBy("view_ts").limit(1).collect()
    assert(strict.nonEmpty, "fixture precondition: need a matched pair " +
      "with the view strictly before the purchase to straddle the restart")
    strict(0).getTimestamp(0)
  }

  private def ivjBatchTwin(mode: String): DataFrame = {
    val (p0, v0) = purchasesViews
    val p = p0.select(col("user_id"), col("event_id").as("purchase_id"),
      col("ts"), col("value").as("purchase_value"))
    val v = v0.select(col("v_user"), col("event_id").as("view_id"),
      col("view_ts"), col("value").as("view_value"))
    val cond = p("user_id") === v("v_user") &&
      v("view_ts") > p("ts") - expr("INTERVAL 30 MINUTES") &&
      v("view_ts") <= p("ts")
    val joinType = mode match {
      case "inner" => "inner"; case "left" => "leftOuter"
      case "full" => "fullOuter"
    }
    val j = p.join(v, cond, joinType)
    if (mode == "full")
      j.select(col("user_id"), col("purchase_id"), col("ts"),
        col("purchase_value"), col("v_user").as("view_user"),
        col("view_id"), col("view_ts"), col("view_value"))
    else
      j.select(col("user_id"), col("purchase_id"), col("ts"),
        col("purchase_value"), col("view_id"), col("view_ts"),
        col("view_value"))
  }

  for (mode <- Seq("inner", "left", "full"))
    test(s"$mode interval join recovers join state across a restart") {
      val (p, v) = purchasesViews
      val cut = ivjCut(p, v)
      DriveSupport.withWorkspace("graft-restart-ivj") { ws =>
        DriveSupport.withStreamConfs(spark) {
          val pDir = ws.resolve("p").toString
          val vDir = ws.resolve("v").toString
          p.filter(col("ts") <= lit(cut)).coalesce(1).write.parquet(pDir)
          v.filter(col("view_ts") <= lit(cut)).coalesce(1)
            .write.parquet(vDir)
          val pStream = spark.readStream.schema(p.schema).parquet(pDir)
          val vStream = spark.readStream.schema(v.schema).parquet(vDir)
          val joined = mode match {
            case "inner" =>
              EventStreams.intervalJoin(pStream, vStream, keyed = true)
            case "left" =>
              EventStreams.intervalJoinLeftOuter(pStream, vStream,
                keyed = true)
            case "full" =>
              EventStreams.intervalJoinFullOuter(pStream, vStream,
                keyed = true)
          }
          val buf = new ConcurrentLinkedQueue[Row]
          val ckpt = ws.resolve("ckpt").toString
          // incarnation #1: only the pre-cut halves; the straddling
          // pair's view enters state, its purchase has not arrived
          incarnation(joined, ckpt, buf)(_.processAllAvailable())
          // incarnation #2 from the SAME checkpoint: the post-cut
          // halves + (outer modes) sentinel nudges to flush the held
          // null-extensions, exactly as EventDrives.intervalJoin does
          incarnation(joined, ckpt, buf) { q =>
            p.filter(col("ts") > lit(cut)).coalesce(1)
              .write.mode("append").parquet(pDir)
            v.filter(col("view_ts") > lit(cut)).coalesce(1)
              .write.mode("append").parquet(vDir)
            q.processAllAvailable()
            if (mode != "inner") {
              val maxTs = p.agg(max("ts")).head().getTimestamp(0)
              Seq("366 days", "367 days").foreach { shift =>
                val sentinel = spark.range(1)
                  .select(lit(-1L).as("user_id"), lit(-1L).as("event_id"),
                    (lit(maxTs) + expr(s"INTERVAL $shift")).as("ts"),
                    lit(0.0).as("value"))
                sentinel.write.mode("append").parquet(pDir)
                sentinel.toDF("v_user", "event_id", "view_ts", "value")
                  .write.mode("append").parquet(vDir)
                q.processAllAvailable()
              }
            }
          }
          val got = pinned(joined.schema, buf)
            .filter((col("purchase_id").isNull ||
                col("purchase_id") =!= -1L) &&
              (col("view_id").isNull || col("view_id") =!= -1L))
          assertSame(got, ivjBatchTwin(mode), s"$mode interval join")
        }
      }
    }

  // ------------------------------------------------------------- sessions

  /** Cut that splits a session across the restart: the predecessor ts
    * of some event that CONTINUES a session (strictly later, gap ≤ 30
    * min) — head lands in delivery #1, tail in delivery #2, so the open
    * session must be restored from the checkpoint or it emits split /
    * not at all. */
  private def sessionCut(staged: DataFrame): Timestamp = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    val rows = staged
      .withColumn("prev", lag(col("ts"), 1).over(byUser))
      .filter(col("prev").isNotNull && col("ts") > col("prev") &&
        col("ts") <= col("prev") + expr("INTERVAL 30 MINUTES"))
      .orderBy(desc("prev")).select(col("prev")).limit(1).collect()
    assert(rows.nonEmpty, "fixture precondition: need a multi-event " +
      "session to straddle the restart")
    rows(0).getTimestamp(0)
  }

  private def sessionSentinels(eDir: String, maxTs: Timestamp,
      q: StreamingQuery, withType: Boolean): Unit =
    Seq("366 days", "367 days").foreach { shift =>
      val base = spark.range(1).select(lit(-1L).as("user_id"),
        (lit(maxTs) + expr(s"INTERVAL $shift")).as("ts"),
        lit(0.0).as("value"))
      val row = if (withType) base.select(col("user_id"),
        lit("view").as("event_type"), col("ts"), col("value"))
      else base
      row.write.mode("append").parquet(eDir)
      q.processAllAvailable()
    }

  /** Shared final shape: drop sentinels, assign the per-user session
    * index over the recovered emissions, cast back to ntz — then the
    * result must equal the batch gaps-and-islands sessions. */
  private def sessionShape(raw: DataFrame, value: org.apache.spark.sql
      .Column): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("session_start").asc)
    raw.filter(col("user_id") =!= -1L)
      .withColumn("session_id", row_number().over(byUser).cast("long"))
      .select(col("user_id"), col("session_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), value.as("session_value"))
  }

  for ((label, prov) <- providers)
  test(s"native session_window recovers open sessions across a restart ($label)") {
    val staged = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
        col("value"))
    val cut = sessionCut(staged)
    DriveSupport.withWorkspace("graft-restart-sess") { ws =>
      DriveSupport.withStreamConfs(spark, provider = prov) {
        val eDir = ws.resolve("events").toString
        staged.filter(col("ts") <= lit(cut)).coalesce(1).write.parquet(eDir)
        val stream = spark.readStream.schema(staged.schema).parquet(eDir)
        val out = stream.withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"),
            count(lit(1)).as("n_events"),
            moneySum(col("value")).as("session_value"))
          .select(col("user_id"), col("session_start"),
            col("session_end"), col("n_events"), col("session_value"))
        val buf = new ConcurrentLinkedQueue[Row]
        val ckpt = ws.resolve("ckpt").toString
        incarnation(out, ckpt, buf)(_.processAllAvailable())
        incarnation(out, ckpt, buf) { q =>
          staged.filter(col("ts") > lit(cut)).coalesce(1)
            .write.mode("append").parquet(eDir)
          q.processAllAvailable()
          val maxTs = staged.agg(max("ts")).head().getTimestamp(0)
          sessionSentinels(eDir, maxTs, q, withType = false)
        }
        assertSame(
          sessionShape(pinned(out.schema, buf), col("session_value")),
          graft.query.Events.sessionize(spark, dir),
          "session_window restart")
      }
    }
  }

  test("fMGWS session tracker recovers open sessions across a restart") {
    import spark.implicits._
    // cents staging + /100 on the way out: the tracker drive's determinism
    // contract (integer-valued doubles add exactly in any order)
    val staged = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"),
        round(col("value") * 100, 0).as("value"))
    val cut = sessionCut(staged.select(col("user_id"), col("ts")))
    DriveSupport.withWorkspace("graft-restart-tracker") { ws =>
      DriveSupport.withStreamConfs(spark) {
        val eDir = ws.resolve("events").toString
        staged.filter(col("ts") <= lit(cut)).coalesce(1).write.parquet(eDir)
        val out = EventStreams.sessionTracker(
          spark.readStream.schema(staged.schema).parquet(eDir)
            .as[EventStreams.UserEvent]).toDF()
        val buf = new ConcurrentLinkedQueue[Row]
        val ckpt = ws.resolve("ckpt").toString
        incarnation(out, ckpt, buf)(_.processAllAvailable())
        incarnation(out, ckpt, buf) { q =>
          staged.filter(col("ts") > lit(cut)).coalesce(1)
            .write.mode("append").parquet(eDir)
          q.processAllAvailable()
          val maxTs = staged.agg(max("ts")).head().getTimestamp(0)
          sessionSentinels(eDir, maxTs, q, withType = true)
        }
        assertSame(
          sessionShape(pinned(out.schema, buf),
            col("session_value") / 100.0),
          graft.query.Events.sessionize(spark, dir),
          "fMGWS tracker restart")
      }
    }
  }

  // -------------------------------------------------------------- top-k

  for ((label, prov) <- providers)
  test(s"windowed top-k recovers the heap state across a restart ($label)") {
    val staged = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("value"))
    // cut inside the BUSIEST hour window, at its median event: the
    // window's half-built TopKPairs buffer must deserialize from the
    // checkpoint and merge with the post-restart events — the codec
    // path a within-run drive never exercises
    val busiest = staged.groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n")).orderBy(desc("n"), col("w.start"))
      .head().getStruct(0).getTimestamp(0)
    val inWin = staged
      .filter(col("ts") >= lit(busiest) &&
        col("ts") < lit(busiest) + expr("INTERVAL 1 HOUR"))
      .orderBy("ts").collect()
    assert(inWin.length >= 2, "fixture precondition: busiest window " +
      "needs ≥2 events to straddle the restart")
    val cut = inWin((inWin.length - 1) / 2).getTimestamp(1)
    assert(inWin.exists(_.getTimestamp(1).after(cut)),
      "fixture precondition: an event after the cut inside the window")
    DriveSupport.withWorkspace("graft-restart-topk") { ws =>
      DriveSupport.withStreamConfs(spark, provider = prov) {
        val eDir = ws.resolve("events").toString
        staged.filter(col("ts") <= lit(cut)).coalesce(1).write.parquet(eDir)
        val out = EventStreams.windowedTopK(
          spark.readStream.schema(staged.schema).parquet(eDir))
        val buf = new ConcurrentLinkedQueue[Row]
        val ckpt = ws.resolve("ckpt").toString
        incarnation(out, ckpt, buf)(_.processAllAvailable())
        incarnation(out, ckpt, buf) { q =>
          staged.filter(col("ts") > lit(cut)).coalesce(1)
            .write.mode("append").parquet(eDir)
          q.processAllAvailable()
          val maxTs = staged.agg(max("ts")).head().getTimestamp(0)
          Seq("366 days", "367 days").foreach { shift =>
            spark.range(1).select(lit(-1L).as("event_id"),
              (lit(maxTs) + expr(s"INTERVAL $shift")).as("ts"),
              lit(-1.0).as("value"))
              .write.mode("append").parquet(eDir)
            q.processAllAvailable()
          }
        }
        val w = Window.partitionBy("window_start")
          .orderBy(col("value").desc, col("event_id").asc)
        val batch = Tables.load(spark, dir, "events")
          .select(date_trunc("hour", col("ts")).cast("timestamp_ntz")
              .as("window_start"), col("event_id"), col("value"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 3)
          .select("window_start", "rn", "event_id", "value")
        val got = pinned(out.schema, buf)
          .filter(col("event_id") =!= -1L)
          .select(col("window_start").cast("timestamp_ntz")
              .as("window_start"),
            col("rn"), col("event_id"), col("value"))
        assertSame(got, batch, "windowed top-k restart")
      }
    }
  }

  // ------------------------------------------------------- heavy hitters

  for ((label, prov) <- providers)
  test(s"MG heavy-hitters sketch recovers across a restart — the " +
      s"completeness guarantee holds ($label)") {
    val ramp = "transform(sequence(1, 32), " +
      "r -> concat('z', cast(32 div r as string)))"
    val staged = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"))
    // cut inside the busiest hour window: its half-built MG HashMap
    // must serialize into the checkpoint, deserialize in the new
    // incarnation, and MERGE with the post-restart stream — the codec
    // + merge path a within-run drive never exercises across a restart
    val busiest = staged.groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n")).orderBy(desc("n"), col("w.start"))
      .head().getStruct(0).getTimestamp(0)
    val inWin = staged
      .filter(col("ts") >= lit(busiest) &&
        col("ts") < lit(busiest) + expr("INTERVAL 1 HOUR"))
      .orderBy("ts").collect()
    val cut = inWin((inWin.length - 1) / 2).getTimestamp(1)
    DriveSupport.withWorkspace("graft-restart-hh") { ws =>
      DriveSupport.withStreamConfs(spark, provider = prov) {
        val eDir = ws.resolve("events").toString
        staged.filter(col("ts") <= lit(cut)).coalesce(1).write.parquet(eDir)
        val out = spark.readStream.schema(staged.schema).parquet(eDir)
          .select(col("ts"), explode(expr(ramp)).as("item"))
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(graft.functions.heavy_hitters_sketch(col("item"), 8)
            .as("hh"))
          .select(col("window.start").as("window_start"), col("hh"))
        val buf = new ConcurrentLinkedQueue[Row]
        val ckpt = ws.resolve("ckpt").toString
        incarnation(out, ckpt, buf)(_.processAllAvailable())
        incarnation(out, ckpt, buf) { q =>
          staged.filter(col("ts") > lit(cut)).coalesce(1)
            .write.mode("append").parquet(eDir)
          q.processAllAvailable()
          val maxTs = staged.agg(max("ts")).head().getTimestamp(0)
          Seq("366 days", "367 days").foreach { shift =>
            spark.range(1).select(lit(-1L).as("event_id"),
              (lit(maxTs) + expr(s"INTERVAL $shift")).as("ts"))
              .write.mode("append").parquet(eDir)
            q.processAllAvailable()
          }
        }
        // the guarantee — NOT row equality: survivor sets below the
        // (k+1)f > n bar legitimately differ with the merge tree, and
        // a restart IS a different merge tree. Every exact heavy
        // hitter per window must still be in that window's survivors.
        val survivors = pinned(out.schema, buf).collect()
          .map(r => r.getTimestamp(0) -> r.getSeq[String](1).toSet)
          .toMap
        val exact = Tables.load(spark, dir, "events")
          .select(date_trunc("hour", col("ts")).as("window_start"),
            explode(expr(ramp)).as("item"))
          .groupBy("window_start", "item").agg(count(lit(1)).as("c"))
        val tot = exact.groupBy("window_start").agg(sum("c").as("n"))
        val heavy = exact.join(tot, "window_start")
          .filter(col("c") * 9 > col("n"))
          .collect().map(r => (r.getTimestamp(0), r.getString(1)))
        assert(heavy.nonEmpty, "no heavy hitters — vacuous")
        // the cut window must actually have emitted post-restart
        assert(survivors.contains(busiest),
          "busiest (cut) window missing from the stream output")
        heavy.foreach { case (w, item) =>
          assert(survivors.get(w).exists(_.contains(item)),
            s"window $w lost heavy hitter $item across the restart")
        }
      }
    }
  }

  // ----------------------------------------------------- transformWithState

  test("transformWithState recovers running totals across a restart " +
      "(real table)") {
    // EventStreamsSpec proves tws restart on a 4-row synthetic stream;
    // this completes the set — all EIGHT machines restart-proven over
    // the real events table. Update-mode emissions re-state a user's
    // running record each batch, so the recovered truth is the LAST
    // emission per user (batch id attached in foreachBatch); a lost
    // ValueState would restart every post-cut user's count from zero.
    import spark.implicits._
    val staged = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"),
        round(col("value") * 100, 0).as("value"))
    val cut = sessionCut(staged.select(col("user_id"), col("ts")))
    DriveSupport.withWorkspace("graft-restart-tws") { ws =>
      DriveSupport.withStreamConfs(spark, provider = Some(
        "org.apache.spark.sql.execution.streaming." +
          "state.RocksDBStateStoreProvider")) {
        val eDir = ws.resolve("events").toString
        staged.filter(col("ts") <= lit(cut)).coalesce(1).write.parquet(eDir)
        val out = EventStreams.runningTotals(
          spark.readStream.schema(staged.schema).parquet(eDir)
            .as[EventStreams.UserEvent]).toDF()
        val ckpt = ws.resolve("ckpt").toString
        val buf = new ConcurrentLinkedQueue[(Long, Row)]
        def run(deliver: StreamingQuery => Unit): Unit = {
          val q = out.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: Dataset[Row], id: Long) =>
              b.collect().foreach(r => buf.add((id, r)))
            }.start()
          try deliver(q) finally q.stop()
        }
        run(_.processAllAvailable())
        run { q =>
          staged.filter(col("ts") > lit(cut)).coalesce(1)
            .write.mode("append").parquet(eDir)
          q.processAllAvailable()
        }
        import scala.jdk.CollectionConverters._
        val finals = buf.asScala.toSeq.groupBy(_._2.getLong(0))
          .values.map(_.maxBy(_._1)._2).toSeq
        val got = spark.createDataFrame(
            new java.util.ArrayList[Row](finals.asJava), out.schema)
          .select(col("user_id"), col("n_events"),
            col("total").cast("long").as("total_cents"))
        val want = Tables.load(spark, dir, "events")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value") * 100, 0)).cast("long")
              .as("total_cents"))
        assertSame(got, want, "transformWithState restart")
      }
    }
  }

  // -------------------------------------------------------------- dedup

  for ((label, prov) <- providers)
  test(s"cross-batch dedup state survives a restart, full re-delivery ($label)") {
    // 720h watermark: nothing is ever late on this 30-day fixture, so
    // EVERY re-delivered row must be absorbed by RESTORED dedup state —
    // the late-row filter can't mask a state loss here (a lost store
    // would re-emit all 1000 rows)
    val staged = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"), col("value"))
    // precondition: the fixture's span must fit inside the watermark,
    // or boundary rows would be dropped as late instead of absorbed by
    // restored state — silently weakening the state-loss detection
    val maxTs = staged.agg(max(col("ts"))).head().getTimestamp(0)
    val lateRows = staged.filter(
      col("ts") < lit(maxTs) - expr("INTERVAL 720 HOURS")).count()
    assert(lateRows == 0L,
      s"fixture span exceeds the 720h watermark ($lateRows rows would " +
        "be late) — regenerated events table? widen the watermark")
    DriveSupport.withWorkspace("graft-restart-dedup") { ws =>
      DriveSupport.withStreamConfs(spark, provider = prov) {
        val eDir = ws.resolve("events").toString
        staged.coalesce(1).write.parquet(eDir)
        val out = EventStreams.dedup(
          spark.readStream.schema(staged.schema).parquet(eDir),
          watermark = "720 hours")
        val buf = new ConcurrentLinkedQueue[Row]
        val ckpt = ws.resolve("ckpt").toString
        incarnation(out, ckpt, buf)(_.processAllAvailable())
        incarnation(out, ckpt, buf) { q =>
          // byte-identical re-delivery of the ENTIRE table, post-restart
          staged.coalesce(1).write.mode("append").parquet(eDir)
          q.processAllAvailable()
        }
        val got = pinned(out.schema, buf)
          .withColumn("ts", col("ts").cast("timestamp_ntz"))
        val want = Tables.load(spark, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("ts"), col("value"))
        assertSame(got, want, "dedup restart")
      }
    }
  }
}
