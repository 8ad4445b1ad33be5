package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.Tables

/** Every SF-scaled streaming drive must produce EXACTLY its batch
  * twin's rows — the streaming watermark/state machinery
  * (single-trigger arrival, sentinel flush, exactly-once
  * null-extension, cross-batch dedup state) may not add, drop, or
  * duplicate a single row. */
class StreamDriveSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def batchTwin(mode: String) = {
    val events = Tables.load(spark, dir, "events")
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts"), col("value").as("purchase_value"))
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"), col("value").as("view_value"))
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

  test("fixture precondition: no same-user gap is EXACTLY the 30-minute boundary") {
    // The three-way session parity (batch gaps-and-islands vs native
    // session_window vs fMGWS tracker) relies on no same-user
    // consecutive gap landing exactly on 30 minutes: gaps-and-islands
    // opens a new session on gap > 30min (strict), session_window
    // merges while next < last + gap (half-open) — a tie would make
    // them disagree and surface as a confusing hash mismatch. Check
    // every SF the drives run at, so a regenerated fixture fails HERE
    // with a pointed message instead.
    import org.apache.spark.sql.expressions.Window
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val w = Window.partitionBy("user_id").orderBy("ts")
      val ties = Tables.load(spark, s"/root/testdata/$sf", "events")
        .select(col("user_id"), col("ts"))
        .withColumn("gap_us",
          unix_micros(col("ts").cast("timestamp")) -
            unix_micros(lag(col("ts"), 1).over(w).cast("timestamp")))
        .filter(col("gap_us") === 30L * 60 * 1000000)
        .count()
      assert(ties === 0,
        s"$sf has $ties exact-30-minute same-user gaps — regenerated " +
          "fixture hits the strict-vs-half-open session boundary; the " +
          "three-way session parity no longer holds by construction")
    }
  }

  test("session_window drive == batch gaps-and-islands sessions, row for row") {
    val streamed = EventDrives.sessions(spark, dir)
    val batch = graft.query.Events.sessionize(spark, dir)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0 &&
      batch.exceptAll(streamed).count() === 0,
      "native session_window sessions must equal the batch islands")
  }

  test("restart drive == batch gaps-and-islands sessions, row for row") {
    // the oracle-key form of RestartRecoverySpec's session test: stop
    // mid-stream at a data-derived cut, restart from the checkpoint,
    // and the union of emissions must still be the batch sessions
    val streamed = EventDrives.sessionsRestart(spark, dir)
    val batch = graft.query.Events.sessionize(spark, dir)
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0 &&
      batch.exceptAll(streamed).count() === 0,
      "restarted session_window drive must equal the batch islands")
  }

  test("DriveSupport: confs restored and workspace deleted when the body throws") {
    val spKey = "spark.sql.shuffle.partitions"
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val spBefore = spark.conf.get(spKey)
    val provBefore = spark.conf.getOption(provKey)
    intercept[RuntimeException] {
      DriveSupport.withStreamConfs(spark, "7",
        provider = Some("does.not.Matter")) {
        assert(spark.conf.get(spKey) === "7")
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(spKey) === spBefore,
      "partition pin must be restored on failure")
    assert(spark.conf.getOption(provKey) === provBefore,
      "provider conf must be restored on failure")
    var leaked: java.nio.file.Path = null
    intercept[RuntimeException] {
      DriveSupport.withWorkspace("graft-test-ws") { ws =>
        leaked = ws
        java.nio.file.Files.writeString(ws.resolve("junk"), "x")
        throw new RuntimeException("boom")
      }
    }
    assert(!java.nio.file.Files.exists(leaked),
      "workspace must be deleted even when the drive fails")
    // the same three guarantees through the drive primitive, with the
    // query running when its serve throws
    var driveWs: java.nio.file.Path = null
    val e = intercept[RuntimeException] {
      DriveSupport.memoryDrive(spark, "test_fail", "append", "7") { ws =>
        driveWs = ws
        val in = ws.resolve("in").toString
        spark.range(3).toDF("id").write.parquet(in)
        spark.readStream.schema("id LONG").parquet(in)
      } { sink =>
        assert(spark.conf.get(spKey) === "7")
        assert(spark.streams.active.nonEmpty)
        assert(sink.count() === 3)
        throw new RuntimeException("boom")
      }
    }
    // a failed assert inside the drive is a RuntimeException too
    assert(e.getMessage === "boom")
    assert(spark.conf.get(spKey) === spBefore,
      "partition pin must be restored when a drive fails")
    assert(spark.conf.getOption(provKey) === provBefore,
      "provider conf must be restored when a drive fails")
    assert(!java.nio.file.Files.exists(driveWs),
      "drive workspace must be deleted when the drive fails")
    assert(spark.streams.active.isEmpty,
      "drive query must be stopped when the drive fails")
  }

  test("DriveSupport.pin refuses an oversized result") {
    // the guard collects through limit(MaxPinRows+1), so it fails
    // after materializing at most one row past the cap — never the
    // unbounded tail of the oversized frame
    val oversized = spark.range(DriveSupport.MaxPinRows + 1).toDF()
    val e = intercept[IllegalArgumentException] {
      DriveSupport.pin(spark, oversized)
    }
    assert(e.getMessage.contains("MaxPinRows"))
  }

  test("DriveSupport.bufferBatch refuses an oversized micro-batch") {
    // same single-evaluation guard shape as pin: collects through
    // limit(remaining+1), fails after at most one row past the cap
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.Row]
    val oversized = spark.range(DriveSupport.MaxPinRows + 1).toDF()
    val e = intercept[IllegalArgumentException] {
      DriveSupport.bufferBatch(buf, oversized)
    }
    assert(e.getMessage.contains("MaxPinRows"))
    assert(buf.isEmpty, "a refused batch must not leak rows into the buffer")
  }

  test("DriveSupport.bufferBatch counts the cap cumulatively across batches") {
    // a buffer already at the cap refuses even a 1-row batch, but
    // still accepts an empty one — the guard is on total buffered
    // rows, not per-batch size
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.Row]
    var i = 0L
    while (i < DriveSupport.MaxPinRows) {
      buf.add(org.apache.spark.sql.Row(i)); i += 1
    }
    DriveSupport.bufferBatch(buf, spark.range(0).toDF()) // empty: fine
    val e = intercept[IllegalArgumentException] {
      DriveSupport.bufferBatch(buf, spark.range(1).toDF())
    }
    assert(e.getMessage.contains("MaxPinRows"))
    assert(buf.size() === DriveSupport.MaxPinRows.toInt)
  }

  test("fMGWS tracker drive == native session_window drive == batch islands") {
    // three session implementations, one truth: the custom state
    // machine must agree with both the native operator's drive and the
    // batch form (value scaled: tracker outputs exact cents / 100)
    val tracker = EventDrives.tracker(spark, dir)
    val batch = graft.query.Events.sessionize(spark, dir)
    assert(tracker.count() === batch.count())
    assert(tracker.exceptAll(batch).count() === 0 &&
      batch.exceptAll(tracker).count() === 0,
      "hand-written session state machine must equal the batch islands")
  }

  test("windowed top-k drive == batch window row_number, row for row") {
    import org.apache.spark.sql.expressions.Window
    val streamed = EventDrives.topk(spark, dir)
    val w = Window.partitionBy("window_start")
      .orderBy(col("value").desc, col("event_id").asc)
    val batch = Tables.load(spark, dir, "events")
      .select(date_trunc("hour", col("ts")).cast("timestamp_ntz")
          .as("window_start"),
        col("event_id"), col("value"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("window_start", "rn", "event_id", "value")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0 &&
      batch.exceptAll(streamed).count() === 0,
      "state-store top-k must equal the batch window ranking")
  }

  test("heavy-hitters drive: every per-window exact heavy hitter " +
      "survives the state-store MG sketch") {
    val streamed = EventDrives.heavyHitters(spark, dir)
    // exact side recomputed directly (the oracle's half)
    val exact = Tables.load(spark, dir, "events")
      .select(date_trunc("hour", col("ts")).cast("timestamp_ntz")
          .as("window_start"),
        explode(expr("transform(sequence(1, 32), " +
          "r -> concat('z', cast(32 div r as string)))")).as("item"))
      .groupBy("window_start", "item").agg(count(lit(1)).as("c"))
    val tot = exact.groupBy("window_start").agg(sum("c").as("n"))
    val heavy = exact.join(tot, "window_start")
      .filter(col("c") * 9 > col("n"))
      .select(col("window_start"), col("item"),
        col("c").as("exact_cnt"), lit(true).as("caught"))
    val rows = streamed.collect()
    val got = rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(got.nonEmpty, "no window produced a heavy hitter — vacuous")
    assert(rows.forall(_.getBoolean(3)),
      "MG sketch in streaming state missed a true heavy hitter")
    val want = heavy.collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    assert(got === want, "exact side diverges from direct computation")
    // non-vacuity of the sketch: at least one window must have MORE
    // distinct items than the k=8 slots (the sketch actually dropped)
    val maxDistinct = exact.groupBy("window_start")
      .agg(count(lit(1)).as("d")).agg(max("d")).first().getLong(0)
    assert(maxDistinct > 8, s"only $maxDistinct distinct items/window")
  }

  test("dedup drive absorbs a full cross-batch re-delivery exactly") {
    val streamed = EventDrives.dedup(spark, dir)
    val original = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
    assert(streamed.count() === original.count(),
      "every re-delivered row must be dropped, every original kept")
    assert(streamed.exceptAll(original).count() === 0 &&
      original.exceptAll(streamed).count() === 0)
  }

  test("transformWithState drive == batch GROUP BY, row for row") {
    val streamed = EventDrives.twsTotals(spark, dir)
    val batch = Tables.load(spark, dir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100, 0)).cast("long").as("total_cents"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0 &&
      batch.exceptAll(streamed).count() === 0,
      "RocksDB state totals must equal the batch aggregation exactly")
  }

  for (mode <- Seq("inner", "left", "full"))
    test(s"$mode streaming drive == batch join, row for row") {
      val streamed = EventDrives.intervalJoin(spark, dir, mode)
      val batch = batchTwin(mode)
      assert(streamed.count() === batch.count(),
        s"$mode row counts diverge")
      assert(streamed.exceptAll(batch).count() === 0,
        s"$mode: streaming emitted rows the batch join doesn't have")
      assert(batch.exceptAll(streamed).count() === 0,
        s"$mode: streaming dropped rows the batch join has")
    }
}
