package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues,
  ValueState}

import graft.core.Tables.moneySum

/** True streaming forms of the event-time window operators (SURVEY.md §2
  * B17/B18). The batch-equivalent, oracle-checked forms live in
  * graft.query.Events — the window SEMANTICS are identical Spark
  * built-ins; these wrap them with watermarks for unbounded sources and
  * are exercised by StreamingEventsSpec over a streaming source.
  *
  * State at scale: the watermark bounds window state (late data beyond it
  * is dropped and its windows evicted); tumbling/sliding state is
  * per-(window,key) — hash-partitioned by key across executors; session
  * state is per-user, merged by `session_window`'s native state store
  * operator. Output mode `update`/`append` both work; append emits only
  * watermark-closed (final) windows — that is what a downstream sink
  * should consume.
  */
object EventStreams {

  /** 1-hour tumbling count/sum per event_type over a streaming events
    * source (`ts` event-time, 1h watermark for lateness). */
  def tumbling(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** 1-hour windows sliding every 30 minutes. */
  def sliding(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))

  /** Stream-stream interval join: purchases enriched with the same
    * user's views from the preceding 30 minutes. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * the state store evicts rows once the watermark passes the range —
    * bounded state on two unbounded streams. Batch twin
    * (oracle-checked, time-bucketed): [[graft.query.Temporal
    * .intervalJoin]]. */
  def intervalJoin(purchases: DataFrame, views: DataFrame,
      keyed: Boolean = false): DataFrame = {
    val j = purchases.withWatermark("ts", "1 hour").alias("p")
      .join(views.withWatermark("view_ts", "1 hour").alias("v"),
        expr("""p.user_id = v.v_user AND
                v.view_ts > p.ts - INTERVAL 30 MINUTES AND
                v.view_ts <= p.ts"""))
    // `keyed` adds both event ids so the output carries a total order —
    // what the oracle-checked SF-scaled drive (EventDrives.intervalJoin)
    // needs; the plain form keeps the original 5-column shape the specs
    // pin.
    if (keyed) j.select(col("p.user_id"),
      col("p.event_id").as("purchase_id"), col("p.ts"),
      col("p.value").as("purchase_value"),
      col("v.event_id").as("view_id"), col("v.view_ts"),
      col("v.value").as("view_value"))
    else j.select(col("p.user_id"), col("p.ts"), col("p.value")
      .as("purchase_value"), col("v.view_ts"), col("v.value")
      .as("view_value"))
  }

  /** LEFT OUTER stream-stream interval join: like [[intervalJoin]] but
    * a purchase with NO qualifying view still comes out — null-extended
    * — once the watermark guarantees no matching view can still arrive.
    * That deferred null-extension is THE left-outer streaming semantic:
    * the engine must hold the unmatched row in state until the view-side
    * watermark passes the join range's upper bound, then emit exactly
    * one null row for it (an eager emit would double-fire if a late
    * match landed). Same bounded-state eviction as the inner form. */
  def intervalJoinLeftOuter(purchases: DataFrame, views: DataFrame,
      keyed: Boolean = false): DataFrame = {
    val j = purchases.withWatermark("ts", "1 hour").alias("p")
      .join(views.withWatermark("view_ts", "1 hour").alias("v"),
        expr("""p.user_id = v.v_user AND
                v.view_ts > p.ts - INTERVAL 30 MINUTES AND
                v.view_ts <= p.ts"""),
        "leftOuter")
    if (keyed) j.select(col("p.user_id"),
      col("p.event_id").as("purchase_id"), col("p.ts"),
      col("p.value").as("purchase_value"),
      col("v.event_id").as("view_id"), col("v.view_ts"),
      col("v.value").as("view_value"))
    else j.select(col("p.user_id"), col("p.ts"), col("p.value")
      .as("purchase_value"), col("v.view_ts"), col("v.value")
      .as("view_value"))
  }

  /** FULL OUTER stream-stream interval join — completes the join
    * family: BOTH sides null-extend. A purchase with no qualifying
    * view emits once the view-side watermark clears its range (as in
    * the left-outer form), AND a view that no purchase ever claimed
    * emits null-extended once the purchase-side watermark passes the
    * last instant a claiming purchase could still arrive (view_ts +
    * 30 min). So state eviction is symmetric: each side's rows are
    * held exactly until the OTHER side's watermark proves no match
    * can come — the same bounded-state guarantee, applied twice. */
  def intervalJoinFullOuter(purchases: DataFrame, views: DataFrame,
      keyed: Boolean = false): DataFrame = {
    val j = purchases.withWatermark("ts", "1 hour").alias("p")
      .join(views.withWatermark("view_ts", "1 hour").alias("v"),
        expr("""p.user_id = v.v_user AND
                v.view_ts > p.ts - INTERVAL 30 MINUTES AND
                v.view_ts <= p.ts"""),
        "fullOuter")
    if (keyed) j.select(col("p.user_id"),
      col("p.event_id").as("purchase_id"), col("p.ts"),
      col("p.value").as("purchase_value"),
      col("v.v_user").as("view_user"),
      col("v.event_id").as("view_id"), col("v.view_ts"),
      col("v.value").as("view_value"))
    else j.select(col("p.user_id"), col("p.ts"), col("p.value")
      .as("purchase_value"), col("v.v_user").as("view_user"),
      col("v.view_ts"), col("v.value").as("view_value"))
  }

  /** Stream-static enrichment — each micro-batch joined to a STATIC
    * dimension, the most common streaming join in practice (event →
    * user segment / product attributes). No watermark or join-state
    * involved: Spark re-evaluates the static side per trigger, so a
    * dimension served through SnapshotStore picks up a snapshot swap
    * at the next micro-batch automatically. The explicit broadcast
    * ships the dim once per executor and the stream side never
    * shuffles — the same dimension-join shape the batch engine uses.
    * LEFT join: an event with no dimension row survives
    * null-extended rather than silently dropping from the stream. */
  def enrich(events: DataFrame, dim: DataFrame,
      key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Exactly-once restoration over an at-least-once source: drop
    * re-delivered events by key. `dropDuplicatesWithinWatermark` keeps
    * dedup state only for keys younger than the watermark horizon —
    * bounded state on an unbounded stream (plain dropDuplicates on a
    * stream grows state forever). Batch twin (oracle-checked):
    * [[graft.query.Events.streamDedup]]. */
  def dedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-window top-k events by value, via the custom bounded-heap
    * aggregate ([[graft.functions.TopKPairs]]) running INSIDE streaming
    * state: each micro-batch updates the k-bounded buffer, the state
    * store persists the serialized buffer between triggers, and append
    * mode emits the finalized top-k when the watermark closes the
    * window. This is the strongest correctness exercise the aggregate
    * gets — its serialize/merge path runs on every trigger, not just at
    * one shuffle (EventStreamsSpec drives out-of-order multi-batch
    * input and checks against the batch form). */
  def windowedTopK(events: DataFrame, k: Int = 3,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.top_k(col("value"), col("event_id"), k)
        .as("top"))
      .select(col("window.start").as("window_start"),
        posexplode(col("top")).as(Seq("i", "p")))
      .select(col("window_start"), (col("i") + 1).cast("long").as("rn"),
        col("p.id").as("event_id"), col("p.score").as("value"))

  /** Input/output records for [[sessionTracker]]. */
  case class UserEvent(user_id: Long, event_type: String, ts: Timestamp,
      value: Double)
  case class SessionSummary(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, session_value: Double,
      closed_by: String)
  case class SessionState(start: Long, last: Long, n: Long,
      total: Double)

  /** CUSTOM state machine via flatMapGroupsWithState — for session
    * semantics the built-in `session_window` cannot express: a session
    * closes on a 30-minute gap OR an explicit `logout` event, whichever
    * comes first (`closed_by` says which). State per user is one
    * fixed-size record (timestamps as epoch micros — full event-time
    * precision); the event-time timeout (driven by the watermark)
    * evicts idle users, so state is bounded on an unbounded stream
    * exactly like the built-in operators. Emits a summary only when a
    * session closes (append semantics). */
  def sessionTracker(events: Dataset[UserEvent],
      gapMinutes: Int = 30, watermark: String = "1 hour")
      : Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    // Epoch MICROS as the state clock — `getTime` alone (millis) would
    // truncate: the synthetic events carry sub-millisecond timestamps
    // on ~every row, so session bounds kept in millis disagree with any
    // µs-accurate consumer (caught by the tracker drive's oracle). Local
    // defs: the update closure must not capture the EventStreams object
    // (NotSerializableException on the executor otherwise).
    def usOf(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def tsOf(us: Long): Timestamp = {
      val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }

    def summary(u: Long, s: SessionState, closedBy: String) =
      SessionSummary(u, tsOf(s.start), tsOf(s.last),
        s.n, s.total, closedBy)

    def update(user: Long, it: Iterator[UserEvent],
        state: GroupState[SessionState]): Iterator[SessionSummary] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(summary(user, _, "gap")).toList
        state.remove()
        return out.iterator
      }
      val closed = scala.collection.mutable.ListBuffer[SessionSummary]()
      it.toSeq.sortBy(e => usOf(e.ts)).foreach { e =>
        val t = usOf(e.ts)
        val cur = state.getOption match {
          case Some(s) if t - s.last > gapUs =>
            closed += summary(user, s, "gap")
            SessionState(t, t, 1, e.value)
          case Some(s) =>
            // min on start too: an out-of-order event (later batch,
            // still above the watermark) may PRECEDE the session start
            SessionState(math.min(s.start, t), math.max(s.last, t),
              s.n + 1, s.total + e.value)
          case None => SessionState(t, t, 1, e.value)
        }
        if (e.event_type == "logout") {
          closed += summary(user, cur, "logout")
          state.remove()
        } else {
          state.update(cur)
          // evict via event time: fire once the watermark passes
          // last-seen + gap (ceil µs → ms: firing must never precede
          // the true horizon; any event inside the rounded-up ms would
          // be below the watermark and dropped anyway)
          state.setTimeoutTimestamp(
            Math.floorDiv(cur.last + gapUs + 999L, 1000L))
        }
      }
      closed.iterator
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Output record for [[runningTotals]]. */
  case class UserRunning(user_id: Long, n_events: Long, total: Double)

  /** Per-user running count/total via `transformWithState` — the
    * arbitrary-stateful-processing V2 API (Spark 4.x
    * `StatefulProcessor`), the successor tier above
    * [[sessionTracker]]'s flatMapGroupsWithState: typed named state
    * handles (`ValueState`/`ListState`/`MapState`), per-state TTL, and
    * timers decoupled from the input iterator. State here is one
    * fixed-size `(n, total)` ValueState per user — bounded by the user
    * cardinality, hash-partitioned across executors; an optional TTL
    * evicts idle users without a hand-rolled timeout state machine —
    * the 100 TB answer for churning keys (state tracks LIVE users, not
    * users ever seen; eviction curve measured in StreamScale's tws_ttl
    * machine, SCALE.md). State TTL is processing-time-based, so a
    * non-NONE ttl switches the operator to `TimeMode.ProcessingTime`
    * (Spark refuses TTL under `TimeMode.None`); expired entries are
    * cleaned proactively per micro-batch via the store's TTL index
    * (OneToOneTTLState), not lazily on access.
    * Emits the updated running record once per user per micro-batch
    * (update semantics). REQUIRES the RocksDB state store provider —
    * the V2 operator does not run on the default HDFS-backed store;
    * callers set `spark.sql.streaming.stateStore.providerClass` before
    * starting the query (EventStreamsSpec shows the wiring). */
  def runningTotals(events: Dataset[UserEvent],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor(ttl),
        timeMode, OutputMode.Update())
  }

  /** The [[runningTotals]] state machine: one ValueState per user. */
  private class RunningTotalProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, UserEvent, UserRunning] {
    import org.apache.spark.sql.Encoders
    @transient private var agg: ValueState[(Long, Double)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      agg = getHandle.getValueState[(Long, Double)]("agg",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), ttl)

    override def handleInputRows(user: Long, rows: Iterator[UserEvent],
        timers: TimerValues): Iterator[UserRunning] = {
      var (n, total) = if (agg.exists()) agg.get() else (0L, 0.0)
      rows.foreach { e => n += 1; total += e.value }
      agg.update((n, total))
      Iterator.single(UserRunning(user, n, total))
    }
  }

  /** Session windows with a 30-minute inactivity gap, per user — the
    * native `session_window` stateful operator (the streaming twin of
    * Events.sessionize's gaps-and-islands batch form). The aggregate
    * mirrors the batch form — first/last event ts, count, exact-decimal
    * money sum — so the output has the batch key's schema;
    * `session_window.start/end` (last event + gap) are window
    * bookkeeping, not the oracle's session_end. */
  def sessions(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        moneySum(col("value")).as("session_value"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))
}
