package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark: the run, an operation (a key
  * pass, a delivery, a read) or a call into one of graft's layers.
  * Spans of one operation share its `op` id. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    kind: String, group: String, startMs: Long, t0: Long, var t1: Long = 0L)

/** Counts that a layer call caused, summed over the Spark jobs, tasks,
  * planned queries and streaming triggers attributed to its span. */
final class Counts {
  var jobs, stages, tasks, singleTaskStages = 0L
  var taskMs, taskCpuNs, gcMs, singleTaskStageMs = 0L
  var shuffleWrite, shuffleRead, spill, output = 0L
  var analysisMs, optimizeMs, planMs = 0L
  var partialIn, partialOut = 0L
  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    singleTaskStages += o.singleTaskStages; taskMs += o.taskMs
    taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    singleTaskStageMs += o.singleTaskStageMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; output += o.output; analysisMs += o.analysisMs
    optimizeMs += o.optimizeMs; planMs += o.planMs
    partialIn += o.partialIn; partialOut += o.partialOut
  }
}

/** Streaming trigger record (one `QueryProgressEvent`). */
final case class Trigger(startMs: Long, durations: Map[String, Long],
    inputRows: Long, stateRows: Long, stateBytes: Long, stateCommitMs: Long)

/** Span recorder plus the Spark listeners that attribute work to spans.
  *
  * The client thread sets the local property [[Tracer.SpanProp]] before
  * each layer call; Spark copies it onto every job the call starts,
  * including jobs of a streaming query started by the call (its thread
  * inherits the caller's properties). Planning phases and streaming
  * triggers carry no properties, so they are attributed afterwards to
  * the layer span whose wall-clock interval holds their start.
  *
  * With `traced = false` only job counts per span are kept: the
  * memoization guard needs them and they cost one map update per job.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  import Tracer._
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicLong(0)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  val counts = new ConcurrentHashMap[Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  /** (planning start wall-clock ms, analysis, optimize, plan ms, partial
    * aggregate rows in, rows out) per executed query */
  val planned = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()
  val queryStarts = new java.util.concurrent.ConcurrentLinkedQueue[Array[Long]]()
  /** whole-stage codegen compilations and their estimated ms per layer span */
  val codegenOf = mutable.Map.empty[Long, (Long, Double)]

  private def countsOf(span: Long): Counts =
    counts.computeIfAbsent(span, _ => new Counts)

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
      .map(_.toLong).getOrElse(0L)

  private val jobListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val s = spanOf(js.properties)
      countsOf(s).synchronized { countsOf(s).jobs += 1 }
      if (traced) js.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val c = countsOf(stageSpan.getOrDefault(si.stageId, 0L))
      c.synchronized {
        c.stages += 1
        if (si.numTasks == 1) {
          c.singleTaskStages += 1
          c.singleTaskStageMs += si.completionTime.getOrElse(0L) -
            si.submissionTime.getOrElse(0L)
        }
      }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m == null) return
      val c = countsOf(stageSpan.getOrDefault(te.stageId, 0L))
      c.synchronized {
        c.tasks += 1
        c.taskMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def d(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      var in, out = 0L
      collectWithSubqueries(qe.executedPlan) {
        case a: HashAggregateExec
            if a.aggregateExpressions.nonEmpty &&
              a.aggregateExpressions.forall(_.mode == Partial) =>
          out += metric(a, "numOutputRows")
          in += rowsOut(a.child)
      }
      planned.add(Array(start, d("analysis"), d("optimization"),
        d("planning"), in, out))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryStarts.add(Array(java.time.Instant.parse(e.timestamp).toEpochMilli))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      triggers.add(Trigger(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  sc.addSparkListener(jobListener)
  if (traced) {
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  /** Run `body` as a span named `name` under the current one. */
  def span[T](name: String, kind: String, group: String = "")(body: => T): T = {
    val parent = stack.headOption
    val id = ids.incrementAndGet()
    val s = Span(id, parent.map(_.id).getOrElse(0L),
      parent.map(p => if (p.kind == "run") id else p.op).getOrElse(id),
      name, kind, if (group.nonEmpty) group else parent.map(_.group).getOrElse(""),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack.push(s)
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, id.toString)
    val cg0 = if (traced && kind == "layer") codegen()._1 else 0L
    try body
    finally {
      s.t1 = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(SpanProp, prev)
      if (traced && kind == "layer") {
        val (n, mean) = codegen()
        codegenOf(id) = (n - cg0, (n - cg0) * mean)
      }
    }
  }

  /** Block until every event posted so far reached the listeners. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def jobsOf(span: Long): Long =
    Option(counts.get(span)).map(_.jobs).getOrElse(0L)

  def close(): Unit = {
    drain()
    sc.removeSparkListener(jobListener)
    if (traced) {
      spark.listenerManager.unregister(planListener)
      spark.streams.removeListener(streamListener)
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Rows a plan node hands its parent: the nearest descendant through
    * single-child operators that counts its output (a projection or a
    * codegen boundary does not). */
  private def rowsOut(p: SparkPlan): Long =
    if (p.metrics.contains("numOutputRows")) metric(p, "numOutputRows")
    else p.children match {
      case Seq(c) => rowsOut(c)
      case cs => cs.map(rowsOut).sum
    }

  /** Whole-stage codegen compilations so far and their mean time (ms),
    * from Spark's codegen metrics source. */
  def codegen(): (Long, Double) = {
    val h = Class.forName("org.apache.spark.metrics.source.CodegenMetrics")
      .getMethod("METRIC_COMPILATION_TIME").invoke(null)
      .asInstanceOf[com.codahale.metrics.Histogram]
    (h.getCount, h.getSnapshot.getMean)
  }
}
