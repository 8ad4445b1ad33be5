package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Per-layer aggregates of a traced run, over its timed phase.
  *
  * Work is attributed to the span that caused it: Spark jobs (and
  * through them stages and tasks) by the span property, planning phases
  * and streaming triggers by the layer-call span whose wall-clock
  * interval holds their start. Aggregates are keyed by `"<group>"` (the
  * module group of the operation) and by `"<group>/<layer call>"`. */
object Layers {
  private val MB = 1024.0 * 1024.0

  def apply(t: Tracer, run: Run): Map[String, Any] = {
    val byId = t.spans.map(s => s.id -> s).toMap
    val timedOps = run.ops.filter(_.phase == "timed").map(_.span).toSet
    val inTimed = t.spans.filter(s => timedOps(s.op)).map(_.id).toSet
    val layers = t.spans.toSeq.filter(s => s.kind == "layer" && inTimed(s.id))
      .sortBy(_.startMs)
    val starts = layers.map(_.startMs).toArray
    /** layer span open at wall-clock `ms`, if any */
    def at(ms: Long): Option[Span] = {
      val i = java.util.Arrays.binarySearch(starts, ms) match {
        case i if i >= 0 => i
        case i => -i - 2
      }
      if (i < 0) None
      else {
        val s = layers(i)
        if (ms <= s.startMs + (s.t1 - s.t0) / 1000000 + 1) Some(s) else None
      }
    }

    // work counts per layer span, including jobs run by nested spans
    val counts = scala.collection.mutable.Map.empty[Long, Counts]
    t.counts.asScala.foreach { case (id, c) =>
      var s = byId.get(id)
      while (s.exists(x => x.kind != "layer" && x.kind != "op" && x.kind != "run"))
        s = byId.get(s.get.parent)
      s.filter(x => inTimed(x.id)).foreach { x =>
        counts.getOrElseUpdate(x.id, new Counts).add(c)
      }
    }
    t.planned.asScala.foreach { p =>
      at(p(0)).foreach { s =>
        val c = counts.getOrElseUpdate(s.id, new Counts)
        c.analysisMs += p(1); c.optimizeMs += p(2); c.planMs += p(3)
        c.partialIn += p(4); c.partialOut += p(5)
      }
    }
    val trig = t.triggers.asScala.toSeq.flatMap(tr => at(tr.startMs).map(_ -> tr))
    val qStarts = t.queryStarts.asScala.toSeq.flatMap(q => at(q(0)).map(_ -> q(0)))

    def agg(spans: Seq[Span]): Map[String, Any] = {
      val c = new Counts
      spans.foreach(s => counts.get(s.id).foreach(c.add))
      val ids = spans.map(_.id).toSet
      val tr = trig.filter(x => ids(x._1.id)).map(_._2)
      def phase(p: String) = tr.map(_.durations.getOrElse(p, 0L)).sum
      val named = Seq("latestOffset", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets")
      // a query's start: from its QueryStartedEvent to its first trigger
      val startMs = qStarts.filter(x => ids(x._1.id)).map { case (s, q0) =>
        tr.filter(x => x.startMs >= q0).map(_.startMs - q0).minOption.getOrElse(0L)
      }.sum
      Map(
        "calls" -> spans.size,
        "wall_s" -> spans.map(s => (s.t1 - s.t0) / 1e9).sum,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_s" -> c.taskMs / 1e3, "task_cpu_s" -> c.taskCpuNs / 1e9,
        "gc_s" -> c.gcMs / 1e3,
        "shuffle_write_mb" -> c.shuffleWrite / MB,
        "shuffle_read_mb" -> c.shuffleRead / MB,
        "spill_mb" -> c.spill / MB, "output_mb" -> c.output / MB,
        "single_task_stage_s" -> c.singleTaskStageMs / 1e3,
        "analysis_s" -> c.analysisMs / 1e3, "optimize_s" -> c.optimizeMs / 1e3,
        "plan_s" -> c.planMs / 1e3,
        "partial_agg_in" -> c.partialIn, "partial_agg_out" -> c.partialOut,
        "triggers" -> tr.size,
        "no_data_triggers" -> tr.count(_.inputRows == 0),
        "start_ms" -> startMs,
        "state_rows" -> tr.map(_.stateRows).sum,
        "state_mb" -> tr.map(_.stateBytes).sum / MB,
        "state_commit_ms" -> tr.map(_.stateCommitMs).sum,
        "other_ms" -> tr.map(x => x.durations.getOrElse("triggerExecution", 0L) -
          named.map(x.durations.getOrElse(_, 0L)).sum).sum) ++
        named.map(p => s"${p}_ms" -> phase(p)) ++
        Map("codegen_compiles" -> spans.flatMap(s => t.codegenOf.get(s.id))
          .map(_._1).sum,
          "codegen_s" -> spans.flatMap(s => t.codegenOf.get(s.id))
            .map(_._2).sum / 1e3)
    }

    val byGroup = layers.groupBy(_.group).map { case (g, ss) => g -> agg(ss) }
    val byCall = layers.groupBy(s => s"${s.group}/${s.name}")
      .map { case (k, ss) => k -> agg(ss) }
    Map("all" -> agg(layers), "groups" -> byGroup, "calls" -> byCall)
  }

  /** The span tree as JSON lines, each with its self time: its duration
    * minus the part of it that its children cover. */
  def writeSpans(t: Tracer, path: Path): Unit = {
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val children = t.spans.groupBy(_.parent)
    val lines = t.spans.map { s =>
      val ms = (s.t1 - s.t0) / 1e6
      val covered = children.getOrElse(s.id, Nil).map(c => (c.t1 - c.t0) / 1e6).sum
      json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "kind" -> s.kind, "group" -> s.group,
        "start_ms" -> s.startMs, "ms" -> ms, "self_ms" -> (ms - covered),
        "jobs" -> t.jobsOf(s.id)))
    }
    Files.write(path, lines.asJava)
  }
}
