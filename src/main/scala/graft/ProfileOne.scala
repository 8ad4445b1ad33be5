package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}

import scala.collection.concurrent.TrieMap

/** Job/stage-level profiler for one bench key (guide §1: measure
  * first). Runs the key once untimed (warmup: codegen + footer
  * caches), then once with a listener that records every Spark job and
  * stage — the local-mode stand-in for the Spark UI's Jobs/Stages
  * pages (the UI is disabled in the bench session). Prints: job count
  * and total wall, then the stages sorted by wall time with task
  * counts, summed task run time (CPU-side cost) and the stage's
  * call-site name — which is how a 1-task stage burning a second of
  * CPU (post-AQE-coalesce serialization of CPU-heavy work) or a
  * 50-job driver-roundtrip profile (iterative loops, checkpoint
  * actions) becomes visible.
  *
  * Listener events arrive asynchronously, after the action returns.
  * Before the listener is removed, a one-task marker job (its own job
  * group, excluded from the counts) runs: events are delivered in the
  * order they were posted, so once the marker's end arrives every event
  * of the measured pass has too. Then every started job and submitted
  * stage must have completed; after [[DrainTimeoutS]] the run fails
  * instead of printing a partial profile.
  *
  * Usage: runMain graft.ProfileOne <key> [<key> ...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4).
  */
object ProfileOne {
  private final case class StageRec(name: String, submitted: Long,
    completed: Long, tasks: Int, taskTimeMs: Long)

  private val DrainGroup = "graft-profile-drain"
  private val DrainTimeoutS = 60L

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileOne <key> [<key> ...]")
    val sfDir = Sessions.sfDir("sf0.1")
    val spark = Sessions.local(Sessions.cpus)

    val taskMs = new TrieMap[Int, Long] // stageId -> summed task run time
    val stages = new TrieMap[Int, StageRec]
    @volatile var jobs = 0
    @volatile var jobWallMs = 0L
    val jobStart = new TrieMap[Int, Long]
    val pendingJobs = ConcurrentHashMap.newKeySet[Int]()
    val pendingStages = ConcurrentHashMap.newKeySet[Int]()
    val markerStages = ConcurrentHashMap.newKeySet[Int]()
    @volatile var markerJob = -1
    @volatile var drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .exists(_.getProperty("spark.jobGroup.id") == DrainGroup)) {
          js.stageIds.foreach(markerStages.add)
          markerJob = js.jobId
        } else {
          jobs += 1; jobStart.put(js.jobId, js.time)
          pendingJobs.add(js.jobId)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobId == markerJob) drained.countDown()
        else {
          jobStart.get(je.jobId).foreach(t0 => jobWallMs += je.time - t0)
          pendingJobs.remove(je.jobId)
        }
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (!markerStages.contains(ss.stageInfo.stageId))
          pendingStages.add(ss.stageInfo.stageId)
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null)
          taskMs.updateWith(te.stageId)(v =>
            Some(v.getOrElse(0L) + te.taskInfo.duration))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        if (!markerStages.contains(si.stageId)) {
          pendingStages.remove(si.stageId)
          // RDD operation scopes name the SQL operators running in this
          // stage (Scan/Exchange/WholeStageCodegen/Generate/...) — far
          // more useful than the AQE future's call site
          val ops = si.rddInfos.flatMap(_.scope).map(_.name).distinct
            .filterNot(_ == "DeserializeToObject").mkString(",")
          stages.put(si.stageId, StageRec(
            if (ops.nonEmpty) ops else si.name,
            si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
            si.numTasks, taskMs.getOrElse(si.stageId, 0L)))
        }
      }
    }

    // runs the marker job, then waits (bounded) for its end event and
    // for every measured job and stage to have completed
    def drain(): Unit = {
      drained = new CountDownLatch(1)
      val sc = spark.sparkContext
      sc.setJobGroup(DrainGroup, "ProfileOne listener drain marker")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(DrainTimeoutS)
      def left = math.max(0L, deadline - System.nanoTime())
      val marked = drained.await(left, TimeUnit.NANOSECONDS)
      while (marked && left > 0 &&
          !(pendingJobs.isEmpty && pendingStages.isEmpty))
        Thread.sleep(10)
      if (!marked || !pendingJobs.isEmpty || !pendingStages.isEmpty)
        throw new IllegalStateException(
          s"ProfileOne: listener not drained after ${DrainTimeoutS}s " +
          s"(marker seen: $marked, running jobs: $pendingJobs, " +
          s"running stages: $pendingStages)")
    }

    args.foreach { key =>
      val fn = SparkEntry.queries.getOrElse(key, sys.error(s"unknown key $key"))
      fn(spark, sfDir).count() // warmup (untimed, same as Bench)
      stages.clear(); taskMs.clear(); jobStart.clear()
      pendingJobs.clear(); pendingStages.clear()
      jobs = 0; jobWallMs = 0L
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      drain()
      spark.sparkContext.removeSparkListener(listener)
      val recs = stages.values.toSeq.sortBy(r => -(r.completed - r.submitted))
      val stageWall = recs.map(r => r.completed - r.submitted).sum / 1e3
      val taskTotal = recs.map(_.taskTimeMs).sum / 1e3
      println(f"\nPROFILE $key rows=$n wall=$wall%.2fs jobs=$jobs " +
        f"jobwall=${jobWallMs / 1e3}%.2fs stages=${recs.size} " +
        f"stagewall=$stageWall%.2fs tasktime=$taskTotal%.2fs")
      recs.take(25).foreach { r =>
        println(f"  stage ${(r.completed - r.submitted) / 1e3}%7.3fs " +
          f"tasks=${r.tasks}%3d tasktime=${r.taskTimeMs / 1e3}%7.3fs  " +
          r.name.take(100))
      }
    }
    spark.stop()
  }
}
