package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Child-JVM committer forked by [[SnapshotCrossProcessRaceSpec]] — the
  * cross-PROCESS half of the concurrent-commit evidence. The same-JVM
  * `SnapshotRaceSpec` proves the commit protocol through an in-process
  * barrier; the production hazard is two separate Spark JOBS racing the
  * manifest rename, where no shared-memory barrier or JVM-level file
  * lock can be doing the work. This main is one such job: it builds its
  * own SparkSession, parks at the exact commit point (version dir + tmp
  * manifest fully written, rename not yet attempted) via a FILE
  * barrier, then races the rename when the parent releases it.
  *
  * args: storePath bucketed(true|false) barrierDir childId [mode]
  * mode (default "race") selects the held stage:
  *  - race: park at the commit point, race the rename when released
  *    (SnapshotCrossProcessRaceSpec);
  *  - crash-post-tmp: park at the commit point FOREVER — version dir
  *    and tmp manifest fully written, rename never attempted — for the
  *    parent to SIGKILL (SnapshotCrashSpec);
  *  - crash-mid-tmp: park INSIDE the tmp-manifest body write (partial
  *    bytes flushed, stream open) for a SIGKILL — the torn-tmp case.
  * exit codes: 0 = commit won, 10 = lost the race LOUDLY (the
  * rename(NONE) refuse-existing-destination path), anything else = an
  * unexpected failure the spec must surface. Crash modes never exit on
  * their own — the SIGKILL is the point.
  */
object SnapshotRaceChild {

  def main(args: Array[String]): Unit = {
    val (Array(storePath, bucketed, barrierDir, id), mode) =
      if (args.length >= 5) (args.take(4), args(4)) else (args, "race")
    val spark = graft.Sessions.local(2,
      "spark.app.name" -> s"graft-race-child-$id",
      // own warehouse: the bucketed path registers a catalog table, and
      // two children must not contend on a shared metastore dir
      "spark.sql.warehouse.dir" ->
        Paths.get(barrierDir, s"warehouse-$id").toString)
    import spark.implicits._

    // signal the parent this JVM reached its held stage, then park
    // forever awaiting the SIGKILL that IS the crash under test
    def parkForKill(): Unit = {
      Files.writeString(Paths.get(barrierDir, s"ready-$id"), "held")
      while (true) Thread.sleep(1000)
    }

    val bucket = if (bucketed.toBoolean) Some(("k", 4)) else None
    val store = new SnapshotStore(storePath, bucket) {
      override protected def beforePublish(seq: Long): Unit = mode match {
        case "crash-post-tmp" => parkForKill()
        case "crash-mid-tmp" => () // held earlier, never reaches here
        case _ =>
          // publish the reached sequence number so the parent can assert
          // both processes target the SAME seq (a true collision), then
          // wait for the shared go signal
          Files.writeString(Paths.get(barrierDir, s"ready-$id"),
            seq.toString)
          val go = Paths.get(barrierDir, "go")
          val deadline = System.nanoTime() + 120L * 1000L * 1000L * 1000L
          while (!Files.exists(go)) {
            if (System.nanoTime() > deadline)
              sys.error("barrier timeout: parent never released the commit")
            Thread.sleep(25)
          }
          // deterministic publish order: child 1 lets child 0 rename first
          if (id == "1") Thread.sleep(500)
      }

      override protected def writeManifestBody(out: java.io.OutputStream,
          version: String): Unit =
        if (mode == "crash-mid-tmp") {
          // half the pointer, flushed to disk, stream still open — the
          // torn state a mid-write SIGKILL leaves behind
          out.write(version.getBytes("UTF-8"), 0, version.length / 2)
          out.flush()
          parkForKill()
        } else super.writeManifestBody(out, version)
    }

    val code =
      try {
        store.overwrite(Seq((s"w$id", id.toInt + 1)).toDF("k", "v"))
        0
      } catch {
        case e: java.io.IOException
            if String.valueOf(e.getMessage).contains("lost race") =>
          10
      }
    spark.stop()
    sys.exit(code)
  }
}
