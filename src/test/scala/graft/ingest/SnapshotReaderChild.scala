package graft.ingest

import java.nio.file.{Files, Paths}

/** Child-JVM READER polled across the cross-process commit race
  * ([[SnapshotCrossProcessRaceSpec]]): a third independent Spark job
  * hammering `read()` on the store while two other JVMs race a commit,
  * recording every distinct observation. The invariant it exists to
  * catch: every observation is a FULL committed version (the base or
  * the winner's rows) — never a partial write, an empty frame, or the
  * loser's payload. Same-JVM concurrent readers were proven in
  * SnapshotRaceSpec (r9); this is that invariant across processes,
  * where no shared memory can mask a torn read.
  *
  * args: storePath bucketed(true|false) barrierDir readerId
  * Protocol: writes `reader-ready-<id>` after its first observation,
  * appends distinct observations to `obs-<id>` (one sorted
  * `k:v` CSV line per distinct state, "none" if unreadable), exits 0
  * when `reader-stop` appears. */
object SnapshotReaderChild {

  def main(args: Array[String]): Unit = {
    val Array(storePath, bucketed, barrierDir, id) = args
    val spark = graft.Sessions.local(2,
      "spark.app.name" -> s"graft-reader-child-$id",
      "spark.sql.warehouse.dir" ->
        Paths.get(barrierDir, s"warehouse-r$id").toString)

    val bucket = if (bucketed.toBoolean) Some(("k", 4)) else None
    val store = new SnapshotStore(storePath, bucket)
    val obsPath = Paths.get(barrierDir, s"obs-$id")
    val stop = Paths.get(barrierDir, "reader-stop")
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    var ready = false
    while (!Files.exists(stop)) {
      val obs =
        try store.read(spark) match {
          case None => "none"
          case Some(df) => df.collect()
            .map(r => s"${r.getString(0)}:${r.getInt(1)}")
            .sorted.mkString(",")
        } catch { case e: Exception => s"error:${e.getClass.getName}" }
      if (seen.add(obs))
        Files.writeString(obsPath, seen.mkString("\n") + "\n")
      if (!ready) {
        Files.writeString(Paths.get(barrierDir, s"reader-ready-$id"), "")
        ready = true
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
