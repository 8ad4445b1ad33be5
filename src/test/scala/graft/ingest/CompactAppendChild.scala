package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Child-JVM maintainer forked by [[CompactAppendRaceSpec]] — one side
  * of the compact-vs-append race: a COMPACTION job and a streaming
  * delivery's `appendOnce` hitting one store concurrently, the
  * maintenance hazard the r17 verdict left as prose. Each child builds
  * its own SparkSession (two independent Spark jobs), runs its
  * operation with the store's `beforePublish` seam parked at the exact
  * commit point (version dir + tmp manifest fully written, rename not
  * yet attempted), and races the rename when the parent releases it.
  *
  * args: storePath barrierDir childId mode order
  *  - mode: "compact" | "append" (appendOnce of (d9, 4) under tag 9)
  *  - order: "first" | "second" — the second sleeps briefly after the
  *    go signal so the SPEC chooses the winner deterministically and
  *    both interleavings get their own test case.
  * exit codes: 0 = committed, 10 = lost the race LOUDLY (the
  * rename(NONE) refuse-existing-destination path), 20 = appendOnce
  * no-opped (would mean a tag was falsely remembered — a bug),
  * anything else = unexpected failure for the spec to surface. */
object CompactAppendChild {

  def main(args: Array[String]): Unit = {
    val Array(storePath, barrierDir, id, mode, order) = args
    val spark = graft.Sessions.local(2,
      "spark.app.name" -> s"graft-compact-race-$id",
      "spark.sql.warehouse.dir" ->
        Paths.get(barrierDir, s"warehouse-$id").toString)
    import spark.implicits._

    val store = new SnapshotStore(storePath) {
      override protected def beforePublish(seq: Long): Unit = {
        Files.writeString(Paths.get(barrierDir, s"ready-$id"),
          seq.toString)
        val go = Paths.get(barrierDir, "go")
        val deadline = System.nanoTime() + 120L * 1000L * 1000L * 1000L
        while (!Files.exists(go)) {
          if (System.nanoTime() > deadline)
            sys.error("barrier timeout: parent never released the commit")
          Thread.sleep(25)
        }
        if (order == "second") Thread.sleep(500)
      }
    }

    val code =
      try mode match {
        case "compact" =>
          store.compact(spark); 0
        case "append" =>
          if (store.appendOnce(Seq(("d9", 4L)).toDF("k", "v"), "9")) 0
          else 20
      } catch {
        case e: java.io.IOException
            if String.valueOf(e.getMessage).contains("lost race") =>
          10
      }
    spark.stop()
    sys.exit(code)
  }
}
