package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Child-JVM committer forked by [[AppendOnceRaceSpec]] — one side of
  * the DOUBLE-DELIVERY race: two `appendOnce` calls with the SAME tag
  * from two separate JVMs (the interleaving CompactAppendRaceSpec does
  * not cover — its arms are compact-vs-append). Each child builds its
  * own SparkSession, runs `appendOnce((d9, 4), "9")` with the store's
  * `beforePublish` seam parked at the exact commit point (version dir
  * + tmp manifest fully written, tag checked ABSENT by both sides,
  * rename not yet attempted), and races the rename when the parent
  * releases it.
  *
  * args: storePath barrierDir childId order
  *  - order: "first" | "second" — the second sleeps briefly after the
  *    go signal so the spec chooses the winner deterministically.
  * exit codes: 0 = committed; 11 = lost the race LOUDLY and the RETRY
  * was a no-op (the correct loser convergence: the winner's commit
  * carries the tag, so the redelivery is suppressed); 20 = the first
  * attempt no-opped (a tag falsely remembered before any commit — a
  * bug); 21 = lost the race but the retry COMMITTED (double delivery —
  * the exact corruption the tag memory exists to prevent); anything
  * else = unexpected failure for the spec to surface. */
object AppendOnceChild {

  def main(args: Array[String]): Unit = {
    val Array(storePath, barrierDir, id, order) = args
    val spark = graft.Sessions.local(2,
      "spark.app.name" -> s"graft-appendonce-race-$id",
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
    // the retry uses the base store: its publish must NOT park again
    val plain = new SnapshotStore(storePath)
    def delivery = Seq(("d9", 4L)).toDF("k", "v")

    val code =
      try { if (store.appendOnce(delivery, "9")) 0 else 20 }
      catch {
        case e: java.io.IOException
            if String.valueOf(e.getMessage).contains("lost race") =>
          // the loser's convergence: re-derive from the winner's
          // manifest — appendOnce finds the tag and no-ops
          if (plain.appendOnce(delivery, "9")) 21 else 11
      }
    spark.stop()
    sys.exit(code)
  }
}
