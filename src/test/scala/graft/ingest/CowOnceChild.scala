package graft.ingest

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

/** Child-JVM committer forked by [[CowOnceRaceSpec]] — one side of the
  * bucketed DOUBLE-DELIVERY race: two [[Upsert.commitDeltaCowOnce]]
  * calls with the SAME tag from two separate JVMs. Both pass the
  * fast-path replay check (the tag is absent when both enter), both
  * merge and write their version dirs, and both park at the store's
  * `beforePublish` seam — the exact commit point. The race is decided
  * by the manifest protocol: same manifest snapshot → same sequence →
  * the loser's rename-to-fresh-name refuses loudly, and its RETRY
  * must land on the None fast path (the winner's sidecar carries the
  * tag). This is the tested contract for the r18-advice overwriteCow
  * re-check: the tag memory and the sequence number derive from ONE
  * manifest read, so no interleaving lets both committers land.
  *
  * args: storePath barrierDir childId order
  * exit codes: 0 = committed (Some); 11 = lost loudly + retry None
  * (correct loser convergence); 20 = first attempt returned None (tag
  * falsely remembered before any commit); 21 = lost the race but the
  * retry COMMITTED (double delivery — the corruption under test);
  * anything else = unexpected failure surfaced by the spec. */
object CowOnceChild {

  def main(args: Array[String]): Unit = {
    val Array(storePath, barrierDir, id, order) = args
    val spark = graft.Sessions.local(2,
      "spark.app.name" -> s"graft-cowonce-race-$id",
      "spark.sql.warehouse.dir" ->
        Paths.get(barrierDir, s"warehouse-$id").toString)
    import spark.implicits._

    val store = new SnapshotStore(storePath,
        bucket = Some(("k", 4))) {
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
    val plain = new SnapshotStore(storePath, bucket = Some(("k", 4)))
    def delta = Seq((7L, "wk2")).toDF("k", "v")
    def commit(s: SnapshotStore): Option[Set[Int]] =
      Upsert.commitDeltaCowOnce(s, s.read(spark).get
        .select(col("k"), col("v")), delta, "k", tag = "wk2",
        mergeWholly = Set.empty)

    val code =
      try { if (commit(store).nonEmpty) 0 else 20 }
      catch {
        case e: java.io.IOException
            if String.valueOf(e.getMessage).contains("lost") =>
          if (commit(plain).nonEmpty) 21 else 11
      }
    spark.stop()
    sys.exit(code)
  }
}
