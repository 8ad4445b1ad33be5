package graft.ingest

import java.nio.file.{Files, Paths}

/** Child-JVM builder forked by [[BootstrapCrossProcessRaceSpec]] — one
  * of two independent Spark jobs racing the SAME build-or-load
  * bootstrap for one index root. Each child runs the full two-commit
  * build (base overwrite + delta append) against its own staging root,
  * parks at the exact publish point (staging chain complete, rename
  * not yet attempted) via a file barrier, then races the publish when
  * the parent releases it.
  *
  * args: rootPath barrierDir childId
  * exit codes: 0 = this process published the root, 10 = lost the
  * publish race and loaded the winner's root, anything else = an
  * unexpected failure the spec must surface. */
object BootstrapRaceChild {

  def main(args: Array[String]): Unit = {
    val Array(root, barrierDir, id) = args
    val spark = graft.Sessions.local(2,
      "spark.app.name" -> s"graft-bootstrap-race-child-$id")
    import spark.implicits._

    val boot = new StoreBootstrap(root) {
      override protected def beforePublish(): Unit = {
        // staging chain fully built and verified — signal, then wait
        // for the shared go so both children's builds complete BEFORE
        // either publish is attempted (a true publish collision)
        Files.writeString(Paths.get(barrierDir, s"ready-$id"), "staged")
        val go = Paths.get(barrierDir, "go")
        val deadline = System.nanoTime() + 120L * 1000L * 1000L * 1000L
        while (!Files.exists(go)) {
          if (System.nanoTime() > deadline)
            sys.error("barrier timeout: parent never released the publish")
          Thread.sleep(25)
        }
        // deterministic publish order: child 1 lets child 0 rename first
        if (id == "1") Thread.sleep(500)
      }
    }
    // production shape: both children compute the IDENTICAL index
    // content — the hazard is chain structure, not payload divergence
    val published = boot.ensure(spark)(
        StoreBootstrap.chains(spark, "counts" -> 2)) { b =>
      val st = new SnapshotStore(s"$b/counts")
      st.overwrite(Seq(("a", 1L), ("b", 2L)).toDF("w", "n"))
      st.append(Seq(("c", 3L)).toDF("w", "n"))
    }
    spark.stop()
    sys.exit(if (published) 0 else 10)
  }
}
