package graft.streaming

import java.nio.file.{Files, Paths}

/** Child-JVM ingest pipeline forked by [[IngestCrashSpec]] — the
  * exactly-once claim's last crash seam, executed for real. The pipeline
  * runs normally until `killBatchId`'s micro-batch has COMMITTED all of
  * its snapshot-store writes (products upsert + terminal control rows),
  * then parks at the [[IngestStream.Config.afterBatchCommit]] seam —
  * inside foreachBatch, before the engine commits the batch's offsets —
  * and waits for the parent's SIGKILL. That is precisely the window
  * where Structured Streaming's at-least-once contract forces a replay
  * of a micro-batch whose effects already landed (the reference's
  * redelivery-after-ack window, mq.py:162-181); the parent then proves
  * the replay converges instead of double-applying.
  *
  * args: landingDir warehouseDir checkpointDir barrierDir killBatchId
  * Never exits on its own in the kill path — the SIGKILL is the point;
  * reaching the end is a loud failure the spec surfaces via exit code.
  */
object IngestCrashChild {

  def main(args: Array[String]): Unit = {
    val Array(landing, wh, ckpt, barrierDir, killBatch) = args
    val spark = graft.Sessions.local(2,
      "spark.app.name" -> "graft-ingest-crash-child",
      // own warehouse: the bucketed products store registers catalog
      // tables; the parent JVM must never contend on them
      "spark.sql.warehouse.dir" ->
        Paths.get(barrierDir, "warehouse-child").toString)

    val cfg = IngestStream.Config(
      landingDir = landing,
      warehouseDir = wh,
      checkpointDir = ckpt,
      maxFilesPerTrigger = 1,
      afterBatchCommit = { batchId =>
        if (batchId == killBatch.toLong) {
          // signal the parent the seam is reached: stores committed,
          // offsets NOT yet committed — then park for the SIGKILL
          Files.writeString(Paths.get(barrierDir, "killpoint"),
            batchId.toString)
          while (true) Thread.sleep(1000)
        }
      })
    IngestStream.runAvailable(spark, cfg)
    sys.error(s"batch $killBatch never reached the kill seam — " +
      "the pipeline drained without hitting it")
  }
}
