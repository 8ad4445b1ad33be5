package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.TimeUnit

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ingest.ForkedJvm

/** CRASH-safety for the INGEST PIPELINE itself — the seam SnapshotCrashSpec
  * cannot reach: a real forked-JVM ingest query is SIGKILLed inside
  * `foreachBatch`, after the micro-batch's snapshot-store commits
  * (products upsert + terminal control rows) but before the engine's
  * checkpoint offset commit ([[IngestStream.Config.afterBatchCommit]]).
  * On restart from the same checkpoint, Structured Streaming's
  * at-least-once contract REPLAYS that micro-batch — whose effects
  * already landed — and the merge's idempotence must absorb it: the
  * classic redelivery-after-effect window of the reference's queue
  * (mq.py:162-181 at-least-once + data_processor.py:106-110 idempotent
  * upsert). Until now this was argued from the ScalaCheck-proven merge
  * idempotence; here it is executed.
  *
  * Invariants, on the bucketed products store (the one layout
  * [[IngestStream.productsStore]] has; the plain `SnapshotStore.overwrite`
  * replay stays covered by the control store, which every batch commits
  * here, and by SnapshotCrashSpec and the race specs):
  *  - the kill verifiably landed IN the seam: batch 0's offsets logged,
  *    its commit log entry absent, its products version already live;
  *  - after restart + drain, the products table is row-identical to a
  *    clean run over byte-identical deliveries (modulo the run-time
  *    ingest stamp), with last-writer-wins intact across the replay;
  *  - the control table matches the clean run row-for-row and the
  *    counters are EXACT — processed + failed = total, no double counts
  *    from the replayed batch.
  */
class IngestCrashSpec extends SparkSuite {

  import ForkedJvm.{awaitFile, forkChild}

  // f1 carries an invalid record so the replay must keep the failure
  // counter exact too; f2 updates a1 so last-writer-wins spans the
  // crashed batch and the post-restart one.
  private val deliveries = Seq(
    "f1_week1.json" ->
      """[{"code":"a1","product_name":"Oat Milk"},
        |{"code":"a2","product_name":"Rye Bread"},
        |{"product_name":"no code -> failed"}]""".stripMargin,
    "f2_week2.json" ->
      """[{"code":"a1","product_name":"Oat Milk Deluxe"},
        |{"code":"a3","product_name":"Choc Bar"}]""".stripMargin)

  /** Fixed mtimes (1s apart): deterministic batch order under
    * maxFilesPerTrigger=1 (the file source processes oldest-first) AND
    * identical `uploaded_at` stamps across the crashed and clean runs,
    * so the control tables compare on the full schema. */
  private def writeLanding(landing: Path): Unit = {
    Files.createDirectories(landing)
    deliveries.zipWithIndex.foreach { case ((name, body), i) =>
      val p = landing.resolve(name)
      Files.writeString(p, body)
      Files.setLastModifiedTime(p,
        FileTime.fromMillis(1700000000000L + i * 1000L))
    }
  }

  private def cfgFor(ws: Path) = IngestStream.Config(
    landingDir = ws.resolve("landing").toString,
    warehouseDir = ws.resolve("wh").toString,
    checkpointDir = ws.resolve("ckpt").toString,
    maxFilesPerTrigger = 1)

  /** The run-time stamp (current_timestamp at prepare) is the one
    * legitimately run-dependent column; everything else must match.
    * `extras` is canonicalized to a sorted entries array — set
    * operations (exceptAll) refuse MAP columns. */
  private def productsOf(cfg: IngestStream.Config): DataFrame =
    IngestStream.productsStore(cfg).read(spark).get
      .drop("last_modified_at_company")
      .withColumn("extras", array_sort(map_entries(col("extras"))))

  /** `location` is the absolute landing path — workspace-specific by
    * construction; compare its basename (everything else full-fidelity,
    * including uploaded_at and the batch ids). */
  private def controlOf(cfg: IngestStream.Config): DataFrame =
    IngestStream.controlStore(cfg).read(spark).get
      .withColumn("location", regexp_extract(col("location"), "[^/]+$", 0))

  private def assertSame(got: DataFrame, want: DataFrame,
      hint: String): Unit = {
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"$hint diverges from the clean run after the replay\n" +
        s"  extra rows: ${extra.mkString("; ")}\n" +
        s"  missing rows: ${missing.mkString("; ")}")
  }

  test("SIGKILL the ingest query between snapshot commit and offset " +
      "commit: the replayed micro-batch lands idempotently (bucketed)") {
    withTmpDir { dir =>
      val ws = dir.resolve("crashed")
      writeLanding(ws.resolve("landing"))
      val barrier = Files.createDirectories(dir.resolve("barrier"))
      val child = forkChild("graft.streaming.IngestCrashChild",
        Seq(ws.resolve("landing").toString, ws.resolve("wh").toString,
          ws.resolve("ckpt").toString, barrier.toString, "0"),
        barrier, 0)
      try {
        awaitFile(barrier.resolve("killpoint"),
          "the post-commit / pre-offset-commit seam", alive = Seq(child))
        child.destroyForcibly() // SIGKILL — no shutdown hooks, no cleanup
        assert(child.waitFor(30, TimeUnit.SECONDS), "kill did not land")

        // the seam is REAL, not assumed: batch 0's offsets are logged,
        // its commit entry is absent (the engine never acknowledged),
        // yet its products upsert is already a live committed version —
        // exactly the replay window under test
        val cfg = cfgFor(ws)
        assert(Files.exists(ws.resolve("ckpt/offsets/0")),
          "precondition: batch 0's offsets must be logged before the kill")
        assert(!Files.exists(ws.resolve("ckpt/commits/0")),
          "precondition: batch 0 must be UNcommitted in the checkpoint — " +
            "the kill must land before the offset commit")
        val committed = IngestStream.productsStore(cfg).read(spark)
        assert(committed.isDefined && committed.get.count() === 2L,
          "precondition: batch 0's products (a1, a2) must already be " +
            "committed when the kill lands")

        // restart from the SAME checkpoint, seam disarmed: the engine
        // replays batch 0 (its effects already live), then batch 1
        IngestStream.runAvailable(spark, cfg)

        // clean twin: same bytes, fresh warehouse + checkpoint
        val cleanWs = dir.resolve("clean")
        writeLanding(cleanWs.resolve("landing"))
        val cleanCfg = cfgFor(cleanWs)
        IngestStream.runAvailable(spark, cleanCfg)

        val got = productsOf(cfg)
        assert(got.count() === 3L, "a1, a2, a3 — no replay duplicates")
        assertSame(got, productsOf(cleanCfg), "products table")
        // last-writer-wins held ACROSS the crash: f2 (post-restart
        // batch) overwrote the crashed batch's a1
        assert(got.filter(col("code") === "a1")
          .select("product_name").collect().map(_.getString(0)).toSeq ===
          Seq("Oat Milk Deluxe"))

        // control table: row-identical to the clean run on the FULL
        // schema (incl. uploaded_at and batch ids), and the counters
        // exact — the replayed batch did not double-count
        assertSame(controlOf(cfg), controlOf(cleanCfg), "control table")
        val counters = controlOf(cfg)
          .select("file_id", "status", "total_records",
            "records_processed", "records_failed")
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getLong(4)))
          .sortBy(_._1)
        assert(counters === Seq(
          ("f1_week1.json", "processed_with_errors", 3L, 2L, 1L),
          ("f2_week2.json", "processed", 2L, 2L, 0L)))
      } finally child.destroyForcibly()
    }
  }
}
