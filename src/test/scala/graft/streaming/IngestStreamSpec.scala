package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.Schemas.Status

/** End-to-end Structured Streaming ingest (SURVEY.md §2 A15/A16/A17):
  * two delivery files + one poison file through the checkpointed stream;
  * final snapshot + control table asserted; second trigger proves
  * cross-batch upsert and checkpoint resume; replay proves idempotence. */
class IngestStreamSpec extends SparkSuite {

  import spark.implicits._

  private val week1 =
    """[{"code":"0001","product_name":"Oat Milk","brands":"Acme"},
      | {"code":"0002","product_name":"Rye Bread","_id":"drop"},
      | {"product_name":"no code"},
      | {"code":"0003","product_name":"Green Tea","quantity":"500 g"}]"""
      .stripMargin

  private val week2 =
    """[{"code":"0001","product_name":"Oat Milk Deluxe"},
      | {"code":"0004","product_name":"Dark Chocolate"}]""".stripMargin

  private val poison = """[{"code":"9999", "product_name": "trunc"""

  test("two deliveries + poison: snapshot, control table, archive, resume") {
    withTmpDir { ws =>
      val landing = Files.createDirectories(ws.resolve("landing"))
      val archive = ws.resolve("archive")
      val cfg = IngestStream.Config(
        landingDir = landing.toString,
        warehouseDir = ws.resolve("wh").toString,
        checkpointDir = ws.resolve("ckpt").toString,
        archiveDir = Some(archive.toString))

      // ---- trigger 1: first delivery + poison --------------------------
      Files.writeString(landing.resolve("d1_week1.json"), week1)
      Files.writeString(landing.resolve("d3_poison.json"), poison)
      IngestStream.runAvailable(spark, cfg)

      val snap1 = IngestStream.productsStore(cfg).read(spark).get
      assert(snap1.select("code").as[String].collect().sorted.toSeq
        === Seq("0001", "0002", "0003"))

      val ctl1 = IngestStream.controlStore(cfg).read(spark).get
        .select("file_id", "status", "total_records", "records_processed",
          "records_failed")
        .collect().map(r => r.getString(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      assert(ctl1("d1_week1.json") ===
        ((Status.ProcessedWithErrors, 4L, 3L, 1L)))
      assert(ctl1("d3_poison.json") === ((Status.Failed, 0L, 0L, 0L)))

      // ---- trigger 2: second delivery; checkpoint resumes ---------------
      Files.writeString(landing.resolve("d2_week2.json"), week2)
      IngestStream.runAvailable(spark, cfg)

      val snap2 = IngestStream.productsStore(cfg).read(spark).get.cache()
      try {
        val byCode = snap2.collect()
          .map(r => r.getAs[String]("code") -> r).toMap
        assert(byCode.keySet === Set("0001", "0002", "0003", "0004"))
        // cross-batch last-writer-wins + $set retention of extras
        assert(byCode("0001").getAs[String]("product_name")
          === "Oat Milk Deluxe")
        assert(byCode("0001").getAs[Map[String, String]]("extras")
          .get("brands").contains("Acme"))
        assert(byCode("0001").getAs[String]("file_id") === "d2_week2.json")
      } finally snap2.unpersist()

      val ctl2 = IngestStream.controlStore(cfg).read(spark).get
      assert(ctl2.count() === 3)
      assert(ctl2.filter(col("file_id") === "d2_week2.json")
        .select("status").as[String].collect().toSeq
        === Seq(Status.Processed))

      // A16: batch N's files are archived when batch N+1 commits, so after
      // the second run the FIRST batch's files must be out of landing and
      // in the archive; the last batch's file may lag (engine behavior).
      def filesUnder(root: java.io.File): Seq[String] = {
        def go(f: java.io.File): Seq[String] =
          if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(go)
          else Seq(f.getName)
        if (root.exists) go(root) else Nil
      }
      val archived = filesUnder(archive.toFile).sorted
      assert(archived.contains("d1_week1.json"))
      assert(archived.contains("d3_poison.json"))
      val inLanding = filesUnder(landing.toFile).toSet
      assert(!inLanding.contains("d1_week1.json"))
      assert(!inLanding.contains("d3_poison.json"))

      // ---- replay: re-running the same batch converges (idempotence) ----
      def stableRows() = IngestStream.productsStore(cfg).read(spark).get
        .drop("last_modified_at_company")  // re-stamped on replay by design
        .collect().map(_.toString).sorted.toSeq
      val before = stableRows()
      // re-drive delivery 2 through processBatch directly (the
      // at-least-once redelivery case), wherever the cleaner left it
      val w2Path = (filesUnder(landing.toFile).contains("d2_week2.json"),
          archived.contains("d2_week2.json")) match {
        case (true, _) => landing.resolve("d2_week2.json").toString
        case (_, true) =>
          def find(f: java.io.File): Option[java.io.File] =
            if (f.isDirectory)
              Option(f.listFiles).toSeq.flatten.flatMap(find).headOption
            else Some(f).filter(_.getName == "d2_week2.json")
          find(archive.toFile).get.getAbsolutePath
        case _ => fail("d2_week2.json vanished")
      }
      IngestStream.processBatch(spark, cfg,
        Seq((w2Path,
          new java.sql.Timestamp(System.currentTimeMillis()))), 99L)
      assert(stableRows() === before)
    }
  }

  test("JSONL deliveries: splittable format; a bad line fails the record, not the file") {
    withTmpDir { ws =>
      val landing = Files.createDirectories(ws.resolve("landing"))
      Files.writeString(landing.resolve("d1.jsonl"),
        """{"code":"A","product_name":"One"}
          |not json at all
          |{"code":"B","product_name":"Two"}""".stripMargin)
      val cfg = IngestStream.Config(
        landingDir = landing.toString,
        warehouseDir = ws.resolve("wh").toString,
        checkpointDir = ws.resolve("ckpt").toString)
      IngestStream.runAvailable(spark, cfg)
      val snap = IngestStream.productsStore(cfg).read(spark).get
      assert(snap.select("code").as[String].collect().sorted.toSeq
        === Seq("A", "B"))
      val ctl = IngestStream.controlStore(cfg).read(spark).get.collect()
      assert(ctl.length === 1)
      val r = ctl.head
      assert(r.getAs[String]("status") === Status.ProcessedWithErrors)
      assert(r.getAs[Long]("total_records") === 3L)
      assert(r.getAs[Long]("records_processed") === 2L)
      assert(r.getAs[Long]("records_failed") === 1L)
    }
  }

  test("degenerate batch keeps per-file status: empty delivery + poison in one batch") {
    withTmpDir { ws =>
      val landing = Files.createDirectories(ws.resolve("landing"))
      // a batch with NO inferable data columns at all: one healthy EMPTY
      // array delivery, one poison array file, one all-garbage JSONL
      Files.writeString(landing.resolve("d1_empty.json"), "[]")
      Files.writeString(landing.resolve("d2_poison.json"), poison)
      Files.writeString(landing.resolve("d3_garbage.jsonl"),
        "not json\nstill not json")
      val cfg = IngestStream.Config(
        landingDir = landing.toString,
        warehouseDir = ws.resolve("wh").toString,
        checkpointDir = ws.resolve("ckpt").toString)
      IngestStream.runAvailable(spark, cfg)
      val ctl = IngestStream.controlStore(cfg).read(spark).get
        .collect().map(r => r.getAs[String]("file_id") ->
          ((r.getAs[String]("status"), r.getAs[Long]("total_records"),
            r.getAs[Long]("records_failed")))).toMap
      // the healthy empty delivery must NOT be dragged down by the
      // poison file sharing its batch (A17)
      assert(ctl("d1_empty.json") === ((Status.Processed, 0L, 0L)))
      assert(ctl("d2_poison.json") === ((Status.Failed, 0L, 0L)))
      // line-format garbage = record-level failures, not file poison
      assert(ctl("d3_garbage.jsonl") ===
        ((Status.ProcessedWithErrors, 2L, 2L)))
    }
  }

  test("a poison array file batched with a healthy JSONL delivery fails alone") {
    withTmpDir { ws =>
      val landing = Files.createDirectories(ws.resolve("landing"))
      // the array arm alone infers no data column; the batch must not
      // fail on it, and the JSONL delivery must land
      Files.writeString(landing.resolve("d1.jsonl"),
        "{\"code\":\"A\"}\n{\"code\":\"B\"}")
      Files.writeString(landing.resolve("d2_poison.json"), poison)
      val cfg = IngestStream.Config(
        landingDir = landing.toString,
        warehouseDir = ws.resolve("wh").toString,
        checkpointDir = ws.resolve("ckpt").toString)
      IngestStream.runAvailable(spark, cfg)
      val snap = IngestStream.productsStore(cfg).read(spark).get
      assert(snap.select("code").as[String].collect().sorted.toSeq
        === Seq("A", "B"))
      val ctl = IngestStream.controlStore(cfg).read(spark).get
        .collect().map(r => r.getAs[String]("file_id") ->
          ((r.getAs[String]("status"), r.getAs[Long]("total_records"),
            r.getAs[Long]("records_processed"),
            r.getAs[Long]("records_failed")))).toMap
      assert(ctl === Map(
        "d1.jsonl" -> ((Status.Processed, 2L, 2L, 0L)),
        "d2_poison.json" -> ((Status.Failed, 0L, 0L, 0L))))
    }
  }

  test("batching invariance: maxFilesPerTrigger=1 (3 micro-batches) ends in the same state as one batch") {
    def runWith(maxFiles: Int): (Seq[String], Map[String, (String, Long, Long, Long)]) =
      withTmpDir { ws =>
        val landing = Files.createDirectories(ws.resolve("landing"))
        Files.writeString(landing.resolve("d1_week1.json"), week1)
        Files.writeString(landing.resolve("d2_week2.json"), week2)
        Files.writeString(landing.resolve("d3_poison.json"), poison)
        val cfg = IngestStream.Config(
          landingDir = landing.toString,
          warehouseDir = ws.resolve("wh").toString,
          checkpointDir = ws.resolve("ckpt").toString,
          maxFilesPerTrigger = maxFiles)
        IngestStream.runAvailable(spark, cfg)
        val snap = IngestStream.productsStore(cfg).read(spark).get
          .drop("last_modified_at_company")
          .collect().map(_.toString).sorted.toSeq
        val ctl = IngestStream.controlStore(cfg).read(spark).get
          .collect().map(r => r.getAs[String]("file_id") ->
            ((r.getAs[String]("status"), r.getAs[Long]("total_records"),
              r.getAs[Long]("records_processed"),
              r.getAs[Long]("records_failed")))).toMap
        (snap, ctl)
      }
    val (snapOne, ctlOne) = runWith(16)   // all files in one micro-batch
    val (snapPer, ctlPer) = runWith(1)    // one file per micro-batch
    assert(snapPer === snapOne)
    assert(ctlPer === ctlOne)
  }

  test("status journey: control table passes through processing to the terminal status") {
    withTmpDir { ws =>
      val landing = Files.createDirectories(ws.resolve("landing"))
      Files.writeString(landing.resolve("one.json"), """[{"code":"1"}]""")
      val cfg = IngestStream.Config(
        landingDir = landing.toString,
        warehouseDir = ws.resolve("wh").toString,
        checkpointDir = ws.resolve("ckpt").toString)
      // the landing dir is the queue: a landed file has no control row
      // until its batch starts, then two commits — `processing`, then
      // the terminal row — and both versions are retained
      IngestStream.runAvailable(spark, cfg)
      val store = IngestStream.controlStore(cfg)
      assert(store.versions(spark) === Seq(0L, 1L))
      def statusAt(seq: Long) = store.readAt(spark, seq).get
        .select("status").as[String].collect().toSeq
      assert(statusAt(0L) === Seq(Status.Processing))
      assert(statusAt(1L) === Seq(Status.Processed))
    }
  }

  test("an all-invalid delivery after a healthy one ends processed_with_errors and publishes no products version") {
    withTmpDir { ws =>
      val landing = Files.createDirectories(ws.resolve("landing"))
      val cfg = IngestStream.Config(
        landingDir = landing.toString,
        warehouseDir = ws.resolve("wh").toString,
        checkpointDir = ws.resolve("ckpt").toString)
      Files.writeString(landing.resolve("d1_week1.json"), week1)
      IngestStream.runAvailable(spark, cfg)
      val products = IngestStream.productsStore(cfg)
      val versions = products.versions(spark)
      def rows() = products.read(spark).get
        .collect().map(_.toString).sorted.toSeq
      val before = rows()

      Files.writeString(landing.resolve("d2_nocode.json"),
        """[{"product_name":"no code"},{"brands":"Acme","code":""}]""")
      IngestStream.runAvailable(spark, cfg)
      val ctl = IngestStream.controlStore(cfg).read(spark).get
        .filter(col("file_id") === "d2_nocode.json")
        .select("status", "total_records", "records_processed",
          "records_failed")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      assert(ctl === Seq((Status.ProcessedWithErrors, 2L, 0L, 2L)))
      assert(products.versions(spark) === versions)
      assert(rows() === before)
    }
  }

  test("splitPaths: remote-scheme and vanished paths pass through " +
      "untouched (r14 ADVICE medium)") {
    val scratch = Files.createTempDirectory("graft-split-spec")
    try {
      // a remote URI the driver cannot stat must NOT throw and must
      // reach Spark verbatim; same for a local path that vanished
      // between discovery and the batch, and for a driver-unreadable
      // odd-character path — the splitter is an optimization, never a
      // gate
      val remote = "hdfs://namenode:8020/deliveries/week9.json"
      val s3 = "s3a://bucket/deliveries/week9.json"
      val gone = scratch.resolve("never-written.json").toString
      val odd = "/tmp/does not exist {week}.json"
      val in = Seq(remote, s3, gone, odd)
      assert(IngestStream.splitPaths(in, scratch, thresholdBytes = 1L)
        === in)
      // a real local oversized array file still splits
      val big = scratch.resolve("big.json")
      Files.write(big,
        ("[" + (1 to 50).map(i => s"""{\"code\":\"$i\"}""")
          .mkString(",\n") + "]").getBytes)
      val out = IngestStream.splitPaths(
        Seq(big.toString), scratch, thresholdBytes = 1L)
      assert(out.nonEmpty)
      assert(out.forall(p => new java.io.File(
        if (p.startsWith("file:")) new java.net.URI(p).getPath else p)
        .exists()))
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(scratch).iterator().asScala.toSeq.reverseIterator
        .foreach(p => Files.deleteIfExists(p))
    }
  }
}
