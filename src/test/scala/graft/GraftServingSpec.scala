package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

import graft.streaming.IngestStream

/** [[Graft]]'s serving memo: each store's live version is resolved and
  * pinned once per manifest seq, every read at that seq builds on the
  * pin, and the first read after a commit swaps the pin forward. */
class GraftServingSpec extends SparkSuite {

  private def withGraft[A](f: Graft => A): A =
    withStore((g, _) => f(g))

  private def withStore[A](f: (Graft, IngestStream.Config) => A): A =
    withTmpDir { ws =>
      val cfg = IngestStream.Config(
        landingDir = ws.resolve("landing").toString,
        warehouseDir = ws.resolve("wh").toString,
        checkpointDir = ws.resolve("ckpt").toString)
      val g = new Graft(spark, cfg)
      try f(g, cfg) finally g.close()
    }

  private def deliver(g: Graft, name: String, rows: Seq[(String, String)])
      : String = {
    val id = g.uploadString(name, rows.map { case (c, n) =>
      s"""{"code":"$c","product_name":"$n"}""" }.mkString("[", ",", "]"))
    g.processAvailable()
    id
  }

  /** The pinned relations a read's plan is served from. */
  private def pins(df: DataFrame): Seq[InMemoryRelation] =
    df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }

  private def names(df: DataFrame): Seq[String] =
    df.collect().map(_.getAs[String]("product_name")).toSeq.sorted

  /** Spark jobs started while `f` runs. Listener events arrive
    * asynchronously, so a marker job in its own group drains them: once
    * its end arrives, every earlier event has too. */
  private def jobsDuring(f: => Unit): Int = {
    val group = "graft-serving-drain"
    val jobs = new AtomicInteger
    @volatile var marker = -1
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          marker = js.jobId
        else jobs.incrementAndGet()
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobId == marker) drained.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobGroup(group, "drain")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener did not drain")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("reads at one seq share one pinned plan and resolve with no job") {
    withGraft { g =>
      val f1 = deliver(g, "w1.json", Seq("a1" -> "Oat Milk", "a2" -> "Rye"))
      val code = g.findByCode("a1")
      val exact = g.findExact("Rye")
      // one resolution: both plans carry the same pinned attributes (a
      // fresh resolve would mint new expression ids) ...
      assert(code.queryExecution.analyzed.output.map(_.exprId) ===
        exact.queryExecution.analyzed.output.map(_.exprId))
      // ... served from one persisted relation
      val pinned = pins(code)
      assert(pinned.size === 1)
      assert(pins(exact).map(_.cacheBuilder).forall(_ eq pinned.head.cacheBuilder))
      assert(pinned.head.cacheBuilder.storageLevel ===
        StorageLevel.MEMORY_AND_DISK)
      assert(names(code) === Seq("Oat Milk"))
      // the control store's known schema: building a status read starts
      // no job (no parquet schema inference), pinned or first-resolved
      assert(jobsDuring { g.uploadStatus(f1); g.findPartial("o"); () } === 0)
      val st1 = g.uploadStatus(f1)
      val st2 = g.uploadStatus("other")
      assert(pins(st1).size === 1 &&
        (pins(st1).head.cacheBuilder eq pins(st2).head.cacheBuilder))
      assert(st1.collect().map(_.getAs[String]("status")).toSeq ===
        Seq("processed"))
    }
  }

  test("the first read after a commit serves the new version and drops the old pin") {
    withGraft { g =>
      deliver(g, "w1.json", Seq("a1" -> "Oat Milk"))
      val before = g.findByCode("a1")
      assert(names(before) === Seq("Oat Milk"))
      val oldRdd = pins(before).head.cacheBuilder.cachedColumnBuffers
      assert(oldRdd.getStorageLevel === StorageLevel.MEMORY_AND_DISK)

      deliver(g, "w2.json", Seq("a1" -> "Oat Milk Deluxe"))
      val after = g.findByCode("a1")
      assert(names(after) === Seq("Oat Milk Deluxe"))
      assert(oldRdd.getStorageLevel === StorageLevel.NONE)
      assert(!(pins(after).head.cacheBuilder eq pins(before).head.cacheBuilder))
      // a frame obtained (and run) before the commit keeps its snapshot
      assert(names(before) === Seq("Oat Milk"))
    }
  }

  test("a frame obtained before a commit returns its own snapshot after it") {
    withGraft { g =>
      deliver(g, "w1.json", Seq("a1" -> "Oat Milk", "a2" -> "Rye"))
      val partial = g.findPartial("")
      val status = g.uploadStatus("nope")
      deliver(g, "w2.json", Seq("a1" -> "Oat Milk Deluxe", "a3" -> "Tea"))
      assert(names(g.findPartial("")) === Seq("Oat Milk Deluxe", "Rye", "Tea"))
      assert(names(partial) === Seq("Oat Milk", "Rye"))
      assert(status.isEmpty)
    }
  }

  test("pre-ingest reads return the schemaful empties, unpinned") {
    withGraft { g =>
      val reads = Seq(g.findByCode("a1"), g.findPartial("x"),
        g.findPartial("x", regex = true), g.findExact("x"))
      reads.foreach { df =>
        assert(df.isEmpty)
        assert(df.schema === IngestStream.emptyProducts(spark).schema)
        assert(pins(df).isEmpty)
      }
      val st = g.uploadStatus("nothing")
      assert(st.isEmpty && pins(st).isEmpty)
      assert(st.columns.toSeq === Seq("file_id", "status", "total_records",
        "records_processed", "records_failed"))
    }
  }

  test("a reader polling during processAvailable sees only whole versions") {
    withGraft { g =>
      val codes = (1 to 12).map(i => f"c$i%02d")
      deliver(g, "w1.json", codes.map(c => c -> s"$c v1"))
      g.uploadString("w2.json", codes.map(c =>
        s"""{"code":"$c","product_name":"$c v2"}""").mkString("[", ",", "]"))
      @volatile var done = false
      @volatile var failure: Option[Throwable] = None
      val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      val reader = new Thread(() =>
        try while (!done) seen.synchronized {
          seen += names(g.findPartial("", limit = 50))
        } catch { case t: Throwable => failure = Some(t) })
      reader.start()
      try g.processAvailable()
      finally { done = true; reader.join(120000) }
      failure.foreach(t => fail("reader thread failed", t))
      seen += names(g.findPartial("", limit = 50))
      val whole = Seq("v1", "v2").map(v => codes.map(c => s"$c $v"))
      assert(seen.size >= 2)
      seen.foreach(s => assert(whole.contains(s), s"torn read: $s"))
      assert(seen.last === whole(1))
    }
  }

  test("the ingest merge over a pinned products snapshot plans no extra exchange") {
    withStore { (g, cfg) =>
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import spark.implicits._
      deliver(g, "w1.json", Seq("a1" -> "Oat Milk", "a2" -> "Rye"))
      val store = IngestStream.productsStore(cfg)
      val delta = Seq(("a1", "Oat Milk Deluxe")).toDF("code", "product_name")
      def merge = graft.ingest.Upsert.mergeFieldsJoin(store.read(spark).get,
        delta, key = "code")
      val cold = PlanNodes.all(merge)
      assert(names(g.findByCode("a1")) === Seq("Oat Milk"))
      val warm = PlanNodes.all(merge)
      // the writer's read of the live snapshot is served from the pin ...
      assert(cold.collect { case s: InMemoryTableScanExec => s }.isEmpty)
      assert(warm.collect { case s: InMemoryTableScanExec => s }.nonEmpty)
      // ... which keeps the bucketed layout: no exchange is added
      def exchanges(p: Seq[org.apache.spark.sql.execution.SparkPlan]) =
        p.count(_.isInstanceOf[ShuffleExchangeExec])
      assert(exchanges(warm) === exchanges(cold))
    }
  }
}
