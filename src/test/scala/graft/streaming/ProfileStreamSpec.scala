package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The streaming column profiler: streamed per-delivery profiles fed
  * through the shared flag algebra must reproduce the batch
  * `Profile.profileDriftOf` output exactly — on a planted frame that
  * exercises every flag and null handling (the fixture corpus carries
  * no nulls), and across a checkpoint restart. RocksDB-only: the
  * transformWithState operator requires the RocksDB provider (the
  * [[EventDrives.twsTotals]] constraint). */
class ProfileStreamSpec extends SparkSuite {

  private val rocks = Some("org.apache.spark.sql.execution.streaming." +
    "state.RocksDBStateStoreProvider")

  /** 3 deliveries over (delivery, k:long, s:string): a null spike in
    * delivery 2, a range escape + cardinality jump in delivery 3. */
  private def planted: DataFrame = {
    import spark.implicits._
    val rows =
      (1 to 10).map(i => (1L, Option(i.toLong),
        ('a' + i % 2).toChar.toString)) ++
      (1 to 10).map(i => (2L, if (i <= 5) None else Option(i.toLong),
        ('a' + i % 2).toChar.toString)) ++
      (1 to 10).map(i => (3L, Option(i * 5L),
        ('a' + i % 10).toChar.toString))
    rows.toDF("delivery", "k", "s")
  }

  private def rowSet(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Drive `t` through the machine one delivery-file per trigger from
    * a shared checkpoint; `stopAfter` splits the deliveries across two
    * query incarnations (None = single uninterrupted run). Returns the
    * flagged drift frame. */
  private def drive(t: DataFrame, stopAfter: Option[Long]): DataFrame =
    DriveSupport.withWorkspace("graft-profstream-spec") { ws =>
      val cells = ProfileStream.cellsOf(t, col("delivery"))
      val deliveries = cells.select("delivery").distinct()
        .collect().map(_.getLong(0)).sorted
      val numericByName = t.schema.fields.map(f =>
        f.name -> ProfileStream.isNumeric(f.dataType)).toMap
      val inDir = ws.resolve("cells").toString
      val ckpt = ws.resolve("ckpt").toString
      DriveSupport.withStreamConfs(spark, provider = rocks) {
        import spark.implicits._
        val buf = new ConcurrentLinkedQueue[Row]
        def run(): Unit = {
          val stream = spark.readStream.schema(cells.schema)
            .option("maxFilesPerTrigger", 1).parquet(inDir)
            .as[ProfileStream.ProfileCell]
          val q = ProfileStream.machine(stream).toDF()
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
                DriveSupport.bufferBatch(buf, b)
            }.start()
          try q.processAllAvailable() finally q.stop()
        }
        def deliver(ds: Seq[Long]): Unit = ds.foreach(d =>
          cells.filter(col("delivery") === d).coalesce(1)
            .write.mode("append").parquet(inDir))
        stopAfter match {
          case None => deliver(deliveries); run()
          case Some(cut) =>
            deliver(deliveries.filter(_ <= cut)); run()
            deliver(deliveries.filter(_ > cut)); run()
        }
        val sink = spark.createDataFrame(
          new java.util.ArrayList[Row](buf),
          spark.emptyDataset[ProfileStream.ProfileUpd].schema)
        DriveSupport.pin(spark, ProfileStream.driftFlags(
            ProfileStream.finalProfiles(sink), numericByName))
          .orderBy("delivery", "col_name")
      }
    }

  test("planted drift: streamed profiles + flag algebra == batch " +
      "profileDriftOf; every flag and the null path exercised") {
    val t = planted
    val want = graft.query.Profile.profileDriftOf(t, col("delivery"))
    val got = drive(t, stopAfter = None)
    assert(got.columns.toSeq === want.columns.toSeq)
    assert(rowSet(got) === rowSet(want),
      "streamed drift diverges from the batch twin")
    // the planted signals actually fired (guards against a vacuously
    // green equality where no flag is ever true)
    val byKey = want.collect().map(r =>
      (r.getLong(0), r.getString(1)) -> r).toMap
    assert(byKey((2L, "k")).getAs[Boolean]("null_shift"),
      "planted null spike must flip null_shift")
    assert(byKey((2L, "k")).getAs[Long]("n_nulls") === 5L)
    assert(byKey((3L, "k")).getAs[Boolean]("range_escape"),
      "planted out-of-envelope max must flip range_escape")
    assert(byKey((3L, "s")).getAs[Boolean]("card_jump"),
      "planted vocabulary blow-up must flip card_jump")
    assert(want.collect().filter(_.getLong(0) == 1L).forall(r =>
      !r.getAs[Boolean]("null_shift") && !r.getAs[Boolean]("range_escape")
        && !r.getAs[Boolean]("card_jump")),
      "first delivery has no history — no flag may fire")
  }

  test("profiles survive a checkpoint restart mid-stream (rocksdb)") {
    val t = planted
    val want = rowSet(graft.query.Profile.profileDriftOf(t, col("delivery")))
    // stop after delivery 1, resume for 2 and 3: counters, extrema and
    // the distinct map must all come back from the store — a lost map
    // undercounts n_distinct, lost extrema break range_escape
    assert(rowSet(drive(t, stopAfter = Some(1L))) === want,
      "post-restart drift diverges from the batch twin")
  }

  test("fixture drive: stream_profile_drift == profile_drift on orders") {
    val got = ProfileStream.drift(spark, graft.TestSpark.sfDir)
    val want = graft.query.Profile.profileDrift(spark, graft.TestSpark.sfDir)
    assert(got.columns.toSeq === want.columns.toSeq)
    assert(rowSet(got) === rowSet(want))
  }
}
