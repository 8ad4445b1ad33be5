package graft.streaming

// Scratch measurement for r14 verdict task 7 (drive bench hygiene):
// phase breakdown of one streaming drive and a one-sentinel variant,
// to see how much of the per-drive wall is sentinel micro-batches vs
// real state work. Run:
//   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.streaming.MeasureDrive"
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object MeasureDrive {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$label%-32s ${(System.nanoTime() - t0) / 1e9}%.2fs")
      r
    }

    // current form (two sentinel passes)
    time("hh warm") {
      EventDrives.heavyHitters(spark, dir).count() }
    val base = time("hh current") {
      EventDrives.heavyHitters(spark, dir)
        .collect().map(_.toString).sorted.toSeq }

    // one-sentinel variant, inline: same plan, ONE sentinel append —
    // Spark's no-data micro-batch (enabled by default) should re-run
    // with the advanced watermark and emit the closed windows
        val variant = time("hh one-sentinel") {
      DriveSupport.withWorkspace("graft-hh-x") { ws =>
        val name = DriveSupport.sinkName("hh_x")
        val events = graft.core.Tables.load(spark, dir, "events")
          .select(col("event_id"), col("ts").cast("timestamp").as("ts"))
        val eDir = ws.resolve("events").toString
        events.coalesce(1).write.parquet(eDir)
        val itemsExpr =
          "transform(sequence(1, 32), r -> concat('z', cast(32 div r as string)))"
        DriveSupport.withStreamConfs(spark) {
          val stream = spark.readStream.schema(events.schema).parquet(eDir)
          val q = stream
            .select(col("ts"), explode(expr(itemsExpr)).as("item"))
            .withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"))
            .agg(graft.functions.heavy_hitters_sketch(col("item"), 8)
              .as("hh"))
            .select(col("window.start").as("window_start"), col("hh"))
            .writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ws.resolve("ckpt").toString)
            .outputMode("append").start()
          DriveSupport.draining(q) {
            q.processAllAvailable()
            val maxTs = events.agg(max(col("ts"))).head().getAs[Any](0)
            spark.range(1)
              .select(lit(-1L).as("event_id"),
                (lit(maxTs).cast("timestamp") + expr("INTERVAL 366 days"))
                  .as("ts"))
              .write.mode("append").parquet(eDir)
            q.processAllAvailable()
            val survivors = DriveSupport.pin(spark, spark.table(name))
            val exact = events
              .select(date_trunc("hour", col("ts")).as("window_start"),
                explode(expr(itemsExpr)).as("item"))
              .groupBy("window_start", "item").agg(count(lit(1)).as("c"))
            val totals = exact.groupBy("window_start").agg(sum("c").as("n"))
            exact.join(totals, "window_start")
              .filter(col("c") * 9 > col("n"))
              .join(survivors, Seq("window_start"))
              .select(
                col("window_start").cast("timestamp_ntz").as("window_start"),
                col("item"), col("c").as("exact_cnt"),
                array_contains(col("hh"), col("item")).as("caught"))
              .orderBy("window_start", "item")
              .collect().map(_.toString).sorted.toSeq
          }
        }
      }
    }
    println("one-sentinel == current: " + (variant == base) +
      s" (${variant.size} vs ${base.size} rows)")
    spark.stop()
  }
}
