package perfbench

import java.io.FileInputStream
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}

import graft.{Graft, SparkEntry}
import graft.streaming.IngestStream

/** One operation's outcome: a key pass, a delivery or a read. */
final case class Op(name: String, kind: String, group: String, phase: String,
    pass: Int, ms: Double, parts: Map[String, Double], jobs: Long,
    span: Long, result: Any, error: String)

/** Benchmark engine process: runs one workload from a plan written by
  * `run.py`, through graft's public entry points only (`graft.Graft`
  * for the journey, `SparkEntry.queries` for a mix), and writes the raw
  * observations to `result.json` in the working directory. `run.py`
  * checks the outputs and turns the observations into metrics.
  *
  * Usage: Main <plan.json>; the working directory is the run's own. */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(Paths.get(args(0)).toFile)
    val cores = plan.get("cores").asInt
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.hadoop.tmp.dir", Paths.get("tmp").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, plan.get("trace").asBoolean)
    val run = new Run(spark, tracer, plan)
    val out = tracer.span("run", "run") {
      if (plan.get("workload").asText == "journey") run.journey() else run.mix()
    }
    tracer.close()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val result = out ++ Map(
      "ops" -> run.ops.map(o => Map("name" -> o.name, "kind" -> o.kind,
        "group" -> o.group, "phase" -> o.phase, "pass" -> o.pass,
        "ms" -> o.ms, "parts" -> o.parts, "jobs" -> o.jobs,
        "result" -> o.result, "error" -> o.error)),
      "setup" -> Map(
        "session_s" -> sessionS,
        "warm_s" -> run.warmS,
        "setup_s" -> (run.setupEndMs - jvmStart) / 1e3,
        "artifact_mb" -> run.artifactMb),
      "env" -> Map(
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "cores" -> cores,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "state_store" -> spark.conf.getOption(
          "spark.sql.streaming.stateStore.providerClass").getOrElse("default")),
      "peak_rss_mb" -> peakRssMb(),
      "layers" -> (if (tracer.traced) Layers(tracer, run) else Map.empty))
    if (tracer.traced) Layers.writeSpans(tracer, Paths.get("spans.jsonl"))
    Files.writeString(Paths.get("result.json"), json.writeValueAsString(result))
    spark.stop()
  }

  /** The process's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)

  def text(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
}

/** The workload logic of one run. */
final class Run(spark: SparkSession, tracer: Tracer, plan: JsonNode) {
  val ops = mutable.ArrayBuffer.empty[Op]
  var warmS = 0.0
  var setupEndMs = 0L
  var artifactMb = 0.0
  private val seconds = plan.get("seconds").asDouble

  /** CPU time of every thread of this process, in seconds: unlike wall
    * time it leaves out the time the machine ran other work. */
  private def cpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** Run `body`; a failure is returned as its class and message. */
  private def attempt(body: => Unit): String =
    try { body; null }
    catch { case e: Exception =>
      s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
    }

  private def finishSetup(warmStart: Long): Unit = {
    warmS = (System.nanoTime() - warmStart) / 1e9
    setupEndMs = System.currentTimeMillis()
    artifactMb = Seq("target", "spark-warehouse", "journey").map(d => dirBytes(Paths.get(d)))
      .sum / (1 << 20).toDouble
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  // ---- mixes: passes over a fixed key list through SparkEntry.queries ----

  /** Row count plus two order-insensitive sums of a 64-bit hash of
    * every column: the action reads every output column, so no column
    * the user would receive can be pruned away. */
  private def checksum(df: DataFrame): Seq[Long] = {
    val h = F.xxhash64(F.to_json(F.struct(df.columns.map(c => F.col(s"`$c`")).toIndexedSeq: _*)))
    val r = df.select(h.as("h")).agg(F.count(F.lit(1)),
      F.sum(F.col("h").bitwiseAND(0xffffffffL)),
      F.sum(F.shiftrightunsigned(F.col("h"), 32))).head()
    Seq(r.getLong(0), Option(r.get(1)).fold(0L)(_.asInstanceOf[Long]),
      Option(r.get(2)).fold(0L)(_.asInstanceOf[Long]))
  }

  def mix(): Map[String, Any] = {
    val data = plan.get("data").asText
    val keys = plan.get("keys").elements.asScala.map(k =>
      (k.get("key").asText, k.get("group").asText)).toSeq
    def pass(phase: String, n: Int): Double = timed {
      keys.foreach { case (k, g) =>
        val fn = SparkEntry.queries(k)
        var parts = Map.empty[String, Double]
        var result: Any = null
        var error: String = null
        var spanId = 0L
        val (_, ms) = timed {
          tracer.span(k, "op", g) {
            spanId = tracer.spans.last.id
            error = attempt {
              val (df, b) = timed(tracer.span("build", "layer")(fn(spark, data)))
              val (cs, a) = timed(tracer.span("action", "layer")(checksum(df)))
              parts = Map("build" -> b, "action" -> a)
              result = cs
            }
          }
        }
        ops += Op(k, "key", g, phase, n, ms, parts, 0L, spanId, result, error)
        System.err.println(f"[perfbench] $phase $n $k $ms%.0f ms")
      }
    }._2 / 1e3

    val warmStart = System.nanoTime()
    val warm = mutable.ArrayBuffer.empty[Double]
    val maxWarm = plan.get("max_warm").asInt
    while (warm.size < maxWarm && !(warm.size >= 2 &&
        math.abs(warm.last / warm(warm.size - 2) - 1) <= plan.get("steady").asDouble))
      warm += pass("warm", warm.size)
    finishSetup(warmStart)

    val timedPasses, passCpu = mutable.ArrayBuffer.empty[Double]
    val tStart = System.nanoTime()
    while (timedPasses.size < plan.get("min_passes").asInt ||
        (System.nanoTime() - tStart) / 1e9 + timedPasses.last <= seconds) {
      val c0 = cpuS()
      timedPasses += pass("timed", timedPasses.size)
      passCpu += cpuS() - c0
    }

    // reference-oracle dumps of the sampled keys, in Verify's format
    val outDir = plan.get("oracle_out").asText
    val sampled = Main.text(plan.get("oracle_keys"))
      .filter(SparkEntry.oracleSql.contains).take(plan.get("oracle_sample").asInt)
    sampled.foreach { k =>
      val error = attempt(SparkEntry.queries(k)(spark, data).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$k"))
      if (error != null)
        ops += Op(k, "oracle", "", "check", 0, 0, Map.empty, 0L, 0L, null, error)
    }
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      new ObjectMapper().writeValueAsString(
        SparkEntry.oracleSql.filter(kv => sampled.contains(kv._1)).asJava))
    finalizeJobs()
    Map("warm_passes" -> warm, "timed_passes" -> timedPasses, "timed_cpu_s" -> passCpu)
  }

  /** Fill each op's job count once every listener event has arrived. */
  private def finalizeJobs(): Unit = {
    tracer.drain()
    ops.indices.foreach { i =>
      val o = ops(i)
      if (o.span > 0) ops(i) = o.copy(jobs = tracer.spans.filter(s =>
        s.op == o.span || s.id == o.span).map(s => tracer.jobsOf(s.id)).sum)
    }
  }

  // ---- journey: the reference's user journey through graft.Graft ----

  def journey(): Map[String, Any] = {
    val ws = Paths.get("journey").toAbsolutePath
    val cfg = IngestStream.Config(
      landingDir = ws.resolve("landing").toString,
      warehouseDir = ws.resolve("warehouse").toString,
      checkpointDir = ws.resolve("checkpoint").toString)
    val g = new Graft(spark, cfg)
    val fileIds = mutable.ArrayBuffer.empty[String]
    val terminal = Set("processed", "processed_with_errors", "failed")

    def deliver(d: JsonNode, phase: String, n: Int): Double = {
      val name = d.get("name").asText
      var parts = Map.empty[String, Double]
      var status: Seq[Any] = Nil
      var spanId = 0L
      var error: String = null
      val (_, ms) = timed {
        tracer.span(name, "op", "graft") {
          spanId = tracer.spans.last.id
          error = attempt {
            val in = new FileInputStream(d.get("path").asText)
            val (id, up) = try timed(tracer.span("upload", "layer")(g.upload(name, in)))
              finally in.close()
            val (_, pr) = timed(tracer.span("process", "layer")(g.processAvailable()))
            val (rows, st) = timed {
              var polls = 0
              var r: Array[Row] = Array.empty
              while (polls < 100 && !r.headOption.exists(x => terminal(x.getString(1)))) {
                r = tracer.span("status", "layer")(g.uploadStatus(id).collect())
                polls += 1
              }
              r
            }
            fileIds += id
            parts = Map("upload" -> up, "process" -> pr, "status" -> st)
            status = rows.headOption.map(r => Seq(r.getString(0), r.getString(1),
              r.getLong(2), r.getLong(3), r.getLong(4))).getOrElse(Nil)
          }
        }
      }
      System.err.println(f"[perfbench] $phase $name $ms%.0f ms")
      ops += Op(name, "delivery", "graft", phase, n, ms, parts, 0L, spanId,
        Map("status" -> status, "bytes" -> Files.size(Paths.get(d.get("path").asText)),
          "store" -> storeShape(ws.resolve("warehouse/products"))), error)
      ms
    }

    val warmStart = System.nanoTime()
    val warmPlan = plan.get("warmup").elements.asScala.toSeq
    val warm = mutable.ArrayBuffer.empty[Double]
    val steady = plan.get("steady").asDouble
    while (warm.size < warmPlan.size && !(warm.size >= plan.get("warm_min").asInt &&
        math.abs(warm.last / warm(warm.size - 2) - 1) <= steady))
      warm += deliver(warmPlan(warm.size), "warm", warm.size)
    finishSetup(warmStart)

    def product(r: Row): Seq[Any] = Seq(r.getAs[String]("code"),
      r.getAs[String]("product_name"),
      Option(r.getAs[scala.collection.Map[String, String]]("extras")).map(_.toMap).orNull)

    val c0 = cpuS()
    val (_, wallMs) = timed {
      plan.get("measured").elements.asScala.zipWithIndex.foreach { case (d, i) =>
        deliver(d, "timed", i)
        d.get("reads").elements.asScala.foreach { rd =>
          val kind = rd.get("op").asText
          val arg = rd.get("arg")
          var rows: Seq[Any] = Nil
          var spanId = 0L
          var error: String = null
          val (_, ms) = timed {
            tracer.span(kind, "op", "query.Finders") {
              spanId = tracer.spans.last.id
              error = attempt(tracer.span("find", "layer") {
                rows = kind match {
                  case "code" | "miss" => g.findByCode(arg.asText).collect().toSeq.map(product)
                  case "partial" => g.findPartial(arg.asText).collect().toSeq.map(product)
                  case "exact" => g.findExact(arg.asText).collect().toSeq.map(product)
                  case "status" => g.uploadStatus(fileIds(warm.size + arg.asInt)).collect().toSeq
                    .map(r => Seq(r.getString(0), r.getString(1), r.getLong(2),
                      r.getLong(3), r.getLong(4)))
                }
              })
            }
          }
          ops += Op(s"$kind:${arg.asText}", kind, "query.Finders", "timed", i, ms,
            Map.empty, 0L, spanId, rows, error)
        }
      }
    }

    val cpu = cpuS() - c0

    // final store state, for the model comparison in run.py
    IngestStream.productsStore(cfg).read(spark).get
      .select("code", "product_name", "extras").write
      .parquet(plan.get("products_out").asText)
    finalizeJobs()
    Map("warm_deliveries" -> warm.size, "wall_ms" -> wallMs, "timed_cpu_s" -> Seq(cpu),
      "file_ids" -> fileIds)
  }

  /** Shape of the live products snapshot: the data dirs its newest
    * manifest names (one per copy-on-write commit since the last full
    * rewrite) and the parquet files under them. */
  private def storeShape(root: Path): Map[String, Long] = {
    val manifest = Files.list(root).iterator().asScala
      .filter(_.getFileName.toString.matches("MANIFEST-\\d+"))
      .maxBy(_.getFileName.toString.stripPrefix("MANIFEST-").toLong)
    val dirs = Files.readAllLines(manifest).asScala.map(_.trim).filter(_.nonEmpty)
    val files = dirs.map(d => Files.walk(root.resolve(d)).iterator().asScala
      .count(_.toString.endsWith(".parquet"))).sum
    Map("files" -> files.toLong, "versions" -> dirs.size.toLong)
  }
}
