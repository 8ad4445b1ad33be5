package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one local-session launcher: every graft main, the shared test
  * session and the forked test JVMs build their session here, so the
  * session decision is made in one place:
  *   - `local[n]` with `spark.sql.shuffle.partitions = n` (one
  *     post-shuffle partition per core),
  *   - UTC session time zone (the oracle compares timestamps in UTC),
  *   - no UI, log level WARN.
  *
  * Also the one reader of the mains' environment knobs
  * (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_FACTORS`, and
  * the key selections `SPARK_GRAFT_BENCH_ONLY`/`SPARK_GRAFT_VERIFY_ONLY`);
  * each parser is a pure function of the raw value so a spec can cover
  * it without touching the environment. */
object Sessions {

  /** `local[cores]` session with the graft defaults plus `confs` (a
    * forked child's app name and warehouse dir, say). `getOrCreate`:
    * an already running session in this JVM is returned as is. */
  def local(cores: Int, confs: (String, String)*): SparkSession = {
    logAtWarn()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    confs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
  }

  /** Root log level WARN before the context starts. Spark loads its
    * INFO-level log4j profile on its first log call, and the context
    * logs its first lines (version, OS, Java) before `spark.log.level`
    * would apply; so load the profile here, then lower the root. */
  private def logAtWarn(): Unit = {
    new org.apache.spark.internal.Logging { initializeLogIfNecessary(false) }
    Configurator.setRootLevel(Level.WARN)
  }

  /** `SPARK_GRAFT_CPUS`: the mains' core count, default 4. */
  lazy val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"))

  /** Where the fixture dirs live (TESTDATA.md). */
  val Fixtures = "/root/testdata"

  /** `SPARK_GRAFT_SF_DIR`, else the main's own default fixture dir,
    * `<Fixtures>/<scale>` (scale like `sf0.1`). */
  def sfDir(scale: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"$Fixtures/$scale")

  /** `SPARK_GRAFT_FACTORS`: the scaling mains' factor list, default
    * 1,4,16,64 (e.g. `SPARK_GRAFT_FACTORS=1` to iterate on one). */
  lazy val factors: Seq[Int] = parseFactors(sys.env.get("SPARK_GRAFT_FACTORS"))

  private[graft] def parseCpus(raw: Option[String]): Int = raw.fold(4) { s =>
    s.trim.toIntOption.filter(_ > 0).getOrElse(sys.error(
      s"SPARK_GRAFT_CPUS: expected a positive integer, got '$s'"))
  }

  private[graft] def parseFactors(raw: Option[String]): Seq[Int] =
    raw.fold(Seq(1, 4, 16, 64))(_.split(",").toSeq.map { tok =>
      tok.trim.toIntOption.getOrElse(sys.error(
        s"SPARK_GRAFT_FACTORS: expected comma-separated ints, got '$tok'"))
    })

  /** A key selection such as `SPARK_GRAFT_BENCH_ONLY=k1,k2`: unset
    * selects every key; a set value must name at least one key, and
    * only keys in `known`, so a typo fails the run instead of
    * narrowing it to nothing. */
  private[graft] def parseOnly(knob: String, raw: Option[String],
      known: Set[String]): Option[Set[String]] = raw.map { s =>
    val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
    if (names.isEmpty)
      sys.error(s"$knob: expected comma-separated key names, got '$s'")
    val unknown = names.filterNot(known).toSeq.sorted
    if (unknown.nonEmpty) sys.error(s"$knob: not among the ${known.size} " +
      s"keys it selects from: ${unknown.mkString(", ")}")
    names
  }
}
