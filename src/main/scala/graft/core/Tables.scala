package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.apache.spark.sql.{Column, functions => F}

/** Loaders for the driver-provided parquet tables (TESTDATA.md) plus the
  * numeric-determinism helpers every oracle-checked query uses.
  *
  * Determinism contract (SURVEY.md §5.1): the driver hash-compares our
  * parquet output against DuckDB. Double-precision aggregation is
  * order-dependent in both engines, so every SUM over a money-like double
  * column goes through an exact DECIMAL(18,2) cast (the synthetic data
  * carries at most 2 fractional digits), and every ratio/avg is derived
  * from exact sums then rounded. Raw (non-aggregated) doubles pass through
  * untouched — both engines read identical parquet bits.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Set a session conf once (avoids re-mutating global session state on
    * every table load). */
  private def ensureConf(spark: SparkSession, k: String, v: String): Unit =
    if (!spark.conf.getOption(k).contains(v)) spark.conf.set(k, v)

  // Memoized per (session, dir, name): a loaded DataFrame is an immutable
  // logical plan, and re-creating it per query re-lists the directory and
  // re-reads parquet footers — measurable fixed cost across a 48-query
  // surface. The cluster-scale analogue is a catalog/file-index cache.
  // Caches.PerSession purges stopped sessions on access (weak keys
  // cannot collect these: the DataFrame values reference the session).
  private val loaded = new Caches.PerSession[
    java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]]

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    loaded.get(spark)(new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent((dir, name), _ => load0(spark, dir, name))

  /** The delivery split every delta key shares: the newest ~20% of ids
    * — those at or past `max(id) * 4 / 5 + 1` — are the delivery, the
    * rest the base. Returns (cut, maxId) from ONE aggregation, for the
    * stagers that also need the top of the id range. (The DuckDB
    * oracles restate the rule in SQL on purpose: they are the
    * independent reference.) */
  def deltaSplit(df: DataFrame, idCol: String): (Long, Long) = {
    val maxId = df.agg(F.max(F.col(idCol))).head().getLong(0)
    (maxId * 4 / 5 + 1, maxId)
  }

  /** The delivery cut of [[deltaSplit]]. */
  def deltaCutoff(df: DataFrame, idCol: String): Long =
    deltaSplit(df, idCol)._1

  /** (base, delivery) slices of `df` on `idCol` at `cut`: ids below it
    * are the base. Pass the cut when it comes from another table (the
    * perceptual stores cut at [[documentsCutoff]]). */
  def deltaSlices(df: DataFrame, idCol: String, cut: Long)
      : (DataFrame, DataFrame) =
    (df.filter(F.col(idCol) < cut), df.filter(F.col(idCol) >= cut))

  /** (base, delivery) slices of `df` at its own [[deltaCutoff]]. */
  def deltaSlices(df: DataFrame, idCol: String): (DataFrame, DataFrame) =
    deltaSlices(df, idCol, deltaCutoff(df, idCol))

  /** The delivery cut of the `documents` table, which the stores
    * derived from it (the perceptual fingerprints) slice at. */
  def documentsCutoff(spark: SparkSession, dir: String): Long =
    deltaCutoff(load(spark, dir, "documents").select("doc_id"), "doc_id")

  /** Fan a narrow scan out to the session's parallelism. A small table
    * in one parquet split runs every scan-side heavy stage (shingling,
    * tokenizing, hashing, the countDistinct expand) in ONE task — the
    * split count, not the core count, bounds parallelism. The guard
    * makes this a no-op (and no extra exchange) on a properly-split
    * table, so at scale it costs nothing; on the local fixture it buys
    * the full core count for the per-row stage. Apply at `(spark, dir)`
    * ENTRY wrappers only — never inside a composed/audited pipeline
    * core, where an unconditional exchange would break plan pins. */
  def fanOut(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  private def load0(spark: SparkSession, dir: String, name: String)
      : DataFrame = {
    // µs-typed parquet output: keeps our dumped timestamps byte-comparable
    // with DuckDB's (the oracle compare reads both back via Arrow).
    ensureConf(spark, "spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark refuses natively:
    // read the raw int64 nanos and truncate to µs — the same truncation
    // DuckDB applies casting TIMESTAMP_NS → TIMESTAMP. Integer DIV (not
    // double /): ns epochs exceed 2^53. TIMESTAMP_NTZ (not TimestampType):
    // DuckDB's CAST(ts AS TIMESTAMP) is naive, and Spark writes tz-adjusted
    // TimestampType as timestamp[us, tz=UTC] — a guaranteed schema mismatch.
    // NTZ stays naive end-to-end through window()/date_trunc/min/max.
    ensureConf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts",
        F.expr("cast(timestamp_micros(ts DIV 1000) as timestamp_ntz)"))
    else df
  }

  /** (name, length, mtime) fingerprint of a table's parquet files —
    * derived on-disk artifacts (IVF index, z-order layout) key on it so
    * a regenerated fixture at the same path can never hit stale state.
    * Metadata-only: one directory listing. */
  def fingerprint(spark: SparkSession, dir: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sts =
      if (!fs.exists(p)) Nil
      else if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
      else Seq(fs.getFileStatus(p))
    sts.map(s => s"${s.getPath.getName}:${s.getLen}:" +
      s"${s.getModificationTime}").sorted.mkString(",")
  }

  /** Build-or-reuse a parquet set derived from fixture tables; returns
    * its root, `target/graft-<name>/<tag><sub>` (relative to the working
    * directory, so a clone elsewhere works). The tag is the md5 of `key`
    * joined by `|`: callers put in it the source dir, the
    * [[fingerprint]] of every table the set derives from and any
    * generator parameters, so a regenerated source or a changed
    * generator lands in a new root. `build(root)` runs unless every
    * `parts` entry under the root ("" = the root itself) already has
    * its `_SUCCESS` marker — a crash between writes rebuilds instead of
    * serving a torn set. */
  def ensureDerived(spark: SparkSession, name: String, key: Seq[String],
      sub: String = "", parts: Seq[String] = Seq(""))(
      build: String => Unit): String = {
    val root = s"target/graft-$name/${Caches.md5Tag(key.mkString("|"))}$sub"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val complete = parts.forall(p => fs.exists(new org.apache.hadoop.fs.Path(
      if (p.isEmpty) s"$root/_SUCCESS" else s"$root/$p/_SUCCESS")))
    if (!complete) build(root)
    root
  }

  /** Register all tables as temp views (for spark.sql-based operators). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Exact money arithmetic: cast to DECIMAL(18,2) pre-aggregation. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact, engine-portable SUM of a 2-decimal double column → double. */
  def moneySum(c: Column): Column = F.sum(dec2(c)).cast("double")

  /** Deterministic average: exact decimal sum / count, as double.
    * (Plain avg(double) is accumulation-order-dependent.) */
  def moneyAvg(c: Column): Column =
    (F.sum(dec2(c)).cast("double") / F.count(c)).cast("double")
}
