package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Z-order (Morton-curve) data layout: the multi-dimensional clustering
  * lever for 100 TB scans (the public pattern behind Delta/Iceberg
  * `OPTIMIZE ZORDER BY`). Range-partitioning + sorting by the
  * bit-interleaved key co-locates rows that are close in BOTH
  * dimensions, so parquet min/max stats prune files and row groups for
  * predicates on EITHER column — a single-column sort can only serve
  * one. Pay one layout write, amortize over every selective scan.
  *
  * The z-value is pure column algebra (6 shift/mask rounds per
  * dimension — the standard bit-spread construction), so the layout job
  * itself is one range shuffle inside whole-stage codegen: no UDF, no
  * custom partitioner.
  */
object Layout {

  /** Spread the low 32 bits of `c` so bit i lands at position 2i. */
  private def spread(c: Column): Column = {
    var x = c.cast("long").bitwiseAND(lit(0xFFFFFFFFL))
    x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** 64-bit Morton code of two non-negative 32-bit keys (a even bits,
    * b odd bits). Skewed domains would rank-normalize first; the
    * uniform integer keys here interleave directly. */
  def zValue(a: Column, b: Column): Column =
    spread(a).bitwiseOR(shiftleft(spread(b), 1))

  /** Rewrite `df` z-ordered on (c1, c2): range-partition by z-value into
    * `nFiles` files, sort within each — every file then covers a compact
    * z-range whose per-column min/max footers are tight. */
  def zorderWrite(df: DataFrame, c1: String, c2: String, outPath: String,
      nFiles: Int = 16): Unit =
    df.withColumn("__z", zValue(col(c1), col(c2)))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outPath)

  // one layout per (session, dir), fingerprint-keyed like the IVF index
  private val prepared = new graft.core.Caches.Keyed[Seq[String], String]

  /** Build-or-reuse the z-ordered lineitem copy; returns its path. */
  def ensureZordered(spark: SparkSession, dir: String): String = {
    val key = Seq(dir, Tables.fingerprint(spark, dir, "lineitem"))
    prepared.get(spark, key)(
      Tables.ensureDerived(spark, "zorder", key) { path =>
        zorderWrite(Tables.load(spark, dir, "lineitem"),
          "l_partkey", "l_suppkey", path)
      })
  }

  /** Selective two-dimensional box scan over the z-ordered layout —
    * identical rows to the same predicate on the original table (the
    * oracle's form); the LAYOUT is what changes: min/max pruning keeps
    * the scan to the few files whose z-range meets the box (LayoutSpec
    * asserts scanned rows shrink vs the unclustered copy). */
  def scanZorder(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(ensureZordered(spark, dir))
      .filter(col("l_partkey").between(1, 40) &&
        col("l_suppkey").between(1, 10))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity")
      // (l_orderkey, l_linenumber) is NOT unique in the fixture — order
      // by every output column so the order is total up to identical
      // rows (which hash equal regardless)
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity")
}
