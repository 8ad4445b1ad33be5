package graft.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables

/** Table profiling — the "what is in this delivery" pass every
  * large-scale ingest runs before curation decides anything: per-column
  * null counts, exact distinct cardinality, typed min/max, and mean
  * rendered width, computed for ALL columns in ONE scan.
  *
  * Scale shape: a single global aggregation. The multi-column
  * `count(DISTINCT ...)` set plans as one Expand (one input row fans to
  * one row per distinct-aggregate, each keyed by its own column value)
  * feeding a two-phase hash aggregate — partial per partition, merged
  * once; min/max/count ride the same pass as non-distinct partials. No
  * per-column jobs, no second scan, no driver loop over columns: the
  * profile of a 100 TB table is one shuffle whose width is the distinct
  * VALUE sets, not the row count. (When exact cardinalities stop being
  * worth that shuffle, [[Sketches.hllUnionBound]] is the mergeable-
  * sketch path — same question, fixed-size partials.) The final
  * unpivot-to-rows touches a single 1-row frame — model-scalar cheap.
  *
  * Determinism: counts are exact integers; min/max are typed (numeric/
  * timestamp order, NOT string order) and rendered AFTER aggregation —
  * timestamps through an explicit UTC format, everything else through
  * the shortest-roundtrip cast both engines share on the fixture's
  * value ranges; mean width is an exact integer sum over an exact count,
  * rounded to 6 per the repo-wide ratio convention. */
object Profile {

  /** Post-aggregation rendering of a typed min/max to its cross-engine
    * string form. Timestamps get an explicit second-grain UTC format
    * (`strftime('%Y-%m-%d %H:%M:%S')` on the oracle side); other types
    * use the plain cast. */
  private[graft] def render(c: Column, dt: DataType): Column = dt match {
    case TimestampType | TimestampNTZType =>
      date_format(c, "yyyy-MM-dd HH:mm:ss")
    case _ => c.cast("string")
  }

  /** Driver key: profile every column of `orders` (int64 keys, strings,
    * a double, a timestamp — all the fixture's scalar shapes). Output
    * grain: one row per column, sorted by column name. */
  def profileTable(spark: SparkSession, dir: String,
      table: String = "orders"): DataFrame =
    profileOf(Tables.load(spark, dir, table))

  /** [[profileTable]]'s core over any frame of scalar columns (the
    * fixture carries no nulls; ProfileSpec drives the null-counting
    * and null-ignoring min/max paths on a constructed frame). */
  def profileOf(t: DataFrame): DataFrame = {
    val fields = t.schema.fields.toSeq
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        count(c).as(s"${f.name}__nn"),
        countDistinct(c).as(s"${f.name}__nd"),
        render(min(c), f.dataType).as(s"${f.name}__mn"),
        render(max(c), f.dataType).as(s"${f.name}__mx"),
        round(sum(length(render(c, f.dataType))).cast("double") /
          count(c), 6).as(s"${f.name}__al"))
    }
    val one = t.agg(count(lit(1)).as("__n"), aggs: _*)
    val rows = fields.map { f =>
      struct(lit(f.name).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"${f.name}__nn")).as("n_nulls"),
        col(s"${f.name}__nd").as("n_distinct"),
        col(s"${f.name}__mn").as("min_val"),
        col(s"${f.name}__mx").as("max_val"),
        col(s"${f.name}__al").as("avg_len"))
    }
    one.select(explode(array(rows: _*)).as("p"))
      .select("p.*")
      .orderBy("col_name")
  }

  /** The profile maintained INCREMENTALLY — the weekly-delivery regime
    * applied to table statistics: each delivery computes a kilobyte
    * PARTIAL profile (counts, typed min/max, width sums, and an HLL
    * sketch per column), and the whole-table profile is a MERGE of the
    * partials — no re-scan of old deliveries, ever. Every merged stat
    * is exact by algebra (counts/sums add, min/max compose) except
    * distinct cardinality, which is NOT mergeable exactly — that is
    * precisely what the mergeable HLL sketch is for (the
    * [[Sketches.hllUnionBound]] union property: merging partials loses
    * nothing vs sketching the union).
    *
    * The driver key slices `orders` into 5 synthetic deliveries
    * (`o_orderkey % 5`), merges their partials, and emits the
    * [[profileTable]] row grain PLUS the exact distinct count (the
    * full-scan verification side, the countMinBound pattern) and a
    * `distinct_est_ok` flag that the union-sketch estimate lands
    * within ±5% of exact — deterministic (sketches are pure functions
    * of the value sets). The oracle re-derives every exact column from
    * the full table — so any merge-algebra bug (a min that averaged, a
    * count that maxed) diverges the hash, and the flag pins the sketch
    * path. Sketches run over the RENDERED value (injective on the
    * fixture's ranges — shortest-roundtrip doubles, second-grain
    * timestamps with no sub-second values) so one codec serves every
    * column type.
    *
    * Scale shape: partials are per-delivery single-row aggregates
    * (map-side combinable); the merge touches |deliveries| rows of
    * kilobyte sketches. At 100 TB the partials persist with each
    * delivery (the SnapshotStore cadence) and a profile refresh is a
    * metadata-sized merge job. */
  def profileMerge(spark: SparkSession, dir: String,
      table: String = "orders", slices: Int = 5): DataFrame = {
    val t = Tables.load(spark, dir, table)
    profileMergeOf(t, pmod(col(t.schema.fieldNames.head), lit(slices)))
  }

  /** [[profileMerge]]'s core: partial profiles per `slice` value,
    * merged, with the full-scan exact-distinct verification side. */
  def profileMergeOf(t: DataFrame, slice: Column): DataFrame = {
    val fields = t.schema.fields.toSeq
    val partialAggs = fields.flatMap { f =>
      val c = col(f.name)
      val s = render(c, f.dataType)
      Seq(
        count(c).as(s"${f.name}__nn"),
        min(c).as(s"${f.name}__mn"),
        max(c).as(s"${f.name}__mx"),
        sum(length(s)).as(s"${f.name}__ls"),
        hll_sketch_agg(s, 12).as(s"${f.name}__sk"))
    }
    val partials = t.groupBy(slice.as("__slice"))
      .agg(count(lit(1)).as("__n"), partialAggs: _*)
    val mergeAggs = fields.flatMap { f =>
      Seq(
        sum(col(s"${f.name}__nn")).as(s"${f.name}__nn"),
        render(min(col(s"${f.name}__mn")), f.dataType).as(s"${f.name}__mn"),
        render(max(col(s"${f.name}__mx")), f.dataType).as(s"${f.name}__mx"),
        sum(col(s"${f.name}__ls")).as(s"${f.name}__ls"),
        hll_sketch_estimate(hll_union_agg(col(s"${f.name}__sk")))
          .as(s"${f.name}__de"))
    }
    val merged = partials
      .agg(sum(col("__n")).as("__n"), mergeAggs: _*)
      .withColumn("__k", lit(1))
    // the full-scan exact-distinct side (verification, not maintenance)
    val exact = t
      .agg(countDistinct(col(fields.head.name)).as(s"${fields.head.name}__nd"),
        fields.tail.map(f =>
          countDistinct(col(f.name)).as(s"${f.name}__nd")): _*)
      .withColumn("__k", lit(1))
    val joined = merged.join(broadcast(exact), "__k")
    val rows = fields.map { f =>
      struct(lit(f.name).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"${f.name}__nn")).as("n_nulls"),
        col(s"${f.name}__nd").as("n_distinct"),
        col(s"${f.name}__mn").as("min_val"),
        col(s"${f.name}__mx").as("max_val"),
        round(col(s"${f.name}__ls").cast("double") /
          col(s"${f.name}__nn"), 6).as("avg_len"),
        (abs(col(s"${f.name}__de") - col(s"${f.name}__nd"))
          .cast("double") <=
          col(s"${f.name}__nd").cast("double") * 0.05)
          .as("distinct_est_ok"))
    }
    joined.select(explode(array(rows: _*)).as("p"))
      .select("p.*")
      .orderBy("col_name")
  }

  /** Profile DRIFT detection — the operator the observability surface
    * exists for: compare each delivery's partial profile against its
    * predecessors and flag, per column,
    *   - `null_shift`: the null RATE moved by more than 5 points vs
    *     the previous delivery (exact integer cross-multiplication,
    *     no float compare: |nulls·n' − nulls'·n| · 20 > n · n');
    *   - `range_escape`: the delivery's typed min/max leaves the
    *     running historical envelope (a value class never seen
    *     before — schema drift's most common symptom);
    *   - `card_jump`: distinct cardinality doubled or halved vs the
    *     previous delivery (an id-explosion or a constant-collapse).
    * First delivery: all flags false (no predecessor). Comparisons run
    * on TYPED values (numeric/timestamp order, not string order);
    * rendering to the cross-engine string form happens only on output.
    *
    * Driver key: deliveries = order YEARS (the natural weekly-delivery
    * analogue the fixture offers) — the date column's envelope genuinely
    * escapes every delivery, so the key exercises a true positive; the
    * planted ProfileSpec corpus drives each flag independently.
    *
    * Scale shape: per-delivery partials are the same one-scan
    * aggregates [[profileMergeOf]] persists (at 100 TB the NEW
    * delivery is scanned, prior partials are read back); the
    * delivery-over-delivery windows run UNPARTITIONED on purpose —
    * delivery grain is model grain (a handful of rows), the same
    * single-partition window every profile key ends on. */
  def profileDrift(spark: SparkSession, dir: String,
      table: String = "orders"): DataFrame = {
    // the multi-countDistinct rewrite expands the input ×(ncols+1)
    // BEFORE the first exchange, so the partial aggregation inherits
    // the SCAN's parallelism — fan a narrow scan out first (measured
    // 3.0 s single-task vs 1.1 s at 32 at sf0.1)
    profileDriftOf(Tables.fanOut(Tables.load(spark, dir, table)),
      year(col("o_orderdate")).cast("long"))
  }

  /** [[profileDrift]]'s core over any frame and delivery key. */
  def profileDriftOf(t: DataFrame, delivery: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fields = t.schema.fields.toSeq
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      Seq(count(c).as(s"${f.name}__nn"),
        countDistinct(c).as(s"${f.name}__nd"),
        min(c).as(s"${f.name}__mn"),
        max(c).as(s"${f.name}__mx"))
    }
    val per = t.groupBy(delivery.as("delivery"))
      .agg(count(lit(1)).as("__n"), aggs: _*)
    val ord = Window.orderBy("delivery")
    val hist = ord.rowsBetween(Window.unboundedPreceding, -1)
    // all window columns in ONE select (a withColumn fold re-analyzes
    // a growing projection chain per step — pure planning overhead)
    val winCols = lag("__n", 1).over(ord).as("__ln") +:
      fields.flatMap { f =>
        Seq(lag(s"${f.name}__nn", 1).over(ord).as(s"${f.name}__lnn"),
          lag(s"${f.name}__nd", 1).over(ord).as(s"${f.name}__lnd"),
          min(col(s"${f.name}__mn")).over(hist).as(s"${f.name}__pmn"),
          max(col(s"${f.name}__mx")).over(hist).as(s"${f.name}__pmx"))
      }
    val withWins = per.select(col("*") +: winCols: _*)
    val rows = fields.map { f =>
      val n = col("__n"); val ln = col("__ln")
      val nn = col(s"${f.name}__nn"); val lnn = col(s"${f.name}__lnn")
      val nd = col(s"${f.name}__nd"); val lnd = col(s"${f.name}__lnd")
      val nulls = n - nn
      val lNulls = ln - lnn
      val nullShift = when(ln.isNull, lit(false))
        .otherwise(abs(nulls * ln - lNulls * n) * 20 > n * ln)
      val rangeEscape = when(col(s"${f.name}__pmn").isNull, lit(false))
        .otherwise(col(s"${f.name}__mn") < col(s"${f.name}__pmn") ||
          col(s"${f.name}__mx") > col(s"${f.name}__pmx"))
      val cardJump = when(lnd.isNull, lit(false))
        .otherwise(nd > lnd * 2 || nd * 2 < lnd)
      struct(col("delivery"), lit(f.name).as("col_name"),
        n.as("n_rows"), nulls.as("n_nulls"), nd.as("n_distinct"),
        render(col(s"${f.name}__mn"), f.dataType).as("min_val"),
        render(col(s"${f.name}__mx"), f.dataType).as("max_val"),
        nullShift.as("null_shift"), rangeEscape.as("range_escape"),
        cardJump.as("card_jump"))
    }
    withWins.select(explode(array(rows: _*)).as("p"))
      .select("p.*")
      .orderBy("delivery", "col_name")
  }

  /** skew_report: the "should this join key be salted?" panel — the
    * per-key group-size distribution for each candidate shuffle key,
    * collapsed to the numbers the partitioning decision actually
    * needs: key cardinality, max and p99 group size, the skew ratio
    * (max over mean — AQE's skewed-partition factor at the KEY grain,
    * before partitioning blurs it), and the hottest key itself. At
    * 100 TB this is one groupBy per key column producing a
    * #distinct-keys-sized table (≪ data), then a scalar fold — the
    * cheap pre-flight a pipeline runs before committing to a join
    * strategy ([[Relational]]'s `join_skew_salted` is the remedy this
    * report indicates). Exact percentile over the group-size table:
    * it is key-grain, not row-grain, so exactness is affordable at
    * any corpus size. */
  def skewReport(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    Seq("l_orderkey", "l_partkey", "l_suppkey").map { c =>
      li.groupBy(col(c).as("k")).agg(count(lit(1)).as("n"))
        .agg(
          lit(c).as("key_col"),
          count(lit(1)).as("n_keys"),
          sum(col("n")).as("n_rows"),
          max(col("n")).as("max_group"),
          round(expr("percentile(n, 0.99)"), 6).as("p99_group"),
          round(max(col("n")) * count(lit(1)) /
            sum(col("n")).cast("double"), 6).as("skew_ratio"),
          max_by(col("k"), struct(col("n"), -col("k"))).as("top_key"))
    }.reduce(_.unionByName(_))
      .orderBy("key_col")
  }
}
