package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.Tables

/** The shared gauge lifecycle ([[DriftGauge]]) on a synthetic id frame
  * with a toy gauge: the delivery cut, the decision and the
  * gauge → act → re-gauge post-state. */
class DriftGaugeSpec extends SparkSuite {

  private def ids(hi: Long): DataFrame = spark.range(0, hi + 1).toDF("id")

  private def idSet(df: DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  /** Flags the panel iff a delivery id exceeds `above`. */
  private def toy(above: Long)(base: DataFrame, delta: DataFrame) =
    DriftGauge.tagged(base, delta)
      .select(col("id"), col("is_delta"),
        DriftGauge.anyRow(col("is_delta") && col("id") > above)
          .as("toy_retrain"))

  test("slicer: ids at or past max·4/5+1 are the delivery") {
    val (base, delta) = Tables.deltaSlices(ids(20), "id")
    assert(idSet(base) === (0L to 16L).toSet)
    assert(idSet(delta) === (17L to 20L).toSet)
  }

  test("slicer: an explicit cut from another table") {
    val cut = Tables.deltaCutoff(ids(40), "id")
    assert(cut === 33L)
    val (base, delta) = Tables.deltaSlices(ids(50), "id", cut)
    assert(idSet(base) === (0L to 32L).toSet)
    assert(idSet(delta) === (33L to 50L).toSet)
  }

  test("fired: false on an empty panel, true iff some row flags") {
    import spark.implicits._
    val empty = Seq.empty[Boolean].toDF("f")
    assert(!DriftGauge.fired(empty, "f"))
    assert(!DriftGauge.fired(Seq(false, false).toDF("f"), "f"))
    assert(DriftGauge.fired(Seq(false, true, false).toDF("f"), "f"))
  }

  test("applied: a quiet gauge returns the pre-delivery panel") {
    val src = ids(20)
    val post = DriftGauge.applied(src, "id", "toy_retrain")(toy(100))
    assert(post.columns.toSeq ===
      Seq("id", "is_delta", "toy_retrain", "retrained"))
    val (base, delta) = Tables.deltaSlices(src, "id")
    assert(post.drop("retrained").collect().toSet ===
      toy(100)(base, delta).collect().toSet)
    assert(post.filter(col("is_delta")).count() === 4)
    assert(post.filter(col("retrained") || col("toy_retrain")).isEmpty)
  }

  test("applied: a fired gauge returns the (src, empty) panel") {
    val src = ids(20)
    val (base, delta) = Tables.deltaSlices(src, "id")
    assert(DriftGauge.fired(toy(18)(base, delta), "toy_retrain"))
    val post = DriftGauge.applied(src, "id", "toy_retrain")(toy(18))
    assert(post.count() === 21)
    assert(post.filter(col("is_delta") || col("toy_retrain")).isEmpty)
    assert(post.filter(!col("retrained")).isEmpty)
  }
}
