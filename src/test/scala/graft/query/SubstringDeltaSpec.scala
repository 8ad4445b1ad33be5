package graft.query

import org.apache.spark.sql.functions._
import graft.{SparkSuite, TestSpark}
import graft.core.Tables

/** O(delta) substring dedup ([[SubstringIndex]]): the load-bearing
  * claim is that cleaning the delivery against the base GRAM table
  * reproduces the batch [[TextSim.dedupSubstringApplyOf]] output
  * restricted to delta rows — exactly, for every rule branch. */
class SubstringDeltaSpec extends SparkSuite {

  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  private def deltaViaBatch(docs: org.apache.spark.sql.DataFrame,
      cut: Long) =
    TextSim.dedupSubstringApplyOf(docs)
      .filter(col("doc_id") >= cut)

  private def deltaViaIndex(docs: org.apache.spark.sql.DataFrame,
      cut: Long) = {
    val base = docs.filter(col("doc_id") < cut)
    val baseGrams = base
      .withColumn("toks", TextSim.tokens(col("text")))
      .filter(size(col("toks")) >= 5)
      .select(explode(expr(
        """transform(sequence(0, size(toks) - 5),
          |  s -> array_join(slice(toks, s + 1, 5), ' '))""".stripMargin))
        .as("gram"))
      .select(xxhash64(col("gram")).as("gh")).distinct()
    SubstringIndex.cleanDeltaAgainst(
      docs.filter(col("doc_id") >= cut), baseGrams, 5)
  }

  test("planted corpus: every rule branch matches the batch form") {
    // base: doc 1 holds run A; doc 2 holds run B once (so a delta
    // repeat of B makes it newly-dup — the base-primary flip case that
    // must NOT leak into delta output)
    // delta: doc 10 repeats run A (base-seen ⇒ cut), repeats run B
    // (base-seen ⇒ cut); docs 11+12 share run C (delta-new dup ⇒
    // first kept, second cut); doc 13 is all-fresh (kept whole)
    val runA = "alpha bravo charlie delta echo"
    val runB = "one two three four five"
    val runC = "red orange yellow green blue"
    val docs = Seq(
      (1L, s"$runA base tail words here"),
      (2L, s"$runB other base content words"),
      (10L, s"$runA and also $runB mixed in"),
      (11L, s"$runC first carrier unique eleven"),
      (12L, s"$runC second carrier unique twelve"),
      (13L, "entirely fresh text with no repeats anywhere at all"))
      .toDF("doc_id", "text")
    val cut = 10L
    val viaIndex = rows(deltaViaIndex(docs, cut))
    val viaBatch = rows(deltaViaBatch(docs, cut))
    assert(viaIndex === viaBatch)
    // branch assertions (on the index form)
    val m = deltaViaIndex(docs, cut).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(m(10L)._1 >= 10L, "base-seen runs not cut from doc 10")
    assert(m(11L)._1 === 0L, "delta-first occurrence of run C was cut")
    assert(m(12L)._1 === 5L, "delta-second occurrence of run C kept")
    assert(m(13L) === ((0L, "entirely fresh text with no repeats " +
      "anywhere at all")))
  }

  test("delta plan: zero Window operators (batch de-skew propagated)") {
    // a hot delivery-internal gram shared by many delta docs must be
    // ranked by the min(struct) aggregate, not a per-gram window sort
    val hot = "red orange yellow green blue"
    val docs = (Seq((1L, "base content words entirely apart here")) ++
      (10 to 80).map(i => (i.toLong, s"$hot only${i}x only${i}y")))
      .toDF("doc_id", "text")
    val out = deltaViaIndex(docs, 10L)
    val windows = graft.PlanNodes.all(out)
      .filter(_.nodeName.contains("Window"))
    assert(windows.isEmpty,
      s"delta plan still has Window nodes: ${windows.map(_.nodeName)}")
    assert(rows(out) === rows(deltaViaBatch(docs, 10L)))
  }

  test("fixture: index form == batch form on the delta slice") {
    val docs = graft.core.Tables.load(spark, TestSpark.sfDir, "documents")
    val cut = Tables.deltaCutoff(docs, "doc_id")
    assert(rows(deltaViaIndex(docs, cut)) ===
      rows(deltaViaBatch(docs, cut)))
  }

  test("persisted store serves the same delta cleaning") {
    val dir = TestSpark.sfDir
    val docs = graft.core.Tables.load(spark, dir, "documents")
    val cut = Tables.deltaCutoff(docs, "doc_id")
    val served = rows(SubstringIndex.dedupSubstringDelta(spark, dir))
    assert(served === rows(deltaViaBatch(docs, cut)))
    assert(served.nonEmpty)
  }
}
