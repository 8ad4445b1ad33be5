package graft

import org.scalatest.funsuite.AnyFunSuite

/** The mains' env-knob parsers, as pure functions of the raw value. */
class SessionsSpec extends AnyFunSuite {

  test("SPARK_GRAFT_FACTORS: a valid list parses, unset is the default") {
    assert(Sessions.parseFactors(Some("1, 4,16")) == Seq(1, 4, 16))
    assert(Sessions.parseFactors(None) == Seq(1, 4, 16, 64))
  }

  test("SPARK_GRAFT_FACTORS: a bad token fails naming the variable") {
    val e = intercept[RuntimeException](Sessions.parseFactors(Some("1,x")))
    assert(e.getMessage.contains("SPARK_GRAFT_FACTORS"))
    assert(e.getMessage.contains("'x'"))
  }

  test("SPARK_GRAFT_CPUS: positive integers only, unset is 4") {
    assert(Sessions.parseCpus(None) == 4)
    assert(Sessions.parseCpus(Some(" 8 ")) == 8)
    Seq("0", "-2", "abc", "").foreach { bad =>
      val e = intercept[RuntimeException](Sessions.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  test("key selection: unset selects all, a valid list parses") {
    val known = Set("a", "b", "c")
    assert(Sessions.parseOnly("SPARK_GRAFT_VERIFY_ONLY", None, known).isEmpty)
    assert(Sessions.parseOnly("SPARK_GRAFT_VERIFY_ONLY", Some(" a, c,"), known)
      .contains(Set("a", "c")))
  }

  test("key selection: an empty selection fails naming the variable") {
    Seq("", " ", ",", " , ").foreach { bad =>
      val e = intercept[RuntimeException](
        Sessions.parseOnly("SPARK_GRAFT_BENCH_ONLY", Some(bad), Set("a")))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_ONLY"), s"'$bad'")
    }
  }

  test("key selection: an unknown name fails naming it") {
    val e = intercept[RuntimeException](Sessions.parseOnly(
      "SPARK_GRAFT_VERIFY_ONLY", Some("q1_agg,q1_agr"),
      SparkEntry.queries.keySet))
    assert(e.getMessage.contains("SPARK_GRAFT_VERIFY_ONLY"))
    assert(e.getMessage.contains("q1_agr"))
    assert(!e.getMessage.contains("q1_agg,"))
  }

  test("key selection: Bench selects from the timed and calibration keys") {
    val selectable = SparkEntry.timed.keySet ++ Bench.calibrationKeys.keySet
    for (ok <- Seq("q1_agg", "calibration_fixed_work"))
      assert(Sessions.parseOnly("SPARK_GRAFT_BENCH_ONLY", Some(ok), selectable)
        .contains(Set(ok)))
    for (untimed <- Seq("tokenize_bpe_contract", "ingest_e2e_diff")) {
      val e = intercept[RuntimeException](Sessions.parseOnly(
        "SPARK_GRAFT_BENCH_ONLY", Some(untimed), selectable))
      assert(e.getMessage.contains(untimed))
    }
  }
}
