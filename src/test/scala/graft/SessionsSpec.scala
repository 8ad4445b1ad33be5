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
}
