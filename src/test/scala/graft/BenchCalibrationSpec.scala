package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Bench times every key by `.count()`; the calibration keys must keep
  * their work in the plan that `.count()` runs, or they time nothing
  * but job overhead. The counted frame is built the way `count()`
  * builds it, `groupBy().count()`, and never executed. */
class BenchCalibrationSpec extends SparkSuite {

  private def counted(key: String) =
    Bench.calibrationKeys(key)(spark, "").groupBy().count().queryExecution

  test("calibration_fixed_work: the counted plan still hashes") {
    assert(counted("calibration_fixed_work").optimizedPlan.toString
      .contains("xxhash64"))
  }

  test("calibration_shuffle_work: the counted plan hashes and shuffles " +
      "on the hashed key") {
    val qe = counted("calibration_shuffle_work")
    assert(qe.optimizedPlan.toString.contains("xxhash64"))
    assert(PlanNodes.all(qe.executedPlan).exists {
      case e: ShuffleExchangeExec =>
        e.outputPartitioning.isInstanceOf[HashPartitioning]
      case _ => false
    }, qe.executedPlan.toString)
  }
}
