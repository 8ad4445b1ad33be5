package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM (sbt `Test /
  * fork := true` runs every suite in a single JVM, so this is built
  * once). Mirrors the driver's Verify session: UTC, small shuffle
  * fan-out, quiet UI. */
object TestSpark {
  lazy val spark: SparkSession =
    Sessions.local(4, "spark.app.name" -> "graft-test")

  /** Smallest driver-provided fixture tables. */
  val sfDir = "/root/testdata/sf0.001"
}

/** Physical-plan traversal that sees through AQE. AdaptiveSparkPlanExec
  * and QueryStageExec are leaf-like nodes TreeNode.collect does NOT
  * descend into — any plan assertion using bare `.collect` is vacuously
  * green under AQE. Every plan-shape test must traverse via this. */
object PlanNodes {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  def all(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ inner).flatMap(all)
  }

  def all(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] =
    all(df.queryExecution.executedPlan)
}

/** Base class: shared session + tmp-dir helper under target/. */
abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def withTmpDir[A](f: java.nio.file.Path => A): A =
    graft.streaming.DriveSupport.withWorkspace("test-tmp")(f)
}
