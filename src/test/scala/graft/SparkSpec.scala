package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole forked test JVM, built
  * by the engine's session factory at local[4] with 4 shuffle
  * partitions, so tests run the configuration the entry points run.
  * Every suite (ScalaTest and ScalaCheck) must go through this object:
  * getOrCreate ignores the configs of any later builder, so a suite
  * building its own differently-configured session would silently
  * change behavior for everyone else. */
object TestSession {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4)
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"

  /** Flatten an executed plan across the AQE wrappers
    * (AdaptiveSparkPlanExec / QueryStageExec / ReusedExchangeExec) —
    * a plain TreeNode.collect stops at the wrapper nodes. */
  def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val next = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(s.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      case other => other.children
    }
    p +: next.flatMap(flattenPlan)
  }

  /** Assert every window in the (executed) plan is partitioned — the
    * single-reducer global-window shape must not appear in scale
    * paths. Call AFTER an action so the AQE final plan is in place. */
  def assertNoUnpartitionedWindow(df: org.apache.spark.sql.DataFrame): Unit = {
    val windows = flattenPlan(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected at least one (partitioned) window")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"unpartitioned window in the scale path:\n$w")
    }
  }
}
