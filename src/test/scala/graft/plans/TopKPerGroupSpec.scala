package graft.plans

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKPerGroupSpec extends SparkSpec {
  import spark.implicits._

  test("topKPerGroup returns the same (key, score) multiset as the window formulation") {
    val o = Tables.orders(spark, sf0001)
    val custom = TopKPerGroup.topKPerGroup(o, Seq("o_custkey"), "o_totalprice", 3)
      .select($"o_custkey", $"o_totalprice")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc)
    val viaWindow = o.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_totalprice")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
    assert(custom === viaWindow)
  }

  test("per-group sizes are min(k, group size); rows come from the group") {
    val df = Seq(
      (1L, 10.0), (1L, 30.0), (1L, 20.0), (1L, 40.0),
      (2L, 5.0),
      (3L, 1.0), (3L, 2.0))
      .toDF("k", "v")
    val got = TopKPerGroup.topKPerGroup(df, Seq("k"), "v", 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got(1L) === Set(40.0, 30.0))
    assert(got(2L) === Set(5.0))
    assert(got(3L) === Set(1.0, 2.0))
  }

  test("physical plan contains TopKPerGroupExec and no Sort") {
    val o = Tables.orders(spark, sf0001)
    val plan = TopKPerGroup.topKPerGroup(o, Seq("o_custkey"), "o_totalprice", 3)
      .queryExecution.executedPlan.toString
    // exec nodes print without the Exec suffix
    assert(plan.contains("TopKPerGroup"), plan.take(500))
    assert(plan.contains("Exchange hashpartitioning(o_custkey"), plan.take(800))
    assert(!plan.contains("Sort "), plan.take(800))
  }

  test("the planner holds TopKStrategy exactly once after a topKPerGroup call") {
    // GraftExtensions injects the strategy into every factory-built
    // session; a call must not add a second copy
    val df = Seq((1L, 1.0), (1L, 2.0)).toDF("k", "v")
    TopKPerGroup.topKPerGroup(df, Seq("k"), "v", 1).collect()
    assert(spark.sessionState.planner.strategies
      .count(_ == TopKStrategy) === 1)
  }
}
