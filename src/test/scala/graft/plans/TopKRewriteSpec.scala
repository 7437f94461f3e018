package graft.plans

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class TopKRewriteSpec extends SparkSpec {

  /** The rule and strategy come from the session's GraftExtensions;
    * the conf key switches the rewrite on. */
  private def withRule[A](f: => A): A = {
    spark.conf.set(TopKRewriteRule.ConfKey, "true")
    try f finally spark.conf.set(TopKRewriteRule.ConfKey, "false")
  }

  private def idiom(): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc)
    Tables.orders(spark, sf0001)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .drop("rn")
  }

  test("rewrites row_number<=k filter+drop into TopKPerGroup, eliminating the sort") {
    withRule {
      val df = idiom()
      val optimized = df.queryExecution.optimizedPlan
      assert(optimized.collect { case t: TopKPerGroup => t }.nonEmpty,
        s"expected TopKPerGroup in:\n$optimized")
      df.collect() // finalize the adaptive plan
      val physical = df.queryExecution.executedPlan
      assert(physical.collect { case e: TopKPerGroupExec => e }.nonEmpty ||
        physical.toString.contains("TopKPerGroup"),
        s"expected TopKPerGroupExec in:\n$physical")
      assert(physical.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }.isEmpty, s"sort should be gone:\n$physical")
    }
  }

  test("rewritten plan returns the same (key, score) multiset as the window plan") {
    val expected = idiom() // rule off
      .select(col("o_custkey"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    val got = withRule {
      idiom().select(col("o_custkey"), col("o_totalprice"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    }
    assert(got.sameElements(expected))
  }

  test("does NOT rewrite when rn is kept in the output") {
    withRule {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc)
      val df = Tables.orders(spark, sf0001)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3) // rn still projected
      assert(df.queryExecution.optimizedPlan
        .collect { case t: TopKPerGroup => t }.isEmpty)
      assert(df.filter(col("rn") === 1).count() > 0)
    }
  }

  test("rewrites the integral-ASC-tiebreak idiom and matches it EXACTLY") {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    def idiomTb = Tables.orders(spark, sf0001)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .drop("rn")
    // unique (score, orderkey) ordering → selection is deterministic:
    // the rewritten plan must return the IDENTICAL row set
    val expected = idiomTb.collect().map(_.toString).sorted
    withRule {
      val df = idiomTb
      assert(df.queryExecution.optimizedPlan
        .collect { case t: TopKPerGroup => t }.exists(_.tiebreak.isDefined))
      assert(df.collect().map(_.toString).sorted.sameElements(expected))
    }
  }

  test("rewrites the rn = 1 argmax idiom (but NOT rn = 5)") {
    withRule {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      def idiomEq(n: Int) = Tables.orders(spark, sf0001)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === n)
        .drop("rn")
      assert(idiomEq(1).queryExecution.optimizedPlan
        .collect { case t: TopKPerGroup => t }.exists(_.k == 1))
      assert(idiomEq(5).queryExecution.optimizedPlan
        .collect { case t: TopKPerGroup => t }.isEmpty,
        "rn = 5 alone is not a top-k")
      // argmax result check: one row per customer, the max-price order
      val got = idiomEq(1).select("o_custkey", "o_totalprice").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val expected = Tables.orders(spark, sf0001)
        .groupBy("o_custkey").agg(max("o_totalprice").as("m"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got === expected)
    }
  }

  test("does NOT rewrite non-integral tiebreaks (string ordering the heap can't honor)") {
    withRule {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderpriority"))
      val df = Tables.orders(spark, sf0001)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .drop("rn")
      assert(df.queryExecution.optimizedPlan
        .collect { case t: TopKPerGroup => t }.isEmpty)
    }
  }

  test("fires on SQL-front-end queries (the shape users actually write)") {
    withRule {
      Tables.orders(spark, sf0001).createOrReplaceTempView("orders_rw")
      val df = spark.sql(
        """SELECT o_custkey, o_totalprice FROM (
          |  SELECT o_custkey, o_totalprice,
          |    row_number() OVER (PARTITION BY o_custkey
          |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders_rw)
          |WHERE rn <= 3""".stripMargin)
      assert(df.queryExecution.optimizedPlan
        .collect { case t: TopKPerGroup => t }.exists(_.tiebreak.isDefined),
        s"SQL idiom must rewrite:\n${df.queryExecution.optimizedPlan}")
      assert(df.count() > 0)
    }
  }

  test("does NOT rewrite ascending scores (bottom-k needs a mirrored heap)") {
    withRule {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").asc)
      val df = Tables.orders(spark, sf0001)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .drop("rn")
      assert(df.queryExecution.optimizedPlan
        .collect { case t: TopKPerGroup => t }.isEmpty)
    }
  }

  test("global ranking (empty PARTITION BY) rewrites to sort+limit, not a crash") {
    // TopKPerGroup(Nil, ...) would declare ClusteredDistribution(Nil),
    // which Spark's constructor rejects — the global case must route to
    // TakeOrderedAndProject instead.
    val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
    def global = Tables.orders(spark, sf0001)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .drop("rn")
      .select("o_orderkey", "o_totalprice")
    val expected = global.collect().map(_.toString).sorted // rule off
    withRule {
      val df = global
      val optimized = df.queryExecution.optimizedPlan
      assert(optimized.collect { case t: TopKPerGroup => t }.isEmpty,
        s"no TopKPerGroup for empty partition keys:\n$optimized")
      assert(optimized.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.isEmpty, s"window should be rewritten away:\n$optimized")
      assert(df.collect().map(_.toString).sorted.sameElements(expected))
      assert(df.queryExecution.executedPlan.toString
        .contains("TakeOrderedAndProject"),
        s"global top-k should plan as TakeOrderedAndProject:\n${df.queryExecution.executedPlan}")
    }
  }

  test("does NOT rewrite long/decimal scores (not exact as double beyond 2^53)") {
    withRule {
      for (scoreCol <- Seq("o_orderkey", "o_totalprice_dec")) {
        val base = Tables.orders(spark, sf0001)
          .withColumn("o_totalprice_dec",
            col("o_totalprice").cast("decimal(20,2)"))
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col(scoreCol).desc)
        val df = base
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .drop("rn")
        assert(df.queryExecution.optimizedPlan
          .collect { case t: TopKPerGroup => t }.isEmpty,
          s"$scoreCol must not rewrite through a double-comparing heap")
      }
    }
  }

  test("off by default: same idiom without the flag keeps the window plan") {
    val df = idiom()
    assert(df.queryExecution.optimizedPlan
      .collect { case t: TopKPerGroup => t }.isEmpty)
  }
}
