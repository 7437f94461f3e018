package graft.functions

import graft.SparkSpec
import graft.ops.Sketches
import org.apache.spark.sql.functions._

class MisraGriesSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic skewed stream: "hot" well above n/k, "warm" just
    * above, a long tail of distinct fillers below. */
  private def stream(nTail: Int): Seq[String] = {
    val hot = Seq.fill(nTail / 2)("hot")
    val warm = Seq.fill(nTail / 5)("warm")
    val tail = (0 until nTail).map(i => s"t$i")
    // interleave deterministically so no single partition sees hot runs
    (hot ++ warm ++ tail).zipWithIndex
      .sortBy { case (_, i) => (i * 2654435761L) % 1000003 }
      .map(_._1)
  }

  test("mg_candidates retains every term above n/k at any partition layout") {
    val s = stream(2000)
    val n = s.size.toLong
    val k = 10
    val truth = s.groupBy(identity).collect {
      case (t, g) if g.size.toLong * k > n => t
    }.toSet
    assert(truth.nonEmpty)
    for (parts <- Seq(1, 3, 17)) {
      val got = s.toDF("term").repartition(parts)
        .agg(GraftFunctions.mg_candidates(col("term"), k))
        .as[Seq[String]].collect()(0).toSet
      assert(got.size <= k)
      assert(truth.subsetOf(got), s"at $parts partitions")
    }
  }

  test("mg_candidates skips nulls and survives an all-null group") {
    val got = Seq[Option[String]](None, Some("a"), None, Some("a"), Some("b"))
      .toDF("term")
      .agg(GraftFunctions.mg_candidates(col("term"), 4))
      .as[Seq[String]].collect()(0)
    assert(got.toSet === Set("a", "b"))
    val empty = Seq[Option[String]](None, None).toDF("term")
      .agg(GraftFunctions.mg_candidates(col("term"), 4))
      .as[Seq[String]].collect()(0)
    assert(empty === Seq.empty)
  }

  test("mg_candidates is SQL-registered and rejects non-string input") {
    Seq("x", "y", "x").toDF("t").createOrReplaceTempView("mg_in")
    val got = spark.sql("SELECT mg_candidates(t, 2) FROM mg_in")
      .as[Seq[String]].collect()(0)
    assert(got.contains("x"))
    val err = intercept[Exception] {
      spark.sql("SELECT mg_candidates(CAST(1 AS BIGINT), 2) FROM mg_in").collect()
    }
    assert(err.getMessage.toLowerCase.contains("string"))
  }

  test("exactHeavyHitters equals the naive exact plan, with exact shares") {
    val df = stream(500).toDF("term").repartition(5)
    val k = 8
    val got = Sketches.exactHeavyHitters(df, "term", k)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val n = df.count()
    val naive = df.groupBy("term").count()
      .where(col("count") * k > n)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got.map(t => t._1 -> t._2).toMap === naive)
    got.foreach { case (_, cnt, tot, share) =>
      assert(tot === n)
      assert(share === cnt.toDouble / tot.toDouble)
    }
  }
}
