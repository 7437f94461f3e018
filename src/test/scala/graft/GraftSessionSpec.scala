package graft

class GraftSessionSpec extends SparkSpec {

  test("GraftSession configures AQE/skew/UTC and resolves custom SQL functions") {
    assert(spark.sql("SELECT cosine_sim(array(3.0d, 0.0d), array(7.0d, 0.0d))")
      .collect()(0).getDouble(0) === 1.0)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
  }

  test("the shared test session carries the factory's settings and extensions") {
    assert(spark.conf.get("spark.buffer.pageSize") ===
      GraftSession.tungstenPageSize(cores = 4).toString)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
    assert(spark.conf.get("spark.sql.join.preferSortMergeJoin") === "false")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    // a new session has none of the parent's registered temp functions,
    // so only the injected GraftExtensions resolves the name
    assert(spark.newSession()
      .sql("SELECT cosine_sim(array(1.0d), array(1.0d))")
      .collect()(0).getDouble(0) === 1.0)
  }

  test("every registered custom function resolves in SQL") {
    val r = spark.sql(
      """SELECT
        |  tokens_in_set('the cat the', array('the')) AS t,
        |  ngrams_in_set('the cat', array('the', 'cat')) AS n,
        |  size(minhash_signature(hashed_shingles('a b c', 2), 8)) AS m,
        |  size(hashed_shingles('a b c d', 2)) AS h
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) === 2)
    assert(r.getInt(1) === 2)
    assert(r.getInt(2) === 8)
    assert(r.getInt(3) === 3)
    // the aggregate registers too
    import spark.implicits._
    val agg = Seq(1L, 2L, 3L).toDF("v")
    agg.createOrReplaceTempView("rs_v")
    assert(spark.sql("SELECT size(reservoir_sample(v, 2)) FROM rs_v")
      .collect()(0).getInt(0) === 2)
  }
}
