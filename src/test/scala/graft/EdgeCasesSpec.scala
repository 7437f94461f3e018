package graft

import graft.ops.{AsOf, Dedup, Relational}
import org.apache.spark.sql.functions._

/** Empty and degenerate inputs must flow through every operator
  * without crashing — at 100 TB a filter that matches nothing in one
  * partition of one table is an everyday event, not an edge case. */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup pipelines on empty input yield empty output") {
    assert(Dedup.exactDedup(emptyDocs, "text", "doc_id").count() === 0)
    assert(Dedup.minhashDedupPairs(emptyDocs, "text", "doc_id",
      shingleK = 2, numHashes = 16, bands = 4).count() === 0)
  }

  test("topKPerGroup on empty input yields empty output") {
    val empty = Seq.empty[(Long, Double)].toDF("k", "score")
    assert(graft.plans.TopKPerGroup
      .topKPerGroup(empty, Seq("k"), "score", 3).count() === 0)
  }

  test("asOfJoin with an empty right side keeps all left rows, null payloads") {
    val l = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "e"))
      .toDF("k", "ts", "ev")
    val r = Seq.empty[(Long, java.sql.Timestamp, String, Double)]
      .toDF("k", "ts", "pid", "pval")
    val out = AsOf.asOfJoin(l, r, Seq("k"), "ts", "ts", Seq("pid", "pval"))
    assert(out.count() === 1)
    assert(out.select("asof_pid").collect()(0).isNullAt(0))
  }

  test("forwardFill and meanFillAgg on all-null columns stay null / empty-safe") {
    val allNull = Seq((1, 1, None: Option[Double]), (1, 2, None))
      .toDF("k", "o", "v")
    val ff = Relational.forwardFill(allNull, "v", Seq("k"), Seq(col("o")))
    assert(ff.filter(col("v").isNotNull).count() === 0)
    val mf = Relational.meanFillAgg(allNull, Seq("v"))
    assert(mf.count() === 2) // mean of nothing -> null fill, rows survive
  }

  test("round-5 operators on empty/degenerate input stay empty-safe") {
    val emptyVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(graft.ops.Similarity.annJoinLsh(emptyVecs, emptyVecs,
      "vec_id", "embedding", k = 5).count() === 0)
    assert(graft.ops.Similarity.annJoinBruteForce(emptyVecs, emptyVecs,
      "vec_id", "embedding", k = 5).count() === 0)
    assert(Dedup.duplicateSpans(emptyDocs, "text", "doc_id").count() === 0)
    assert(Relational.packSequences(emptyDocs.select($"doc_id",
      lit(1L).as("n")), Seq($"doc_id"), $"n", 16L).count() === 0)
    val (ranked, total) = Relational.globalRankAndRunningSum(
      emptyDocs.select($"doc_id", lit(1L).as("n")),
      Seq($"doc_id"), $"n", "rnk", "cum")
    assert(total === 0L)
    assert(ranked.count() === 0)
  }

  test("annJoin with k larger than the corpus returns every neighbor once") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = graft.ops.Similarity.annJoinBruteForce(
      vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", k = 99)
      .collect()
    assert(got.length === 2)
    assert(got.map(_.getLong(1)).toSet === Set(1L, 2L))
  }

  test("packSequences with seqTokens=1: every token is its own sequence") {
    val docs = Seq((1L, 2L), (2L, 3L)).toDF("doc_id", "n")
    val got = Relational.packSequences(docs, Seq($"doc_id"), $"n", 1L)
      .select($"doc_id", $"start_seq", $"start_offset", $"end_seq")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === Set((1L, 0L, 0L, 1L), (2L, 2L, 0L, 4L)))
  }

  test("registerAll exposes the whole catalog to the SQL front end") {
    graft.sources.Tables.registerAll(spark, sf0001)
    val n = spark.sql(
      """SELECT count(*) FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey""".stripMargin)
      .collect()(0).getLong(0)
    assert(n > 0)
    assert(spark.sql("SELECT count(*) FROM events WHERE value > 0")
      .collect()(0).getLong(0) > 0) // nanos-normalized reader used
  }
}
