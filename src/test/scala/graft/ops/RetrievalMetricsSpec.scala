package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hand-computed contract tests for [[RetrievalMetrics]] — the exact
  * values the q186 oracle replays, on a ranking small enough to check
  * by hand. */
class RetrievalMetricsSpec extends SparkSpec {
  import spark.implicits._

  // query 0: relevant {1,2,3}, ranked (1:doc1 hit, 2:doc9, 3:doc2 hit)
  // query 1: relevant {4,5},   ranked (1:doc8, 2:doc9) — zero hits
  // query 2: relevant {6},     ranked (1:doc6 hit) — perfect single
  private def ranking = Seq(
    (0L, 1L, 1), (0L, 9L, 2), (0L, 2L, 3),
    (1L, 8L, 1), (1L, 9L, 2),
    (2L, 6L, 1)).toDF("query_id", "doc_id", "rnk")
  private def relevance = Seq(
    (0L, 1L), (0L, 2L), (0L, 3L),
    (1L, 4L), (1L, 5L),
    (2L, 6L)).toDF("query_id", "doc_id")

  test("per-query metrics match hand computation, including the zero-hit " +
      "and perfect-ranking rows") {
    val got = RetrievalMetrics.rankingMetrics(ranking, relevance, k = 3)
      .orderBy($"query_id").collect()
    assert(got.length === 3)

    def d(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    val t1 = d(1.0 / (math.log(2.0) / math.log(2.0)))         // rank 1 → 1.0
    val t2 = d(1.0 / (math.log(3.0) / math.log(2.0)))         // 0.630930
    val t3 = d(1.0 / (math.log(4.0) / math.log(2.0)))         // 0.5

    // query 0: hits at ranks 1 and 3; n_relevant 3
    val r0 = got(0)
    assert(r0.getLong(1) === 3L && r0.getLong(2) === 2L)
    assert(r0.getDouble(3) === d(2.0 / 3.0))                  // P@3
    assert(r0.getDouble(4) === d(2.0 / 3.0))                  // R@3
    assert(r0.getInt(5) === 1 && r0.getDouble(6) === 1.0)     // RR
    assert(r0.getDouble(7) === t1 + t3)                       // DCG
    assert(r0.getDouble(8) === t1 + t2 + t3)                  // IDCG (3 rel)
    assert(r0.getDouble(9) === d((t1 + t3) / (t1 + t2 + t3))) // nDCG

    // query 1: zero hits — all-zero metrics, rank-0 slot
    val r1 = got(1)
    assert(r1.getLong(1) === 2L && r1.getLong(2) === 0L)
    assert(r1.getDouble(3) === 0.0 && r1.getDouble(4) === 0.0)
    assert(r1.getInt(5) === 0 && r1.getDouble(6) === 0.0)
    assert(r1.getDouble(7) === 0.0)
    assert(r1.getDouble(8) === t1 + t2)  // ideal uses min(k, n_relevant)=2
    assert(r1.getDouble(9) === 0.0)

    // query 2: single relevant doc, retrieved at rank 1 — perfect
    val r2 = got(2)
    assert(r2.getLong(1) === 1L && r2.getLong(2) === 1L)
    assert(r2.getDouble(3) === d(1.0 / 3.0))
    assert(r2.getDouble(4) === 1.0)
    assert(r2.getDouble(6) === 1.0)
    assert(r2.getDouble(9) === 1.0)      // dcg == idcg == 1.0
  }

  test("k caps the evaluated prefix: hits below rank k are ignored") {
    val got = RetrievalMetrics.rankingMetrics(ranking, relevance, k = 1)
      .orderBy($"query_id").collect()
    assert(got(0).getLong(2) === 1L)           // only the rank-1 hit counts
    assert(got(0).getDouble(3) === 1.0)        // P@1
    assert(got(2).getDouble(4) === 1.0)
  }
}
