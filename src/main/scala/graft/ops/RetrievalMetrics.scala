package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ranking-quality evaluation — the metrics layer every retrieval /
  * ANN / curation-relevance pipeline reports (precision@k, recall@k,
  * reciprocal rank, nDCG@k), as ONE distributed plan over a ranking
  * and a relevance set, with the engine's replayability discipline:
  *
  *  - counts are exact longs;
  *  - precision/recall/RR are ONE IEEE double division each over
  *    exactly-integer-valued operands, rounded to 6 (both engines run
  *    the identical op on identical operands, so even the inexact
  *    quotients agree bitwise — the BM25 factor rule);
  *  - DCG terms `1/log2(rank+1)` are rounded to 6 into DECIMAL(18,6)
  *    BEFORE summing (the one `log2` may differ by ≤1 ulp between
  *    libm and the JVM; the rounding absorbs it — the BM25 idf rule),
  *    so the per-query DCG sum is an order-independent exact decimal;
  *  - nDCG is one double division of the two exact decimal sums cast
  *    to double, rounded to 6.
  *
  * Together: the metric VALUES — not just hit counts — hash-compare
  * cross-engine (q186), the q181 recall-as-metric idea generalized to
  * the full IR metric suite.
  *
  * Scale shape: `ranking` is a per-query top-k (|queries|·k rows —
  * broadcast-scale, like every eval artifact); `relevance` can be
  * corpus-large (a label join), but it only ever flows through ONE
  * map-side-combined count per query and ONE equality join against
  * the tiny ranking — no corpus×corpus pair ever forms. The ideal-DCG
  * table is computed IN-ROW per query from `n_relevant` (an HOF fold
  * over ≤k terms — per query, not per corpus row, so interpreted
  * evaluation is irrelevant).
  */
object RetrievalMetrics {

  /** `round(1/log2(r+1), 6)` as DECIMAL(18,6) — the graded-gain term
    * of binary-relevance DCG at 1-based rank `r`. */
  private def dcgTerm(r: Column): Column =
    round(lit(1.0) / log2(r.cast("double") + lit(1.0)), 6)
      .cast("decimal(18,6)")

  /** Per-query IR metrics of `ranking` (query_id, doc_id, rnk — any
    * per-query top-k, 1-based ranks) against `relevance` (query_id,
    * doc_id — the binary ground-truth set). Queries come from the
    * RELEVANCE side (a query with an empty relevance set has no
    * defined recall/nDCG); zero-hit queries report 0 metrics, rank 0
    * in `first_hit_rnk` (the rrfFuse non-null convention). Output per
    * query: n_relevant, n_hit, precision_at_k, recall_at_k, rr, dcg,
    * idcg, ndcg. */
  def rankingMetrics(ranking: DataFrame, relevance: DataFrame,
                     k: Int): DataFrame = {
    val hits = ranking.filter(col("rnk") <= k)
      .join(relevance.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"))
    val perQ = hits.groupBy(col("query_id")).agg(
      count(lit(1)).as("n_hit"),
      min(col("rnk")).as("first_hit_rnk"),
      sum(dcgTerm(col("rnk"))).as("dcg"))
    val nRel = relevance.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_relevant"))
    // ideal DCG: the top min(k, n_relevant) ranks all relevant — an
    // in-row fold over <= k constant terms
    val idcg = aggregate(
      sequence(lit(1L), least(lit(k.toLong), col("n_relevant"))),
      lit(BigDecimal(0)).cast("decimal(28,6)"),
      // re-cast per step: decimal addition widens the type, and the
      // fold's merge type must stay the accumulator's
      (acc, r) => (acc + dcgTerm(r)).cast("decimal(28,6)"))
    nRel
      .join(perQ, Seq("query_id"), "left_outer")
      .withColumn("idcg", idcg)
      .select(
        col("query_id"),
        col("n_relevant"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / lit(k.toDouble),
          6).as("precision_at_k"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_relevant").cast("double"), 6).as("recall_at_k"),
        coalesce(col("first_hit_rnk").cast("int"), lit(0))
          .as("first_hit_rnk"),
        coalesce(round(lit(1.0) / col("first_hit_rnk").cast("double"), 6),
          lit(0.0)).as("rr"),
        coalesce(col("dcg"), lit(BigDecimal(0)).cast("decimal(28,6)"))
          .cast("double").as("dcg"),
        col("idcg").cast("double").as("idcg"),
        round(coalesce(col("dcg"), lit(BigDecimal(0)).cast("decimal(28,6)"))
          .cast("double") / col("idcg").cast("double"), 6).as("ndcg"))
  }

}
