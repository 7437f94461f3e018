package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.TaggedSidecar

/** Ranked retrieval over the document corpus: an inverted index
  * (postings + per-doc lengths + corpus totals) and BM25 scoring on
  * top of it — the retrieval layer a training-data pipeline needs for
  * query-relevance curation and retrieval-based decontamination
  * (flagging corpus documents a benchmark query can retrieve is the
  * IR-side complement of the n-gram containment check in
  * [[Curation.decontaminate]]).
  *
  * Reference scope: the reference app has no retrieval surface at all
  * (`app.py:1-248` scores one loan row at a time); this module is part
  * of the north-star LLM-curation extension, like [[Curation]] /
  * [[Dedup]].
  *
  * Shape at scale (the 100 TB question):
  *  - [[postings]] is ONE aggregation shuffle on (term, doc) whose
  *    map-side combine collapses each task to its distinct terms; the
  *    shuffle moves distinct (term, doc) pairs, never token
  *    occurrences. Document lengths fall out of the same pass.
  *  - term document-frequencies re-aggregate postings by term — the
  *    second shuffle moves one row per distinct (term) per partition.
  *  - the QUERY side is a benchmark/eval suite — MBs by construction,
  *    like [[Curation.decontaminate]]'s eval grams — so query terms
  *    ride a BROADCAST and scoring is a broadcast hash join against
  *    the postings, never a shuffle of the corpus on query keys.
  *  - per-query top-k is a rank window partitioned by query_id: state
  *    is one sort buffer per query partition, bounded by that query's
  *    candidate postings. Queries made of stopword-class terms can
  *    make the candidate set approach the corpus; [[bm25TopK]]'s
  *    `dfCapRatio` drops terms whose df exceeds the given fraction of
  *    N (their idf is the lowest in the query by construction, and at
  *    ratio ≥ 0.5 the log-idf has gone negative — the classic
  *    stopword-pruning trade, documented like the LSH bucketCap).
  *
  * Replayability (the [[Curation.dsirWeights]] DECIMAL discipline):
  * both BM25 factors are computed as ONE IEEE double division over
  * exactly-long-valued operands (plus one `ln` for the idf) and
  * rounded to 6 decimals into DECIMAL(18,6) — the rounding absorbs
  * the ≤1-ulp `ln` spread between libm and the JVM, the per-term
  * product DECIMAL(18,6)×DECIMAL(18,6) is exact, and the per-doc
  * score SUM of exact decimals is order-independent, so any engine
  * replays the ranking bit-for-bit from the same corpus.
  */
object Retrieval {

  /** Inverted-index postings: one row per distinct (term, doc) with
    * the within-doc term frequency. One explode → one aggregation
    * shuffle with map-side combine.
    *
    * `tokenizer` (round 17): the term segmentation, defaulting to the
    * legacy whitespace split. CJK corpora MUST pass
    * [[TextAnalysis.tokensUnicode]] — an unsegmented CJK sentence has
    * no whitespace word boundaries, so the legacy split produces ONE
    * giant pseudo-token per document: df ≈ tf ≈ 1 for every "term",
    * and BM25 over such postings retrieves nothing (q226/q227 certify
    * the per-character path). The choice must be FIXED per index
    * (postings are postings OF a token stream — the histogram
    * sidecar's parameter contract again), and queries must be
    * tokenized with the SAME tokenizer ([[bm25Scores]] threads it to
    * both sides). */
  def postings(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text",
               tokenizer: Column => Column =
                 TextAnalysis.tokens(_)): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(tokenizer(col(textCol))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))

  /** Per-document token counts (BM25's `dl`) — in-row, no shuffle.
    * Same `tokenizer` contract as [[postings]]. */
  def docLengths(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 tokenizer: Column => Column =
                   TextAnalysis.tokens(_)): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(tokenizer(col(textCol))).cast("long").as("dl"))

  /** BM25 idf as a rounded DECIMAL:
    * `round(ln((2N − 2·df + 1) / (2·df + 1)), 6)` — the standard
    * probabilistic idf `ln((N − df + 0.5)/(df + 0.5))` with numerator
    * and denominator doubled so both are exact integer-valued doubles
    * and the quotient is ONE IEEE division feeding one `ln`. */
  private def idfDec(nDocs: Column, df: Column): Column =
    round(log((lit(2.0) * nDocs - lit(2.0) * df + lit(1.0)) /
              (lit(2.0) * df + lit(1.0))), 6)
      .cast("decimal(18,6)")

  /** BM25 term-frequency saturation factor as a rounded DECIMAL. With
    * k1=1.2, b=0.75 and avgdl = T/N (T total corpus tokens, N docs):
    *
    *   tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
    *     = 22·tf·T / (20·T·tf + 6·T + 18·dl·N)   — halved to 11/10/3/9
    *
    * Numerator and denominator are integer-valued products of long
    * columns (exact in double up to 2^53 — far above any per-shard
    * corpus stats; beyond that both engines still agree because the
    * operand tree is evaluated in the same IEEE order), so the factor
    * is ONE double division, rounded to 6 into DECIMAL(18,6). */
  private def tfPartDec(tf: Column, dl: Column, nDocs: Column,
                        totTokens: Column): Column =
    round((lit(11.0) * tf * totTokens) /
          (lit(10.0) * totTokens * tf + lit(3.0) * totTokens +
           lit(9.0) * dl * nDocs), 6)
      .cast("decimal(18,6)")

  /** The scoring core shared by the from-scratch and sidecar paths:
    * given postings (term, doc_id, tf) and doc lengths (doc_id, dl),
    * produce the exact-decimal (query, doc) scores. */
  private def scoreFrom(post: DataFrame, dls: DataFrame,
                        queries: DataFrame,
                        dfCapRatio: Double,
                        tokenizer: Column => Column): DataFrame = {
    // bounded 1-row totals ride a broadcast cross join (the q160
    // totals pattern), never a collect
    val totals = broadcast(
      dls.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_tokens")))
    val dfs = post.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    // queries segment with the SAME tokenizer as the index — a CJK
    // query against a per-character index must itself split to chars
    val qterms = broadcast(
      queries.select(col("query_id"),
          explode(tokenizer(col("query_text"))).as("term"))
        .distinct())
    post
      .join(qterms, Seq("term"))
      .join(dfs, Seq("term"))
      .join(dls, Seq("doc_id"))
      .crossJoin(totals)
      .filter(col("df").cast("double") <=
        lit(dfCapRatio) * col("n_docs").cast("double"))
      .select(col("query_id"), col("doc_id"),
        (idfDec(col("n_docs"), col("df")) *
          tfPartDec(col("tf"), col("dl"), col("n_docs"), col("tot_tokens")))
          .as("w"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("w")).as("score"), count(lit(1)).as("n_terms"))
  }

  /** Score every (query, candidate-doc) pair: the exact-decimal sum of
    * idf·tfPart over the query's distinct terms present in the doc.
    * `queries` is (query_id, query_text) — an eval/benchmark suite,
    * small by construction, broadcast to the postings. Terms with
    * `df > dfCapRatio · N` are dropped from scoring (stopword-class
    * pruning; 1.0 disables). Output: (query_id, doc_id, score
    * DECIMAL, n_terms matched). */
  def bm25Scores(docs: DataFrame, queries: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text",
                 dfCapRatio: Double = 1.0,
                 tokenizer: Column => Column =
                   TextAnalysis.tokens(_)): DataFrame =
    scoreFrom(postings(docs, idCol, textCol, tokenizer),
      docLengths(docs, idCol, textCol, tokenizer), queries, dfCapRatio,
      tokenizer)

  /** Per-query BM25 top-k: rank by (score DESC, doc_id) — doc_id as
    * the unique tiebreak makes the cut deterministic and
    * oracle-replayable. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "doc_id", textCol: String = "text",
               dfCapRatio: Double = 1.0,
               tokenizer: Column => Column =
                 TextAnalysis.tokens(_)): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    bm25Scores(docs, queries, idCol, textCol, dfCapRatio, tokenizer)
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
  }

  /** Retrieval-based decontamination: a corpus doc any eval query
    * retrieves with BM25 ≥ `minScore` is contaminated. Returns one row
    * per flagged doc with its best (max_score, n_queries-that-hit) —
    * the IR-side complement of [[Curation.decontaminate]]'s n-gram
    * containment check (that one catches verbatim overlap; this one
    * catches paraphrase-level term-profile overlap). Max over exact
    * decimals is order-independent, so the flag set replays
    * cross-engine. */
  def bm25Decontaminate(docs: DataFrame, evalQueries: DataFrame,
                        minScore: Double, idCol: String = "doc_id",
                        textCol: String = "text",
                        dfCapRatio: Double = 1.0): DataFrame =
    bm25Scores(docs, evalQueries, idCol, textCol, dfCapRatio)
      .filter(col("score") >= lit(minScore).cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(max(col("score")).as("max_score"),
        countDistinct(col("query_id")).as("n_queries"))

  /** Positional postings: one row per token OCCURRENCE with its
    * 0-based position — the inverted-index layout phrase search needs.
    * Pure explode, no aggregation (positions must survive). */
  def positionalPostings(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "term")))
      .select(col("term"), col("doc_id"), col("pos").cast("long").as("pos"))

  /** Exact phrase search via the standard inverted-index algorithm:
    * each phrase term at offset `off` nominates candidate start
    * `pos − off`; a start where ALL offsets are present (count of
    * distinct matched offsets == phrase length) is an occurrence.
    * Output: (phrase_id, doc_id, n_occurrences, first_pos).
    *
    * Scale shape: the phrase set broadcasts (an eval suite, like the
    * BM25 queries); the corpus contributes only positions of terms
    * that APPEAR in some phrase (the join prunes the explode), and
    * the one aggregation shuffle keys on (phrase, doc, start) with
    * map-side combine. Duplicate terms inside a phrase are handled by
    * the distinct-offset count: a start qualifies only when every
    * offset's term is found at `start + off`. All-integer arithmetic,
    * so the match set replays in any engine. */
  def phraseSearch(docs: DataFrame, phrases: DataFrame,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val qterms = broadcast(
      phrases.select(col("phrase_id"),
          posexplode(TextAnalysis.tokens(col("phrase_text")))
            .as(Seq("off", "term")))
        .select(col("phrase_id"), col("term"), col("off").cast("long").as("off"))
        .join(phrases.select(col("phrase_id"),
          size(TextAnalysis.tokens(col("phrase_text"))).cast("long").as("plen")),
          Seq("phrase_id")))
    positionalPostings(docs, idCol, textCol)
      .join(qterms, Seq("term"))
      .select(col("phrase_id"), col("doc_id"),
        (col("pos") - col("off")).as("start"), col("off"), col("plen"))
      .filter(col("start") >= 0) // off > pos can never complete a match
      .groupBy(col("phrase_id"), col("doc_id"), col("start"))
      .agg(countDistinct(col("off")).as("n_off"), max(col("plen")).as("plen"))
      .filter(col("n_off") === col("plen"))
      .groupBy(col("phrase_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"), min(col("start")).as("first_pos"))
  }

  /** Pseudo-relevance-feedback query expansion (the Rocchio idea as
    * one deterministic pipeline): retrieve each query's BM25 top-k,
    * then rank the terms of those top documents — excluding the
    * query's own — by `idf · Σ tf` over the feedback set, keeping the
    * `nTerms` best per query (ties → term asc). The weight is the
    * exact decimal product of the rounded idf and an exact long tf
    * sum, so the expansion term set replays cross-engine like the
    * ranking it feeds.
    *
    * Scale shape: the feedback set is |queries|·k doc ids — it rides
    * a BROADCAST back onto the postings (the candidate side is the
    * top docs' postings rows, bounded by k·dl per query), and the
    * final rank window partitions by query_id. Output: (query_id,
    * term, weight DECIMAL, n_docs_with_term, rnk). */
  def bm25QueryExpansion(docs: DataFrame, queries: DataFrame, k: Int,
                         nTerms: Int, idCol: String = "doc_id",
                         textCol: String = "text",
                         dfCapRatio: Double = 1.0): DataFrame = {
    val post = postings(docs, idCol, textCol)
    val dls = docLengths(docs, idCol, textCol)
    val totals = broadcast(
      dls.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_tokens")))
    val dfs = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qterms = broadcast(
      queries.select(col("query_id"),
          explode(TextAnalysis.tokens(col("query_text"))).as("term"))
        .distinct())
    val top = broadcast(
      bm25TopK(docs, queries, k, idCol, textCol, dfCapRatio)
        .select(col("query_id"), col("doc_id")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("weight").desc, col("term"))
    post
      .join(top, Seq("doc_id"))
      .join(qterms, Seq("query_id", "term"), "left_anti")
      .join(dfs, Seq("term"))
      .crossJoin(totals)
      .groupBy(col("query_id"), col("term"), col("df"), col("n_docs"))
      .agg(sum(col("tf")).as("sum_tf"), count(lit(1)).as("n_docs_with_term"))
      .select(col("query_id"), col("term"),
        (idfDec(col("n_docs"), col("df")) *
          col("sum_tf").cast("decimal(18,0)")).as("weight"),
        col("n_docs_with_term"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= nTerms)
  }

  /** Reciprocal-rank fusion of two per-query rankings — the standard
    * hybrid-retrieval combiner (lexical BM25 × semantic ANN): over the
    * UNION of the two top-k lists, a doc scores
    * `Σ floor(10^6 / (rrfK + rank))` across the rankings that
    * retrieved it. The classic 1/(rrfK+r) is scaled to an integer
    * floor so the fused score is EXACT (the one double division is
    * over exact small integers, and the floor can never straddle a
    * representability boundary — the quotient is either exactly
    * integral or at least 1/(rrfK+r) away from one), making the fused
    * ranking hash-replayable in any engine. A doc missing from one
    * ranking contributes 0 from it and reports rank 0 in that slot
    * (ranks are 1-based, so 0 is unambiguous — and keeps the output
    * columns non-null for the driver's pandas compare).
    *
    * Inputs: two (query_id, doc_id, rnk) frames, each already a
    * per-query top-k (|queries|·k rows — broadcast-scale by
    * construction, so the fuse is a join of two TINY sides and a rank
    * window partitioned by query; the corpus-scale work lives in the
    * constituent retrievals, each with its own scale path). Output:
    * (query_id, doc_id, rrf_score, rnk_a, rnk_b, rnk). */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int,
              rrfK: Int = 60): DataFrame = {
    def contrib(r: Column): Column =
      floor(lit(1000000.0) / (lit(rrfK) + r)).cast("long")
    val l = a.select(col("query_id"), col("doc_id"), col("rnk").as("rnk_a"))
    val m = b.select(col("query_id"), col("doc_id"), col("rnk").as("rnk_b"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
    l.join(m, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(contrib(col("rnk_a")), lit(0L)) +
          coalesce(contrib(col("rnk_b")), lit(0L))).as("rrf_score"),
        coalesce(col("rnk_a"), lit(0)).as("rnk_a"),
        coalesce(col("rnk_b"), lit(0)).as("rnk_b"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
  }

  // ------------------------------------------------------------------
  // Incremental postings sidecar — at 100 TB the inverted index is an
  // artifact to MATERIALIZE once and reuse across eval suites, not a
  // per-query re-aggregation of the corpus. Same discipline as the
  // token-count sidecar ([[Curation.writeTokenCountSidecar]]): exact
  // long tf counts are additive, appends are batch-local aggregations
  // under the dir lock, and scoring against a sidecar holding exactly
  // the corpus' postings is IDENTICAL to the from-scratch path (the
  // backing query proves it against the shared oracle). Batches must
  // partition the corpus by DOCUMENT (the q123/q133 contract): a doc
  // split across appends would carry partial tf/dl rows. `batchId`
  // makes both tables exactly-once ([[graft.sources.TaggedSidecar]]):
  // postings replay key (term, doc_id), merge: sum of tf; doclen
  // replay key doc_id, no merge. An untagged replay double-appends,
  // and a doubled doclen row FANS OUT every candidate row of its doc
  // at scoring time.

  /** Append one document batch's postings + doc lengths. Two tables
    * under one root: `<dir>/postings` (term, doc_id, tf) and
    * `<dir>/doclen` (doc_id, dl); one lock guards both appends, and
    * `batchId` tags BOTH tables (the exactly-once contract above).
    * `tokenizer` follows [[postings]]' fixed-per-index contract. */
  def writePostingsSidecar(batch: DataFrame, sidecarDir: String,
                           idCol: String = "doc_id",
                           textCol: String = "text",
                           batchId: Option[String] = None,
                           tokenizer: Column => Column =
                             TextAnalysis.tokens(_)): Unit = {
    val spark = batch.sparkSession
    TaggedSidecar.assertConsistent(spark, s"$sidecarDir/postings",
      batchId.isDefined, "writePostingsSidecar")
    TaggedSidecar.assertConsistent(spark, s"$sidecarDir/doclen",
      batchId.isDefined, "writePostingsSidecar")
    graft.sources.Sinks.withDirLock(
      spark, sidecarDir, "writePostingsSidecar") {
      TaggedSidecar.tag(postings(batch, idCol, textCol, tokenizer), batchId)
        .write.mode("append").parquet(s"$sidecarDir/postings")
      TaggedSidecar.tag(docLengths(batch, idCol, textCol, tokenizer), batchId)
        .write.mode("append").parquet(s"$sidecarDir/doclen")
    }
  }

  /** Many small appends → one file per table
    * ([[graft.sources.TaggedSidecar.compact]], one lock per table).
    * Postings re-aggregate by (term, doc_id) — a no-op sum under the
    * disjoint-batch contract. */
  def compactPostingsSidecar(spark: org.apache.spark.sql.SparkSession,
                             sidecarDir: String): Unit = {
    TaggedSidecar.compact(spark, s"$sidecarDir/postings",
        Seq("term", "doc_id"), sortCol = Some("term")) {
      _.groupBy(col("term"), col("doc_id")).agg(sum(col("tf")).as("tf"))
    }
    TaggedSidecar.compact(spark, s"$sidecarDir/doclen", Seq("doc_id"),
      sortCol = Some("doc_id"))(identity)
  }

  /** BM25 scores computed FROM the sidecar — the corpus is never
    * re-read: candidates come off the postings table (IO bounded by
    * the query terms' posting lists once compacted + sorted by term),
    * df/totals re-aggregate sidecar rows, not text. Duplicate tagged
    * appends collapse at read (the exactly-once contract); `tokenizer`
    * must match the index's. */
  def bm25ScoresFromSidecar(spark: org.apache.spark.sql.SparkSession,
                            sidecarDir: String, queries: DataFrame,
                            dfCapRatio: Double = 1.0,
                            tokenizer: Column => Column =
                              TextAnalysis.tokens(_)): DataFrame =
    scoreFrom(
      TaggedSidecar.collapse(spark.read.parquet(s"$sidecarDir/postings"),
        "term", "doc_id"),
      TaggedSidecar.collapse(spark.read.parquet(s"$sidecarDir/doclen"),
        "doc_id"),
      queries, dfCapRatio, tokenizer)

  /** Per-query top-k from the sidecar — [[bm25TopK]]'s ranking over
    * [[bm25ScoresFromSidecar]]. */
  def bm25TopKFromSidecar(spark: org.apache.spark.sql.SparkSession,
                          sidecarDir: String, queries: DataFrame, k: Int,
                          dfCapRatio: Double = 1.0,
                          tokenizer: Column => Column =
                            TextAnalysis.tokens(_)): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    bm25ScoresFromSidecar(spark, sidecarDir, queries, dfCapRatio, tokenizer)
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
  }
}
