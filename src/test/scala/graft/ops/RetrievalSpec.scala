package graft.ops

import graft.SparkSpec
import graft.sources.TaggedSidecar
import org.apache.spark.sql.functions._

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  // N=3 docs, T=9 tokens; df: apple 1, banana 2, cherry 2.
  // Hand-computed BM25 factors (k1=1.2, b=0.75, the operator's fixed
  // shape): tfpart = 99·tf / (90·tf + 27 + 27·dl), idf = ln((2N−2df+1)/(2df+1))
  private def corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry cherry cherry cherry")).toDF("doc_id", "text")

  private def query = Seq((0L, "apple cherry")).toDF("query_id", "query_text")

  test("unicode tokenizer: an UNSEGMENTED CJK document gets per-character " +
      "postings and is retrievable; the legacy whitespace split gives it " +
      "one never-matching pseudo-token (the failure q226/q227 certify)") {
    // real unsegmented CJK (no whitespace anywhere) beside a Latin doc
    val docs = Seq(
      (1L, "今日天気晴天気"),
      (2L, "weather report today")).toDF("doc_id", "text")
    // legacy: doc 1 is ONE giant token — nothing a query can match
    val legacy = Retrieval.postings(docs).filter($"doc_id" === 1L)
      .as[(String, Long, Long)].collect().toSeq
    assert(legacy === Seq(("今日天気晴天気", 1L, 1L)))
    // unicode: one posting per ideograph with exact tf
    val uni = Retrieval.postings(docs,
        tokenizer = TextAnalysis.tokensUnicode(_))
      .filter($"doc_id" === 1L).orderBy($"term")
      .as[(String, Long, Long)].collect().toSeq
    assert(uni === Seq(("今", 1L, 1L), ("天", 1L, 2L), ("日", 1L, 1L),
      ("晴", 1L, 1L), ("気", 1L, 2L)))
    assert(Retrieval.docLengths(docs,
        tokenizer = TextAnalysis.tokensUnicode(_))
      .orderBy($"doc_id").as[(Long, Long)].collect().toSeq
      === Seq((1L, 7L), (2L, 3L)))
    // a two-ideograph query retrieves the CJK doc under the unicode
    // path (both sides segment with the same tokenizer)...
    val q = Seq((0L, "天気")).toDF("query_id", "query_text")
    val hit = Retrieval.bm25TopK(docs, q, k = 5,
        tokenizer = TextAnalysis.tokensUnicode(_))
      .select($"doc_id").as[Long].collect().toSeq
    assert(hit === Seq(1L))
    // ...and retrieves NOTHING under the legacy split
    assert(Retrieval.bm25TopK(docs, q, k = 5).count() === 0L)
  }

  test("tfidfKeywords through the unicode tokenizer: an unsegmented CJK " +
      "doc gets per-ideograph keywords ranked by tf·idf; the legacy split " +
      "gives it ONE document-unique pseudo-token with idf = ln(N) — " +
      "maximally-scored garbage (the failure q228 certifies)") {
    val docs = Seq(
      (1L, "今日天気晴天気"),    // tf: 気 2, 天 2, 今 1, 日 1, 晴 1
      (2L, "天気 weather"),      // 天/気 appear here too → their df = 2
      (3L, "weather report")).toDF("doc_id", "text")
    // legacy: doc 1's single "keyword" is the whole document
    val legacy = TextAnalysis.tfidfKeywords(docs, "doc_id", "text", k = 1)
      .filter($"doc_id" === 1L).select($"term").as[String].collect().toSeq
    assert(legacy === Seq("今日天気晴天気"))
    // unicode: keywords are ideographs; df(今/日/晴)=1 < df(天/気)=2, so
    // idf ln(3/1) beats ln(3/2) even at tf 1 vs 2
    // (1·1.098612 = 1.098612 > 2·0.405465 = 0.810930); ties at equal
    // score break lexicographically by term — 今 < 日 < 晴 in code-point
    // order, so k=3 takes exactly the three df-1 ideographs
    val uni = TextAnalysis.tfidfKeywords(docs, "doc_id", "text", k = 3,
        tokenizer = TextAnalysis.tokensUnicode(_))
      .filter($"doc_id" === 1L).orderBy($"rnk")
      .select($"term").as[String].collect().toSeq
    assert(uni === Seq("今", "日", "晴"))
  }

  test("postings and docLengths: one row per distinct (term, doc) with tf") {
    val p = Retrieval.postings(corpus)
      .orderBy($"term", $"doc_id")
      .as[(String, Long, Long)].collect().toSeq
    assert(p === Seq(("apple", 1L, 2L), ("banana", 1L, 1L), ("banana", 2L, 1L),
      ("cherry", 2L, 1L), ("cherry", 3L, 4L)))
    val dl = Retrieval.docLengths(corpus).orderBy($"doc_id")
      .as[(Long, Long)].collect().toSeq
    assert(dl === Seq((1L, 3L), (2L, 2L), (3L, 4L)))
  }

  test("bm25TopK ranks by exact decimal score; rare-term idf positive, " +
      "common-term negative") {
    val got = Retrieval.bm25TopK(corpus, query, k = 3)
      .select($"query_id", $"doc_id",
        $"score".cast("double").as("score"), $"n_terms", $"rnk")
      .orderBy($"rnk")
      .as[(Long, Long, Double, Long, Int)].collect().toSeq
    assert(got.map(_._2) === Seq(1L, 2L, 3L)) // apple doc, then cherry docs
    // doc1: idf(apple)=round(ln(5/3),6)=0.510826 × tfpart(2,3)=198/288=0.687500
    //   → exact decimal product 0.351192875, cast to double
    assert(got(0)._3 === 0.351192875)
    assert(got(0)._4 === 1L) // only 'apple' matched
    // cherry idf = ln(3/5) < 0: both cherry docs score negative, the
    // heavier-tf doc3 (tfpart 0.8) more negative than doc2 (0.578947)
    assert(got(1)._3 < 0 && got(2)._3 < got(1)._3)
  }

  test("dfCapRatio drops stopword-class terms from scoring") {
    // ratio 0.5: df must be ≤ 1.5 → banana/cherry (df=2) pruned; only
    // the apple posting scores, so doc1 is the only candidate
    val got = Retrieval.bm25Scores(corpus, query, dfCapRatio = 0.5)
      .select($"doc_id").as[Long].collect().toSeq
    assert(got === Seq(1L))
  }

  test("bm25Decontaminate flags only docs above minScore with best score") {
    val got = Retrieval.bm25Decontaminate(corpus, query, minScore = 0.3)
      .select($"doc_id", $"max_score".cast("double"), $"n_queries")
      .as[(Long, Double, Long)].collect().toSeq
    assert(got === Seq((1L, 0.351192875, 1L)))
  }

  test("batch-tagged postings sidecar: a deliberately REPLAYED append " +
      "inflates nothing at read or through compaction — the round-17 " +
      "exactly-once contract (a duplicated doclen row would otherwise " +
      "fan out every candidate for that doc)") {
    val dir = java.nio.file.Files
      .createTempDirectory("retrieval-tagged").toString + "/idx"
    val (even, odd) =
      (corpus.filter($"doc_id" % 2 === 0), corpus.filter($"doc_id" % 2 === 1))
    Retrieval.writePostingsSidecar(even, dir, batchId = Some("b0"))
    Retrieval.writePostingsSidecar(odd, dir, batchId = Some("b1"))
    // the crash-replay: the whole b1 append retried
    Retrieval.writePostingsSidecar(odd, dir, batchId = Some("b1"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"query_id", $"doc_id", $"score".cast("double"), $"n_terms",
        $"rnk")
      .orderBy($"query_id", $"rnk")
      .as[(Long, Long, Double, Long, Int)].collect().toSeq
    val oneShot = rows(Retrieval.bm25TopK(corpus, query, k = 3))
    assert(rows(Retrieval.bm25TopKFromSidecar(spark, dir, query, k = 3))
      === oneShot)
    // compaction collapses the duplicate BEFORE the (term, doc_id)
    // re-sum and carries the sentinel; ranking unchanged
    Retrieval.compactPostingsSidecar(spark, dir)
    assert(spark.read.parquet(s"$dir/postings").select($"batch_id")
      .distinct().as[String].collect().toSeq
      === Seq(TaggedSidecar.CompactedBatchId))
    assert(rows(Retrieval.bm25TopKFromSidecar(spark, dir, query, k = 3))
      === oneShot)
    // mixed tagged/untagged appends fail loud, not silently drop tags
    val e = intercept[IllegalArgumentException] {
      Retrieval.writePostingsSidecar(even, dir)
    }
    assert(e.getMessage.contains("batch-tagged"))
  }

  test("postings sidecar: two-batch append + compact == one-shot ranking") {
    val dir = java.nio.file.Files
      .createTempDirectory("retrieval-sidecar").toString + "/idx"
    Retrieval.writePostingsSidecar(corpus.filter($"doc_id" % 2 === 0), dir)
    Retrieval.writePostingsSidecar(corpus.filter($"doc_id" % 2 === 1), dir)
    Retrieval.compactPostingsSidecar(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select($"query_id", $"doc_id", $"score".cast("double"), $"n_terms", $"rnk")
      .orderBy($"query_id", $"rnk")
      .as[(Long, Long, Double, Long, Int)].collect().toSeq
    val incremental = rows(Retrieval.bm25TopKFromSidecar(spark, dir, query, k = 3))
    val oneShot = rows(Retrieval.bm25TopK(corpus, query, k = 3))
    assert(incremental === oneShot)
    // compaction leaves one file per table
    Seq("postings", "doclen").foreach { t =>
      val files = new java.io.File(s"$dir/$t")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(files === 1, s"$t should compact to one file")
    }
  }

  test("bm25QueryExpansion feeds back top docs and excludes query terms") {
    // query "apple": only doc1 scores positive... in fact only doc1
    // CONTAINS apple, so the feedback set is {doc1} at any k; its
    // non-query terms = {banana}, weight = idf(banana)·Σtf =
    // round(ln(3/5),6) × 1 = -0.510826
    val q = Seq((0L, "apple")).toDF("query_id", "query_text")
    val got = Retrieval.bm25QueryExpansion(corpus, q, k = 2, nTerms = 3)
      .select($"query_id", $"term", $"weight".cast("double"),
        $"n_docs_with_term", $"rnk")
      .as[(Long, String, Double, Long, Int)].collect().toSeq
    assert(got === Seq((0L, "banana", -0.510826, 1L, 1)))
  }

  test("phraseSearch: exact occurrences, overlaps, repeated terms, no-match") {
    val docs = Seq(
      (1L, "x a b c a b y"),   // "a b" at 1 and 4
      (2L, "a a a"),           // "a a" overlapping at 0 and 1
      (3L, "b a")).toDF("doc_id", "text")
    val phrases = Seq(
      (0L, "a b"), (1L, "a a"), (2L, "c a b"), (3L, "z q")
    ).toDF("phrase_id", "phrase_text")
    val got = Retrieval.phraseSearch(docs, phrases)
      .orderBy($"phrase_id", $"doc_id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 1L, 2L, 1L),  // "a b" twice in doc1, first at pos 1
      (1L, 2L, 2L, 0L),  // overlapping "a a" at 0 and 1
      (2L, 1L, 1L, 3L))) // "c a b" once at pos 3; "z q" nowhere
  }

  test("edge semantics: unknown terms, empty query, empty doc") {
    // a query of terms absent from the corpus has no candidates
    val unknown = Seq((0L, "zebra quux")).toDF("query_id", "query_text")
    assert(Retrieval.bm25Scores(corpus, unknown).count() === 0L)
    // an empty query text tokenizes to [""], which matches no posting
    val empty = Seq((1L, "")).toDF("query_id", "query_text")
    assert(Retrieval.bm25Scores(corpus, empty).count() === 0L)
    // an empty doc contributes dl=1 (the [""] token) to the corpus
    // totals — same value string_split yields in the oracle engine —
    // and never matches a real query term
    val withEmpty = corpus.union(Seq((9L, "")).toDF("doc_id", "text"))
    val got = Retrieval.bm25Scores(withEmpty, query)
      .select($"doc_id").as[Long].collect().toSet
    assert(!got.contains(9L))
    assert(Retrieval.docLengths(withEmpty).filter($"doc_id" === 9L)
      .select($"dl").as[Long].head() === 1L)
  }

  test("multiple queries score independently; ties break on doc_id") {
    val qs = Seq((0L, "apple cherry"), (1L, "banana")).toDF("query_id", "query_text")
    val got = Retrieval.bm25TopK(corpus, qs, k = 2)
      .filter($"query_id" === 1L).orderBy($"rnk")
      .select($"doc_id").as[Long].collect().toSeq
    // banana tf=1 both docs; tfpart: doc1 99/198=0.5 < doc2 99/171.
    // idf(banana)<0, so the larger tfpart is MORE negative → doc1 wins
    assert(got === Seq(1L, 2L))
  }

  test("rrfFuse: exact integer contributions over the union, rank-0 slots " +
      "for docs one ranking missed, deterministic doc_id tiebreak") {
    // query 0: doc 10 in both lists, 11 lexical-only, 12 semantic-only
    val lex = Seq((0L, 10L, 1), (0L, 11L, 2)).toDF("query_id", "doc_id", "rnk")
    val sem = Seq((0L, 10L, 2), (0L, 12L, 1)).toDF("query_id", "doc_id", "rnk")
    val got = Retrieval.rrfFuse(lex, sem, k = 3)
      .orderBy($"rnk")
      .select($"doc_id", $"rrf_score", $"rnk_a", $"rnk_b", $"rnk")
      .collect()
    // contributions: rank1 → floor(1e6/61)=16393, rank2 → floor(1e6/62)=16129
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
      r.getInt(3), r.getInt(4))).toSeq === Seq(
      (10L, 16393L + 16129L, 1, 2, 1), // in both lists → summed
      (12L, 16393L, 0, 1, 2),          // semantic-only, rank-0 lex slot
      (11L, 16129L, 2, 0, 3)))         // lexical-only, rank-0 sem slot
  }
}
