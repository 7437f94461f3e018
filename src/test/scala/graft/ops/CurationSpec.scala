package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("wordNgrams builds sliding windows; short docs yield empty") {
    val got = Seq("a b c d", "a b", "a").toDF("text")
      .select(TextAnalysis.tokens($"text").as("ts"))
      .select(TextAnalysis.wordNgrams($"ts", 3).as("g"))
      .as[Seq[String]].collect().toSeq
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Seq.empty)
    assert(got(2) === Seq.empty)
  }

  test("decontaminate flags the doc sharing grams with the eval set") {
    // eval doc holds "x y z"; train doc 1 contains it verbatim, doc 2
    // shares nothing, doc 3 is too short to carry a 3-gram
    val train = Seq(
      (1L, "p q x y z r"), // grams: p q x, q x y, x y z, y z r → 1 of 4 hit
      (2L, "a b c d"),
      (3L, "x y")).toDF("doc_id", "text")
    val eval_ = Seq((100L, "w x y z")).toDF("doc_id", "text")
    val got = Curation.decontaminate(train, eval_, n = 3, threshold = 0.25)
      .orderBy($"doc_id")
      .select($"doc_id", $"n_grams", $"n_hit", $"contaminated")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got === Seq((1L, 4L, 1L, true), (2L, 2L, 0L, false)))
  }

  test("decontaminate counts DISTINCT grams once per doc") {
    val train = Seq((1L, "x y z x y z x y z")).toDF("doc_id", "text")
    val eval_ = Seq((9L, "x y z")).toDF("doc_id", "text")
    val row = Curation.decontaminate(train, eval_, n = 3)
      .select($"n_grams", $"n_hit").as[(Long, Long)].collect()(0)
    // distinct grams of the repeated doc: x y z / y z x / z x y → 3,
    // only "x y z" appears in eval
    assert(row === ((3L, 1L)))
  }

  test("repetitionSignals: fractions on a hand-checked doc") {
    val docs = Seq((1L, "a a a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = Curation.repetitionSignals(docs).orderBy($"doc_id")
      .select($"n_toks", $"n_distinct", $"dup_word_frac", $"top_word_share",
        $"dup_bigram_frac")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    // doc1: 4 toks, 2 distinct; top word "a" ×3; bigrams a a, a a, a b
    //       → nb=3, nbd=2 → dup_bigram 1/3
    assert(got(0) === ((4L, 2L, 0.5, 0.75, 1.0 / 3)))
    // doc2: no repetition anywhere
    assert(got(1) === ((4L, 4L, 0.0, 0.25, 0.0)))
  }

  test("repetitionSignals: fused one-scan stats equal the exploded " +
      "formulation (round-19 rewrite), incl. empty/duplicate-space edges") {
    // the reference semantics: explode(split(text,' ',-1)) word counts +
    // in-row bigram arrays — exactly the pre-round-19 operator body
    def reference(docs: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.functions._
      val withBigrams = docs
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
        .select(col("doc_id"), col("ts"),
          size(TextAnalysis.wordNgrams(col("ts"), 2)).cast("long").as("nb"),
          size(array_distinct(TextAnalysis.wordNgrams(col("ts"), 2)))
            .cast("long").as("nbd"))
      withBigrams
        .select(col("doc_id"), col("nb"), col("nbd"),
          explode(col("ts")).as("w"))
        .groupBy(col("doc_id"), col("nb"), col("nbd"), col("w"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"), col("nb"), col("nbd"))
        .agg(sum(col("c")).as("n_toks"), count(lit(1)).as("n_distinct"),
          max(col("c")).as("top_cnt"))
        .select(col("doc_id"), col("n_toks"), col("n_distinct"),
          ((col("n_toks") - col("n_distinct")).cast("double") /
            col("n_toks")).as("dup_word_frac"),
          (col("top_cnt").cast("double") / col("n_toks"))
            .as("top_word_share"),
          when(col("nb") === 0L, lit(0.0))
            .otherwise((col("nb") - col("nbd")).cast("double") / col("nb"))
            .as("dup_bigram_frac"))
    }
    // edge cases the byte-scan must match split(' ', -1) on: empty
    // text (one empty token), leading/trailing/double spaces (empty
    // tokens kept), single token, all-identical tokens, repeated
    // bigrams through empty tokens, multi-byte UTF-8 tokens
    val edge = Seq(
      (1L, ""), (2L, " "), (3L, "a"), (4L, "a a a a"),
      (5L, " a"), (6L, "a "), (7L, "a  b  a  b"), (8L, "µß 漢字 µß 漢字"),
      (9L, "x y x y x"), (10L, "a b a b a b c")).toDF("doc_id", "text")
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
    for (d <- Seq(edge, docs)) {
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy($"doc_id")
          .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
      assert(canon(Curation.repetitionSignals(d)) === canon(reference(d)))
    }
  }

  test("repetitionSignals: rows sharing a doc_id each give their own " +
      "single-row result") {
    val a = (7L, "a a a b")
    val b = (7L, "a b c d")
    def rows(in: Seq[(Long, String)]) =
      Curation.repetitionSignals(in.toDF("doc_id", "text"))
        .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
    val single = rows(Seq(a)) ++ rows(Seq(b))
    assert(single.length === 2 && single(0) != single(1))
    assert(rows(Seq(a, b)).sortBy(_.toString) === single.sortBy(_.toString))
  }

  test("vocabCoverage: ranks by count desc then word, cumulative share") {
    val docs = Seq((1L, "b b b a a c")).toDF("doc_id", "text")
    val got = Curation.vocabCoverage(docs, coverage = 0.85)
      .orderBy($"rank")
      .select($"w", $"cnt", $"rank", $"cum_share", $"in_vocab")
      .as[(String, Long, Long, Double, Boolean)].collect().toSeq
    assert(got === Seq(
      ("b", 3L, 1L, 0.5, true),
      ("a", 2L, 2L, 5.0 / 6, true),
      ("c", 1L, 3L, 1.0, false)))
  }

  test("vocabCoverage (distributed) is byte-identical to the single-window " +
      "formulation on the real documents table") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"rank")
        .select($"w", $"cnt", $"rank", $"cum_share", $"in_vocab")
        .as[(String, Long, Long, Double, Boolean)].collect().toSeq
    val dist = canon(Curation.vocabCoverage(docs))
    val single = canon(Curation.vocabCoverageSingleWindow(docs))
    assert(dist.nonEmpty)
    assert(dist === single)
  }

  test("vocabCoverage default path has NO unpartitioned window (the ranking " +
      "is distributed over range partitions)") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val df = Curation.vocabCoverage(docs)
    df.collect()
    // AQE hides the final plan behind AdaptiveSparkPlanExec/QueryStage
    // nodes; a plain TreeNode.collect would stop at the wrapper
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
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
      p +: next.flatMap(flatten)
    }
    val windows = flatten(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the per-partition ranking window")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"unpartitioned window in the scale path:\n$w")
    }
    // and the vocabulary really is spread over multiple range partitions
    // (the whole point — one reducer must not rank billions of words)
    val parts = Curation.vocabCoverage(docs)
      .select(spark_partition_id()).distinct().count()
    assert(parts >= 1)
  }

  test("piiRedact scrubs emails and phones and counts them") {
    val row = Seq("mail me at bob.1@x.com or 555-1234 or 555-9999 ok")
      .toDF("t")
      .select(Curation.piiRedact($"t").map { case (n, c) => c.as(n) }: _*)
      .collect()(0)
    assert(row.getAs[Long]("n_email") === 1L)
    assert(row.getAs[Long]("n_phone") === 2L)
    assert(row.getAs[String]("redacted") ===
      "mail me at [EMAIL] or [PHONE] or [PHONE] ok")
  }

  test("decontaminate plans the eval-gram side as a broadcast join") {
    // the 100 TB contract: the corpus side must never shuffle for the
    // join — only the benchmark-sized eval gram set moves
    val docs = Seq((1L, "a b c d e"), (2L, "c d e f g")).toDF("doc_id", "text")
    val plan = Curation.decontaminate(docs, docs.limit(1), n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast join for eval grams, got:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("piiRedact leaves clean text untouched") {
    val row = Seq("no pii here at all").toDF("t")
      .select(Curation.piiRedact($"t").map { case (n, c) => c.as(n) }: _*)
      .collect()(0)
    assert(row.getAs[Long]("n_email") === 0L)
    assert(row.getAs[Long]("n_phone") === 0L)
    assert(row.getAs[String]("redacted") === "no pii here at all")
  }

  test("capPerSource keeps at most cap docs per source, small sources whole") {
    val docs = ((1L to 20L).map(i => (i, "big")) ++
      Seq((21L, "small"), (22L, "small"))).toDF("doc_id", "source")
    val kept = Curation.capPerSource(docs, "source", "doc_id", cap = 5)
      .select($"source", $"doc_id", $"src_rank")
      .as[(String, Long, Long)].collect().toSeq
    val bySource = kept.groupBy(_._1)
    assert(bySource("big").size === 5)
    assert(bySource("small").map(_._2).sorted === Seq(21L, 22L))
    // ranks are 1..n within every source
    bySource.foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted === (1L to rows.size).toSeq)
    }
  }

  test("capPerSource is deterministic in (id, seed) and seed-sensitive") {
    val docs = (1L to 50L).map(i => (i, s"s${i % 2}")).toDF("doc_id", "source")
    def keptIds(seed: Long) =
      Curation.capPerSource(docs, "source", "doc_id", cap = 10, seed = seed)
        .select($"doc_id").as[Long].collect().toSet
    assert(keptIds(42L) === keptIds(42L))       // pure function of (id, seed)
    assert(keptIds(42L) !== keptIds(43L))       // a new seed redraws the sample
    assert(keptIds(43L).size === 20)            // cap still honored per source
  }

  test("capPerSource plans a map-side window group limit (partial)") {
    // the 100 TB contract: a hot source's shuffle volume must be
    // cap × map-tasks, not its row count — InferWindowGroupLimit must
    // fire on the rank ≤ cap filter
    val docs = (1L to 100L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "source")
    val q = Curation.capPerSource(docs, "source", "doc_id", cap = 4)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1200))
    assert(plan.contains("Partial"), plan.take(1200))
  }

  test("tokenRarity scores match a hand-checked corpus") {
    // corpus counts: a→2, b→2, c→1, z→1
    val docs = Seq((1L, "a b a"), (2L, "b c"), (3L, "z")).toDF("doc_id", "text")
    val got = Curation.tokenRarity(docs).orderBy($"doc_id")
      .select($"doc_id", $"n_toks", $"sum_cnt", $"min_cnt", $"mean_cnt")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 3L, 6L, 2L, 2.0),              // a+b+a = 2+2+2
      (2L, 2L, 3L, 1L, 1.5),              // b+c = 2+1
      (3L, 1L, 1L, 1L, 1.0)))             // the hapax doc: min_cnt = 1
  }

  test("tokenRarity reuses the exploded-scan exchange when the vocab " +
      "outgrows broadcast") {
    // the 100 TB shape: with a shuffle join on the token key, the
    // frequency branch's pre-agg exchange and the join's streaming-side
    // exchange hash-partition the SAME exploded projection — Catalyst
    // must reuse it, not scan/explode the corpus twice. (At broadcast
    // sizes the tf side broadcasts instead, which is also fine.)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val conf = spark.conf
    val prev = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = scala.util.Try(
        conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold"))
      .toOption.flatMap(Option(_))   // unset reads back as null
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val q = Curation.tokenRarity(docs)
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"), plan.take(1500))
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevAqe match {
        case Some(v) =>
          conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("dsirWeights: full bucket coverage; target-only vocabulary gets " +
      "positive weight, raw-only negative, and scores order accordingly") {
    // target speaks only of apples, the raw remainder only of bricks;
    // a small bucket space keeps the toy corpora from spreading thin
    val target = Seq((1L, "apple pie apple"), (2L, "apple tart"))
      .toDF("doc_id", "text")
    val rawOnly = Seq((3L, "brick wall brick"), (4L, "brick dust"))
      .toDF("doc_id", "text")
    val raw = target.unionByName(rawOnly)
    val w = Curation.dsirWeights(target, raw, numBuckets = 64)
    assert(w.count() === 64L)
    assert(w.select(countDistinct($"bucket")).head().getLong(0) === 64L)
    val scored = Curation.dsirScore(raw, w, numBuckets = 64)
      .orderBy($"doc_id")
      .select($"doc_id", $"score".cast("double"))
      .as[(Long, Double)].collect().toMap
    // every target doc must outscore every raw-only doc
    assert(Seq(1L, 2L).map(scored).min > Seq(3L, 4L).map(scored).max,
      scored.toString)
  }

  test("dsirResample: deterministic in seed, seed-sensitive, and " +
      "enriches the selection toward the target distribution") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val w = Curation.dsirWeights(docs.filter($"lang" === "en"), docs)
    def sel(seed: Long) = Curation.dsirResample(docs, w, n = 100, seed = seed)
      .select($"doc_id").as[Long].collect().toSet
    val a = sel(42L)
    assert(a.size === 100)
    assert(sel(42L) === a)                 // two runs, same draw
    assert(sel(43L) !== a)                 // the noise is seed-keyed
    val enRate = docs.filter($"lang" === "en").count().toDouble / docs.count()
    val selEnRate = docs.filter($"doc_id".isin(a.toSeq: _*))
      .filter($"lang" === "en").count().toDouble / 100.0
    // importance resampling toward the English target must beat the
    // base rate by a wide margin (base ≈ 0.44 at sf0.01)
    assert(selEnRate > enRate + 0.15, s"base $enRate, selected $selEnRate")
  }

  test("percentileNormalize: hand-computed pct, id tiebreak, 1-row group") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 20L),
      ("a", 4L, 30L),                       // ties with id 2 on value
      ("b", 9L, 999L))                      // singleton group
      .toDF("source", "doc_id", "score")
    val got = Curation.percentileNormalize(df, "source", "score", "doc_id")
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    // group a sorted by (score, id): 10(id1) 20(id3) 30(id2) 30(id4)
    assert(got === Map(1L -> 0.0, 3L -> (1.0 / 3), 2L -> (2.0 / 3),
      4L -> 1.0, 9L -> 0.5))
  }

  test("percentileNormalize: keepAbove takes the top fraction of EVERY group") {
    val df = (1L to 10L).map(i => ("a", i, i)) ++
      (1L to 4L).map(i => ("b", 100L + i, 1000L + i))
    val kept = Curation.percentileNormalize(df.toDF("source", "doc_id", "score"),
        "source", "score", "doc_id", keepAbove = 0.5)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // a: pct = (rn-1)/9 ≥ 0.5 → rn ≥ 5.5 → rn 6..10 (5 rows)
    // b: pct = (rn-1)/3 ≥ 0.5 → rn ≥ 2.5 → rn 3..4 (2 rows)
    assert(kept === Map("a" -> 5L, "b" -> 2L))
  }

  test("batch-tagged token-count sidecar: a deliberately double-appended " +
      "batch no longer inflates counts (exactly-once by construction)") {
    val docs = Seq((1L, "a b a"), (2L, "b c")).toDF("doc_id", "text")
    val dir = s"target/tmp/tokcnt_tagged_spec_${System.nanoTime()}"
    graft.sources.Sinks.wipeForRebuild(spark, dir)
    Curation.writeTokenCountSidecar(docs.filter($"doc_id" === 1L),
      "text", dir, Some("b1"))
    Curation.writeTokenCountSidecar(docs.filter($"doc_id" === 2L),
      "text", dir, Some("b2"))
    def counts = Curation.mergedTokenCounts(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val clean = counts
    assert(clean === Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    // the at-least-once replay that used to double-count
    Curation.writeTokenCountSidecar(docs.filter($"doc_id" === 1L),
      "text", dir, Some("b1"))
    assert(counts === clean)
    // compaction collapses the duplicate rows too and keeps the merge
    Curation.compactTokenCountSidecar(spark, dir)
    assert(counts === clean)
    // the legacy untagged sidecar still double-counts (the documented
    // contract this flip retires for tagged callers)
    val legacy = s"target/tmp/tokcnt_untagged_spec_${System.nanoTime()}"
    graft.sources.Sinks.wipeForRebuild(spark, legacy)
    Curation.writeTokenCountSidecar(docs.filter($"doc_id" === 1L),
      "text", legacy)
    Curation.writeTokenCountSidecar(docs.filter($"doc_id" === 1L),
      "text", legacy)
    assert(Curation.mergedTokenCounts(spark, legacy)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("a" -> 4L, "b" -> 2L))
  }

  test("token-count sidecar: two tagged appends merge to the one-shot " +
      "counts and rarity scores (exact counts are additive)") {
    val sidecar = s"target/tmp/tokcnt_two_batch_spec_${System.nanoTime()}"
    graft.sources.Sinks.wipeForRebuild(spark, sidecar)
    val b1 = Seq((1L, "the cat sat"), (2L, "the dog sat here"))
    val b2 = Seq((3L, "the cat ran"), (4L, "a rare hapax"))
    Curation.writeTokenCountSidecar(b1.toDF("doc_id", "text"),
      "text", sidecar, Some("b0"))
    Curation.writeTokenCountSidecar(b2.toDF("doc_id", "text"),
      "text", sidecar, Some("b1"))
    Curation.compactTokenCountSidecar(spark, sidecar)

    val union = (b1 ++ b2).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy($"doc_id").collect().map(_.toString).toSeq
    assert(canon(Curation.tokenRarityAgainstSidecar(union, sidecar)) ===
      canon(Curation.tokenRarity(union)))
    // merged table == one-shot frequency table, and compaction left
    // exactly one row per token
    val merged = Curation.mergedTokenCounts(spark, sidecar)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(merged("the") === 3L && merged("hapax") === 1L)
    assert(spark.read.parquet(sidecar).groupBy($"w").count()
      .filter($"count" > 1).count() === 0L)
  }

  test("curateBatch: two batches into one pipeline dir == one-shot batch " +
      "replay on survivors, packed output, and state (near-dup sidecar → " +
      "quality gate → rolling budget → packing)") {
    val root = java.nio.file.Files.createTempDirectory("scuration")
    val twoDir = root.resolve("two").toString
    val oneDir = root.resolve("one").toString
    def mk(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val corpusDoc = mk("corp", 40)
    // pre-seed BOTH pipelines' sidecars from the same existing corpus
    Seq(twoDir, oneDir).foreach { d =>
      Dedup.writeMinhashSidecar(
        Seq((900L, corpusDoc)).toDF("doc_id", "text"),
        "text", "doc_id", s"$d/minhash")
    }
    // 40-token synthetic docs score exactly 0.5 (len ok, tok-len ok, no
    // stopwords → 0.5 factor); minQuality 0.5 admits them; short docs
    // score below and drop at the quality gate
    val b1 = Seq(
      (1L, "web", mk("aa", 40)),     // good → packed
      (2L, "web", mk("bb", 40)),     // good → packed (web cum 80)
      (3L, "books", mk("cc", 40)),   // good → packed
      (4L, "web", ((1 to 39).map(i => s"corp$i") :+ "x").mkString(" ")),
      //            ^ near-dup of the seeded corpus → dropped at stage 1
      (5L, "web", mk("zz", 5)))      // low quality → dropped at stage 2
    val b2 = Seq(
      (11L, "web", mk("dd", 40)),    // web prior 80 + 40 > 100 → budget cut
      (12L, "books", mk("ee", 40)),  // books prior 40 + 40 ≤ 100 → packed
      (13L, "web", ((1 to 39).map(i => s"corp$i") :+ "z").mkString(" ")))
      //            ^ near-dup of the SEEDED corpus → dropped at stage 1 in
      //              both runs (a near-dup of a batch-1 survivor would be
      //              the documented intra-batch asymmetry: the one-shot
      //              replay doesn't collapse within a batch)
    def run(rows: Seq[(Long, String, String)], dir: String) =
      Curation.curateBatch(rows.toDF("doc_id", "source", "text"),
        "text", "doc_id", "source", dir,
        shingleK = 2, numHashes = 64, bands = 8, nearDupThreshold = 0.5,
        minQuality = 0.5, tokensPerSource = 100L, seqTokens = 64L)

    // two batches into one pipeline dir, then the union as ONE batch
    run(b1, twoDir); run(b2, twoDir)
    run(b1 ++ b2, oneDir)

    def packed(d: String) = spark.read.parquet(s"$d/packed")
      .collect().map(_.toString).sorted.toSeq
    assert(packed(twoDir) === packed(oneDir))
    assert(spark.read.parquet(s"$twoDir/packed")
      .select($"doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L, 12L))
    // cross-batch continuity: positions are one global token stream
    val cums = spark.read.parquet(s"$twoDir/packed")
      .orderBy($"doc_id").select($"cum_tokens").as[Long].collect().toSeq
    assert(cums === Seq(40L, 80L, 120L, 160L))
    // states converged identically
    def state(d: String, t: String) = spark.read.parquet(s"$d/$t")
      .collect().map(_.toString).sorted.toSeq
    assert(state(twoDir, "budget_state") === state(oneDir, "budget_state"))
    assert(state(twoDir, "pack_state") === state(oneDir, "pack_state"))
    assert(spark.read.parquet(s"$twoDir/pack_state")
      .head().getLong(0) === 160L)
  }

  test("curateBatch doc cap: per-source docsPerSource admits the arrival " +
      "prefix, cuts in-batch and cross-batch, two batches == one-shot") {
    val root = java.nio.file.Files.createTempDirectory("scuration_cap")
    val twoDir = root.resolve("two").toString
    val oneDir = root.resolve("one").toString
    def mk(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    // all docs quality 0.5 / 40 tokens; budget (10k) never binds, so
    // every cut below is the DOC cap's
    val b1 = Seq(
      (1L, "web", mk("aa", 40)),    // web doc 1 → packed
      (2L, "web", mk("bb", 40)),    // web doc 2 → packed
      (3L, "books", mk("cc", 40)),  // books doc 1 → packed
      (5L, "web", mk("dd", 40)))    // web doc 3 > cap 2 → cut IN-batch
    val b2 = Seq(
      (11L, "web", mk("ee", 40)),   // web prior_docs 3 → cut CROSS-batch
      (12L, "books", mk("ff", 40))) // books doc 2 ≤ cap → packed
    def run(rows: Seq[(Long, String, String)], dir: String) =
      Curation.curateBatch(rows.toDF("doc_id", "source", "text"),
        "text", "doc_id", "source", dir,
        2, 64, 8, 0.7, 0.5, 10000L, 64L, docsPerSource = 2L)
    run(b1, twoDir); run(b2, twoDir)
    run(b1 ++ b2, oneDir)

    def packed(d: String) = spark.read.parquet(s"$d/packed")
      .collect().map(_.toString).sorted.toSeq
    assert(packed(twoDir) === packed(oneDir))
    assert(spark.read.parquet(s"$twoDir/packed")
      .select($"doc_id").as[Long].collect().toSet === Set(1L, 2L, 3L, 12L))
    // seen_docs counts quality-KEPT docs (admitted or not): web saw 4
    val st = spark.read.parquet(s"$twoDir/budget_state")
      .select($"source", $"seen_docs").as[(String, Long)].collect().toMap
    assert(st === Map("web" -> 4L, "books" -> 2L))
    assert(spark.read.parquet(s"$twoDir/budget_state").columns.toSeq ===
      spark.read.parquet(s"$oneDir/budget_state").columns.toSeq)
  }

  test("curateBatch fault injection: a kill between the packed sink write " +
      "and the sidecar/state writes re-emits the batch on replay — " +
      "duplicates, never loss — and the rerun converges to one-shot") {
    val root = java.nio.file.Files.createTempDirectory("scuration_crash1")
    val crashDir = root.resolve("crash").toString
    val oneDir = root.resolve("one").toString
    def mk(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val b1 = Seq((1L, "web", mk("aa", 40)), (2L, "books", mk("bb", 40)))
    val b2 = Seq((11L, "web", mk("cc", 40)), (12L, "books", mk("dd", 40)))
    def runBatch(rows: Seq[(Long, String, String)], dir: String) =
      Curation.curateBatch(rows.toDF("doc_id", "source", "text"),
        "text", "doc_id", "source", dir,
        2, 64, 8, 0.7, 0.5, 10000L, 64L)

    // kill batch 1 right after the packed append — the first crash
    // window of the documented sink-first ordering
    Curation.failpoint = name =>
      if (name == "curateBatch:after-packed-append")
        throw new RuntimeException(s"injected crash: $name")
    val killed =
      try { runBatch(b1, crashDir); false }
      catch { case e: RuntimeException
        if e.getMessage.startsWith("injected crash") => true }
      finally { Curation.failpoint = _ => () }
    assert(killed)
    // torn state: the sink landed; sidecar and both states never did
    assert(spark.read.parquet(s"$crashDir/packed").count() === 2L)
    assert(!new java.io.File(s"$crashDir/minhash").exists)
    assert(!new java.io.File(s"$crashDir/budget_state").exists)
    assert(!new java.io.File(s"$crashDir/pack_state").exists)
    // the exception path released the writer lock (a hard process kill
    // would leave the marker for Sinks.breakDirLock)
    assert(!new java.io.File(crashDir + ".lock").exists)

    // at-least-once replay of batch 1, then batch 2; reference = the
    // union as one batch on a fresh dir
    runBatch(b1, crashDir)
    runBatch(b2, crashDir)
    runBatch(b1 ++ b2, oneDir)

    val crash = spark.read.parquet(s"$crashDir/packed")
    val one = spark.read.parquet(s"$oneDir/packed")
    // the replay saw the UN-advanced sidecar, budget, and offset, so it
    // re-derived byte-identical rows: the crash dir is exactly the
    // one-shot result plus a second copy of batch-1's packed rows
    val dupRows = one.filter($"doc_id" <= 2L).collect().map(_.toString).toSeq
    assert(crash.collect().map(_.toString).toSeq.sorted ===
      (one.collect().map(_.toString).toSeq ++ dupRows).sorted)
    // nothing lost, nothing foreign
    assert(crash.select($"doc_id").distinct().as[Long].collect().toSet ===
      Set(1L, 2L, 11L, 12L))
    // states converged to the one-shot values
    def state(d: String, t: String) = spark.read.parquet(s"$d/$t")
      .collect().map(_.toString).sorted.toSeq
    assert(state(crashDir, "budget_state") === state(oneDir, "budget_state"))
    assert(state(crashDir, "pack_state") === state(oneDir, "pack_state"))
  }

  test("curateBatch fault injection: a kill between the sidecar append and " +
      "the state writes leaves the replay with zero survivors and the next " +
      "batch overlapping positions — over-admission, never loss") {
    val root = java.nio.file.Files.createTempDirectory("scuration_crash2")
    val crashDir = root.resolve("crash").toString
    val oneDir = root.resolve("one").toString
    def mk(p: String, n: Int) = (1 to n).map(i => s"$p$i").mkString(" ")
    val b1 = Seq((1L, "web", mk("aa", 40)), (2L, "web", mk("bb", 40)))
    val b2 = Seq((11L, "web", mk("cc", 40)))
    // budget 100: the one-shot cuts doc 11 (cum 120 > 100); the crash
    // dir's lost budget state re-admits it — the documented direction
    def runBatch(rows: Seq[(Long, String, String)], dir: String) =
      Curation.curateBatch(rows.toDF("doc_id", "source", "text"),
        "text", "doc_id", "source", dir,
        2, 64, 8, 0.7, 0.5, 100L, 64L)

    Curation.failpoint = name =>
      if (name == "curateBatch:after-sidecar-append")
        throw new RuntimeException(s"injected crash: $name")
    val killed =
      try { runBatch(b1, crashDir); false }
      catch { case e: RuntimeException
        if e.getMessage.startsWith("injected crash") => true }
      finally { Curation.failpoint = _ => () }
    assert(killed)
    // torn state: sink AND sidecar landed; budget/pack states did not
    assert(spark.read.parquet(s"$crashDir/packed").count() === 2L)
    assert(new java.io.File(s"$crashDir/minhash").exists)
    assert(!new java.io.File(s"$crashDir/budget_state").exists)
    assert(!new java.io.File(s"$crashDir/pack_state").exists)

    // replay: every batch-1 row is now an exact dup of the sidecar →
    // zero survivors, no new packed rows; the states land, recording
    // zero seen (the crashed batch's contribution is unrecoverable —
    // that is the overlap hazard the scaladoc names, not row loss)
    runBatch(b1, crashDir)
    assert(spark.read.parquet(s"$crashDir/packed").count() === 2L)
    assert(spark.read.parquet(s"$crashDir/pack_state").head().getLong(0) === 0L)

    runBatch(b2, crashDir)
    runBatch(b1 ++ b2, oneDir)
    val crash = spark.read.parquet(s"$crashDir/packed")
    // never loss: batch 1's rows and batch 2's row are all present...
    assert(crash.select($"doc_id").as[Long].collect().toSet ===
      Set(1L, 2L, 11L))
    // ...but doc 11 was OVER-admitted (one-shot budget cuts it) and its
    // position overlaps the crashed batch's stream (offset restarted)
    assert(spark.read.parquet(s"$oneDir/packed")
      .select($"doc_id").as[Long].collect().toSet === Set(1L, 2L))
    assert(crash.filter($"doc_id" === 11L)
      .select($"cum_tokens").as[Long].head() === 40L)
  }
}
