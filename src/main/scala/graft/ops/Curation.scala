package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.TaggedSidecar

/** Corpus-curation operators for training-data pipelines — the steps
  * between "raw crawl" and "training shards" that SURVEY.md §8.3's
  * dedup/quality/token primitives don't yet cover:
  *
  *  - benchmark decontamination (exact n-gram overlap vs an eval set),
  *  - repetition signals (duplicate-word / duplicate-bigram / top-word
  *    fractions — the Gopher-style quality filters),
  *  - tokenizer vocabulary coverage (frequency-ranked cumulative mass),
  *  - PII redaction (regex scrub + audit counts).
  *
  * All are declarative DataFrame compositions: Catalyst pushes the
  * column prunes into the scans, the only shuffles are the stated
  * aggregations, and every derived double is a single IEEE division of
  * exact integers (cross-engine bit parity — see QueryDef's rules).
  */
object Curation {

  /** Benchmark decontamination: for every training document, the
    * fraction of its distinct word n-grams that also appear in ANY
    * eval-set document. The standard exact-overlap filter run before
    * training so test questions don't leak into the corpus.
    *
    * Shape at scale: the eval side (a benchmark suite — MBs, not TBs)
    * aggregates to a distinct gram set and BROADCASTS; the training
    * corpus streams through scan → in-row gram build → explode →
    * broadcast hash join (no shuffle) → ONE aggregation shuffle on
    * doc_id. Nothing about the 100 TB side is ever collected or
    * re-partitioned beyond that single agg.
    *
    * Documents with fewer than n tokens carry no n-grams and are
    * excluded (they cannot leak an n-gram).
    *
    * @param train     documents to audit (`doc_id`, `text`)
    * @param evalDocs  held-out benchmark documents (`text`)
    * @param n         n-gram order (8 is the common contamination
    *                  choice; tests use 3 on the tiny synthetic vocab)
    * @param threshold contamination ratio at or above which the doc is
    *                  flagged
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, n: Int = 8,
      threshold: Double = 0.05): DataFrame =
    decontaminateAgainstGrams(train,
      distinctGrams(evalDocs, n).select("g").distinct(), n, threshold)

  /** Per-doc distinct word n-grams (no row for a doc shorter than n
    * tokens). */
  private def distinctGrams(df: DataFrame, n: Int): DataFrame = df
    .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("ts"))
    .select(col("doc_id"), explode(gramSet(col("ts"), n)).as("g"))

  /** The distinct word n-grams of a token array, NULL when it is
    * shorter than n tokens (it carries no n-gram) — the shared gram
    * projection of the decontamination family. */
  private def gramSet(ts: Column, n: Int): Column =
    when(size(ts) >= n, array_distinct(TextAnalysis.wordNgrams(ts, n)))

  /** [[decontaminate]] against a PRECOMPUTED distinct-gram table (one
    * `g` string column) — the incremental-pipeline form: a benchmark
    * suite is a static artifact, so its gram registry is built ONCE
    * ([[writeEvalGramSidecar]]) and every arriving corpus shard checks
    * against it without re-reading the eval docs. Same plan as the
    * one-shot path (the registry broadcasts; at real benchmark sizes —
    * millions of grams, not corpus-sized — that broadcast is exactly
    * what the one-shot path builds anyway).
    *
    * DISTINCT-INPUT CONTRACT: `evalGrams` holds each gram at most once
    * — a repeated gram would fan a document's gram row out in the join
    * and inflate its n_grams and n_hit. Both callers pass a distinct
    * set ([[decontaminate]] dedups the eval grams;
    * [[writeEvalGramSidecar]] writes the registry distinct), so no
    * per-call distinct (an extra aggregation over the registry on
    * every shard) runs here. */
  def decontaminateAgainstGrams(train: DataFrame, evalGrams: DataFrame,
      n: Int = 8, threshold: Double = 0.05): DataFrame =
    contaminationFlags(train.select(col("doc_id"), col("text")), evalGrams,
      n, threshold)
      .filter(col("n_grams") > 0)

  /** [[decontaminateAgainstGrams]] for EVERY row of `train` (`doc_id`,
    * `text`, one row per doc_id; any other column rides along
    * unchanged, `text` is dropped): documents shorter than n tokens get n_grams = 0 and NULL
    * contamination/contaminated instead of no row. Same distinct-input
    * contract. One explode, one broadcast join and one aggregation on
    * doc_id — which needs no exchange when `train` is already
    * partitioned on doc_id, so a caller can run it over an upstream
    * per-doc aggregation and keep that aggregation's columns without
    * joining the flags back ([[graft.ops.CurationPipeline]]'s decide
    * pass). */
  private[graft] def contaminationFlags(train: DataFrame,
      evalGrams: DataFrame, n: Int, threshold: Double): DataFrame = {
    val rest = train.columns.toSeq.filterNot(c => c == "doc_id" || c == "text")
    val grams = broadcast(evalGrams.select("g").withColumn("hit", lit(1L)))
    train
      .select(Seq(col("doc_id"), TextAnalysis.tokens(col("text")).as("__ts")) ++
        rest.map(col): _*)
      .select(Seq(col("doc_id"), explode_outer(gramSet(col("__ts"), n)).as("g")) ++
        rest.map(col): _*)
      .join(grams, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("g")).as("n_grams"),
        (sum(coalesce(col("hit"), lit(0L))).as("n_hit") +:
          rest.map(c => any_value(col(c)).as(c))): _*)
      .withColumn("contamination", when(col("n_grams") > 0,
        col("n_hit").cast("double") / col("n_grams")))
      .withColumn("contaminated", col("contamination") >= threshold)
  }

  /** Materialize a benchmark suite's distinct n-gram registry — the
    * fixed decontamination artifact an incremental pipeline checks
    * every shard against (built once when the benchmark set is
    * frozen, NOT per shard: eval grams arriving incrementally would
    * let a late benchmark shard retroactively contaminate docs already
    * emitted — the cross-batch ordering trap the static registry
    * exists to close). Overwrite, not append: the registry is a
    * snapshot of the suite, not an accumulating sidecar. */
  def writeEvalGramSidecar(evalDocs: DataFrame, n: Int,
                           registryDir: String): Unit =
    graft.sources.Sinks.withDirLock(
      evalDocs.sparkSession, registryDir, "writeEvalGramSidecar") {
      distinctGrams(evalDocs, n).select("g").distinct()
        .sortWithinPartitions(col("g"))
        .write.mode("overwrite").parquet(registryDir)
    }

  /** Repetition quality signals per document (the Gopher repetition
    * filters): duplicate-word fraction, duplicate-bigram fraction and
    * top-word share. High values mean boilerplate / degenerate
    * repetition; callers threshold them into keep/drop decisions.
    *
    * The bigram stats are computed IN-ROW (arrays never leave the row)
    * and ride the word explode as grouping keys — they are
    * functionally dependent on doc_id, so the two-level aggregation
    * (doc×word counts, then per-doc) stays a single shuffle chain with
    * map-side partials and needs no join back.
    *
    * Contract: one output row per input row with non-null text, each a
    * function of that row alone. `doc_id` is carried, never used as a
    * key, so rows sharing a `doc_id` each keep their own row and
    * values; making `doc_id` unique is the caller's job.
    */
  def repetitionSignals(docs: DataFrame): DataFrame =
    docs.select(col("doc_id") +: repetitionSignalCols(col("text")): _*)
      .filter(col("__rs_ok")).drop("__rs_ok")
      .select(col("doc_id"), col("n_toks"), col("n_distinct"),
        ((col("n_toks") - col("n_distinct")).cast("double") / col("n_toks"))
          .as("dup_word_frac"),
        (col("top_cnt").cast("double") / col("n_toks")).as("top_word_share"),
        when(col("nb") === 0L, lit(0.0))
          .otherwise((col("nb") - col("nbd")).cast("double") / col("nb"))
          .as("dup_bigram_frac"))

  /** The repetition statistics as IN-ROW columns over a text column —
    * n_toks, n_distinct, top_cnt, nb, nbd (all long) plus the
    * `__rs_ok` row-membership flag (false exactly where the former
    * formulation's `explode` dropped the row: null text → null token
    * array).
    *
    * Through round 18 these stats ran as explode-every-word → two-level
    * aggregation → join-back: two corpus-token-sized shuffles plus a
    * doc-keyed join for values that are all FUNCTIONS OF ONE ROW. They
    * now come out of ONE fused byte-scan per row
    * ([[graft.functions.WordRepStats]] — codegen'd, zero-copy token
    * views, no sort, no lambda interpretation; two slower in-row
    * formulations were measured and rejected on the way here: HOF
    * `aggregate` with `element_at(sort_array(ts), i)` re-sorts per
    * element, +12 s on every consumer, and even the linear-walk HOF
    * form pays ~0.5 s per 5 k docs in interpreted lambda stepping).
    * Exact integer outputs, bit-identical ratio doubles (CurationSpec
    * pins the exploded formulation's values). Callers fuse the stats
    * into their existing scan projection: zero shuffles, zero joins,
    * embarrassingly parallel at any corpus size (guide §1.2: remove
    * passes before tuning them). The five `getField`s collapse to one
    * evaluation under whole-stage codegen's subexpression
    * elimination. */
  private[graft] def repetitionSignalCols(text: Column): Seq[Column] = {
    val stats = graft.functions.GraftFunctions.word_rep_stats(text)
    Seq(
      stats.getField("n_toks").as("n_toks"),
      stats.getField("n_distinct").as("n_distinct"),
      stats.getField("top_cnt").as("top_cnt"),
      stats.getField("nb").as("nb"),
      stats.getField("nbd").as("nbd"),
      text.isNotNull.as("__rs_ok"))
  }

  /** Tokenizer-vocabulary coverage: corpus word frequencies ranked
    * descending (word as the deterministic tiebreak) with cumulative
    * mass share — the table a BPE/vocab build reads to pick its cutoff
    * ("smallest vocab covering X of token mass").
    *
    * Scale (the default path): ONE count shuffle over the corpus
    * (map-side partials make that shuffle |vocab|-sized, not
    * |corpus|-sized), then a DISTRIBUTED global ranking — raw
    * space-split tokens over a web-scale crawl (URLs, typos, code) run
    * to billions of distinct strings, too many for a single-reducer
    * window. The vocabulary is range-repartitioned on the ranking key
    * (cnt DESC, w), ranked and mass-accumulated LOCALLY per partition,
    * and per-partition offsets (≤ shuffle-partitions rows — a bounded
    * driver-side computation, same class as the IVF centroid collect)
    * lift local ranks to exact global ones — the engine's reusable
    * [[Relational.globalRankAndRunningSum]]. No unpartitioned window
    * appears anywhere in the plan (asserted by CurationSpec); results
    * are byte-identical to the single-window formulation
    * ([[vocabCoverageSingleWindow]]) because range boundaries only
    * decide WHERE rows sit, never their global order. Cumulative sums
    * stay in exact longs; the only double is the final one-division
    * share. */
  def vocabCoverage(docs: DataFrame, coverage: Double = 0.95): DataFrame = {
    val wc = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val (ranked, total) = Relational.globalRankAndRunningSum(
      wc, Seq(col("cnt").desc, col("w")), col("cnt"), "rank", "cum")
    ranked.select(col("w"), col("cnt"), col("rank"),
      (col("cum").cast("double") / lit(total)).as("cum_share"),
      (col("cum").cast("double") / lit(total) <= coverage).as("in_vocab"))
  }

  /** Quality-budget cut: keep the HIGHEST-quality documents whose
    * cumulative token count fits a global budget — "give me the best
    * N tokens of this corpus", the final selection step after scoring
    * (q22), dedup, and mixing. Documents are ranked by
    * (quality desc, id) and survive while the running token total
    * stays within `budget`; the straddling document is dropped (strict
    * fit). The ranking runs through
    * [[Relational.globalRankAndRunningSum]] — range partitions +
    * local windows, no unpartitioned window — so the cut is one range
    * shuffle at any corpus size, and the exact-integer cumsum makes
    * the survivor set bit-deterministic at any parallelism.
    * Output = input columns + `cum_tokens` (the audit trail: the
    * last survivor's value is the spent budget). */
  def qualityBudgetCut(df: DataFrame, quality: Column, idCol: String,
                       nTokens: Column, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    val (ranked, _) = Relational.globalRankAndRunningSum(df,
      Seq(quality.desc, col(idCol)), nTokens, "__rank", "cum_tokens")
    ranked.drop("__rank").filter(col("cum_tokens") <= budget)
  }

  /** Single-window formulation of [[vocabCoverage]] — byte-identical
    * output, simpler plan; safe only when the vocabulary is known to
    * be bounded (one reducer ranks the whole vocab). Kept as the
    * reference semantics for the equivalence spec. */
  def vocabCoverageSingleWindow(docs: DataFrame,
      coverage: Double = 0.95): DataFrame = {
    val ord = Window.orderBy(col("cnt").desc, col("w"))
    docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"),
        row_number().over(ord).cast("long").as("rank"),
        sum(col("cnt")).over(ord.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("cum"),
        sum(col("cnt")).over(Window.partitionBy()).as("total"))
      .select(col("w"), col("cnt"), col("rank"),
        (col("cum").cast("double") / col("total")).as("cum_share"),
        (col("cum").cast("double") / col("total") <= coverage).as("in_vocab"))
  }

  /** Per-source document cap — "no domain dominates": keep at most
    * `cap` documents from each source, chosen as a DETERMINISTIC
    * uniform sample (md5(id|seed) order, id tiebreak) so the kept set
    * is a pure function of (id, seed) — reproducible across runs,
    * cluster sizes and engines, unlike rand()-ordered ranks. The
    * standard web-crawl curation step that stops one boilerplate-heavy
    * site from claiming a corpus-scale share of the training budget.
    *
    * Shape at scale: ONE shuffle on the source key. The rank ≤ cap
    * filter sits directly above the window, so Spark's
    * InferWindowGroupLimit inserts a PARTIAL group limit below the
    * exchange (asserted by CurationSpec): each map task forwards at
    * most `cap` rows per source it sees, so shuffle volume for a
    * hot source is cap × maps, not the source's row count — the
    * map-side-combine of ranking. Output keeps the input columns plus
    * `src_rank` (the audit trail: kept rows rank 1..cap within their
    * source).
    *
    * @param seed sampling seed; a new seed draws an independent cap
    *             sample (epoch rotation without touching the data) */
  def capPerSource(docs: DataFrame, sourceCol: String, idCol: String,
                   cap: Int, seed: Long = 42L,
                   rankCol: String = "src_rank"): DataFrame = {
    require(cap > 0, s"cap must be > 0, got $cap")
    val uk = md5(concat_ws("|", col(idCol).cast("string"),
      lit(seed.toString)))
    val w = Window.partitionBy(col(sourceCol)).orderBy(uk, col(idCol))
    docs.withColumn(rankCol, row_number().over(w).cast("long"))
      .filter(col(rankCol) <= cap)
  }

  /** Per-document token-rarity signals — the exact-arithmetic proxy
    * for the CCNet-style LM-perplexity quality filter: score every
    * document by how common its tokens are in THIS corpus. Degenerate
    * boilerplate scores high (`mean_cnt` — all high-frequency filler),
    * OCR noise / gibberish scores low (`min_cnt` = 1 means the doc
    * carries a hapax legomenon; a low mean means it is mostly rare
    * strings). Callers threshold both tails; unlike a perplexity
    * model there is no fitted state and every number is replayable
    * (exact longs; the one double is a single division, so the score
    * hash-matches cross-engine where log-prob scores cannot).
    *
    * Shape at scale: token occurrences NEVER ride a shuffle — the
    * first aggregation compresses them to (doc, token, count) rows
    * (map-side partials; output bounded by per-doc distinct tokens),
    * and everything downstream works on counts. That frame is
    * repartitioned ONCE on the token key and consumed twice — the
    * corpus-frequency rollup and the frequency join both read the
    * same exchange (ReusedExchange, asserted by CurationSpec under a
    * shuffle join; at broadcast-sized vocabularies AQE broadcasts the
    * frequency side instead, which is strictly cheaper), so the token
    * key is shuffled exactly once. A hot token ("the") lands at most
    * one row PER DOCUMENT on its reducer, not one per occurrence.
    * The per-doc rollup is the final |corpus|-keyed shuffle. The
    * vocabulary table is never collected — web-scale vocabularies
    * (URLs, typos, code) run to billions of distinct tokens.
    *
    * Output: id, `n_toks`, `sum_cnt` (Σ corpus count of each token
    * occurrence), `min_cnt` (count of the doc's rarest token),
    * `mean_cnt` = round(sum_cnt / n_toks, 6). */
  def tokenRarity(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  tokenizer: org.apache.spark.sql.Column =>
                    org.apache.spark.sql.Column =
                    TextAnalysis.tokens(_)): DataFrame = {
    val perDoc = docs.select(col(idCol),
        explode(tokenizer(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
      .repartition(col("w"))
    val tf = perDoc.groupBy(col("w")).agg(sum(col("c")).as("cnt"))
    perDoc.join(tf, Seq("w"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_toks"),
        sum(col("c") * col("cnt")).as("sum_cnt"),
        min(col("cnt")).as("min_cnt"))
      .withColumn("mean_cnt",
        round(col("sum_cnt").cast("double") / col("n_toks"), 6))
  }

  /** md5-derived hashed-n-gram bucket ids (unigrams + bigrams) as one
    * in-row array — the DSIR feature map. Hash collisions are part of
    * the METHOD here, not an implementation detail: DSIR's importance
    * estimates live in the hashed `numBuckets`-dimensional space by
    * construction (Xie et al. 2023 use exactly such hashed n-gram
    * features), so the md5-derived bucket — replayable by any engine —
    * is the canonical hash, not a slower stand-in for xxhash64. The
    * token array must be materialized by the caller's projection (the
    * [[TextAnalysis.wordNgrams]] CSE contract). */
  private def gramBuckets(toks: Column, numBuckets: Int): Column = {
    def buckets(grams: Column): Column = transform(grams,
      g => conv(substring(md5(g), 1, 15), 16, 10).cast("long") % numBuckets)
    concat(buckets(TextAnalysis.wordNgrams(toks, 1)),
      buckets(TextAnalysis.wordNgrams(toks, 2)))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): per-bucket
    * log-likelihood ratios `w[b] = ln(p_target[b] / p_raw[b])` of
    * add-one-smoothed hashed-n-gram distributions. A document's
    * importance score is then the sum of `w` over its gram
    * occurrences — the log importance weight of the doc under the
    * bag-of-hashed-n-grams model.
    *
    * Shape at scale: each corpus streams through scan → in-row gram
    * build → explode → ONE aggregation shuffle whose map-side combine
    * collapses to ≤ `numBuckets` rows per task, so the shuffle moves
    * ~buckets×partitions rows, never the corpus. The result is a
    * `numBuckets`-row table (every bucket id present — unseen buckets
    * get the smoothed default) meant to be BROADCAST to the scorer.
    *
    * Replayability: the ratio is computed as ONE `ln` of an
    * IEEE-exact double quotient and rounded to `roundTo` decimals
    * into a DECIMAL column, so per-doc score sums are exact,
    * order-independent, and cross-engine reproducible (the rounding
    * absorbs the ≤1-ulp `ln` difference between libm and the JVM). */
  def dsirWeights(target: DataFrame, raw: DataFrame,
                  textCol: String = "text", numBuckets: Int = 4096,
                  roundTo: Int = 6): DataFrame = {
    val spark = target.sparkSession
    def counts(df: DataFrame, as: String): DataFrame = df
      .select(TextAnalysis.tokens(col(textCol)).as("__ts"))
      .select(explode(gramBuckets(col("__ts"), numBuckets)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as(as))
    val t = counts(target, "nt")
    val r = counts(raw, "nr")
    // bounded 1-row totals ride a broadcast cross join (the means/flags
    // pattern), never a collect
    val totals = broadcast(t.agg(sum(col("nt")).as("tt"))
      .crossJoin(r.agg(sum(col("nr")).as("rt"))))
    spark.range(numBuckets).select(col("id").as("bucket"))
      .join(broadcast(t), Seq("bucket"), "left")
      .join(broadcast(r), Seq("bucket"), "left")
      .na.fill(0L, Seq("nt", "nr"))
      .crossJoin(totals)
      .select(col("bucket"),
        round(log(
          ((col("nt") + 1).cast("double") *
            (col("rt") + numBuckets).cast("double")) /
          ((col("nr") + 1).cast("double") *
            (col("tt") + numBuckets).cast("double"))), roundTo)
          .cast(s"decimal(18,$roundTo)").as("w"))
  }

  /** Per-document DSIR importance score: the exact DECIMAL sum of
    * [[dsirWeights]] entries over the doc's hashed-gram OCCURRENCES
    * (not distinct grams — frequency matters in the bag model). One
    * explode → broadcast join (the weight table is `numBuckets` rows)
    * → one doc_id aggregation whose map-side combine collapses each
    * doc to one partial per partition. Non-null `textCol` contract:
    * a null text drops out of the explode and the doc vanishes from
    * the output. */
  def dsirScore(docs: DataFrame, weights: DataFrame,
                idCol: String = "doc_id", textCol: String = "text",
                numBuckets: Int = 4096): DataFrame =
    docs.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__ts"))
      .select(col(idCol),
        explode(gramBuckets(col("__ts"), numBuckets)).as("bucket"))
      .join(broadcast(weights), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("w")).as("score"))

  /** DSIR selection via the Gumbel-top-k trick: adding independent
    * Gumbel(0,1) noise to each log-weight and taking the top `n` keys
    * draws an exact without-replacement sample proportional to the
    * importance weights — the paper's resampling step as one
    * deterministic `TakeOrdered(n)`, no sequential draws, no rejection
    * loop. The noise is a pure function of (id, seed): an md5-derived
    * uniform strictly inside (0,1) (the `+0.5` offset keeps both `ln`s
    * finite) through the inverse-CDF `-ln(-ln(u))`, rounded into the
    * same DECIMAL scale as the score so `sel_key = score + g` is
    * exact and any engine replays the selection bit-for-bit. */
  def dsirResample(docs: DataFrame, weights: DataFrame, n: Int,
                   idCol: String = "doc_id", textCol: String = "text",
                   numBuckets: Int = 4096, seed: Long = 42L,
                   roundTo: Int = 6): DataFrame = {
    val u = (conv(substring(md5(concat_ws("|", col(idCol), lit(seed))),
      1, 15), 16, 10).cast("double") + 0.5) / 1.152921504606847e18
    val g = round(-log(-log(u)), roundTo).cast(s"decimal(18,$roundTo)")
    dsirScore(docs, weights, idCol, textCol, numBuckets)
      .withColumn("sel_key", col("score") + g)
      .orderBy(col("sel_key").desc, col(idCol))
      .limit(n)
  }

  /** Append one batch's exact token counts to a persisted sidecar —
    * the INCREMENTAL form of [[tokenRarity]]'s corpus-frequency table,
    * in the HLL-sidecar discipline ([[Sketches.writeSketchSidecar]]):
    * exact long counts are ADDITIVE, so the merge is a lossless sum
    * and the merged table equals a from-scratch build over everything
    * ingested, however the appends were batched. Each append
    * is one batch-local aggregation (map-side combine; the shuffle
    * moves the batch's distinct tokens, not occurrences) written as
    * (w, cnt) rows; single writer per sidecar via the dir lock, like
    * every appender. `batchId` makes it exactly-once
    * ([[graft.sources.TaggedSidecar]]; replay key w, merge: sum of
    * cnt); CurationSpec's deliberate double-append proves counts no
    * longer inflate.
    *
    * `tokenizer` (round 18 — the token statistics reachable from the
    * multilingual path): the token stream being counted. Legacy
    * default is the whitespace split; [[TextAnalysis.tokensUnicode]]
    * counts PER-CHARACTER tokens for unsegmented CJK (under the
    * legacy split such a document contributes ONE pseudo-token to the
    * vocabulary — rarity statistics over it are garbage). The choice
    * must be FIXED per sidecar, and the read side
    * ([[tokenRarityAgainstSidecar]]) must pass the SAME tokenizer —
    * counts are counts OF the token stream, the (lo, hi, bins)-style
    * parameter contract. q230 hash-certifies the unicode pair. */
  def writeTokenCountSidecar(batch: DataFrame, textCol: String,
                             sidecarDir: String,
                             batchId: Option[String] = None,
                             tokenizer: org.apache.spark.sql.Column =>
                               org.apache.spark.sql.Column =
                               TextAnalysis.tokens(_)): Unit =
    TaggedSidecar.append(batch.sparkSession, sidecarDir, batchId,
        "writeTokenCountSidecar") {
      batch.select(explode(tokenizer(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    }

  private def sumCounts(counts: DataFrame): DataFrame =
    counts.groupBy(col("w")).agg(sum(col("cnt")).as("cnt"))

  /** Merged corpus token frequencies from a sidecar: one sum per
    * token over the appended partials (tagged replays collapsed
    * first). Output (w, cnt) — exactly the `tf` table [[tokenRarity]]
    * computes from raw text, without re-reading the corpus. */
  def mergedTokenCounts(spark: SparkSession, sidecarDir: String): DataFrame =
    sumCounts(TaggedSidecar.collapse(spark.read.parquet(sidecarDir), "w"))

  /** Many small appends → one summed row per token
    * ([[graft.sources.TaggedSidecar.compact]]). Counts are unchanged
    * by construction (additive). */
  def compactTokenCountSidecar(spark: SparkSession,
                               sidecarDir: String): Unit =
    TaggedSidecar.compact(spark, sidecarDir, Seq("w"),
      sortCol = Some("w"))(sumCounts)

  /** Score documents against a token-count SIDECAR instead of
    * re-aggregating the corpus — [[tokenRarity]] with the frequency
    * table read from `sidecarDir`. When the sidecar holds exactly the
    * corpus' counts the output is IDENTICAL to [[tokenRarity]] (q168
    * proves it against the DuckDB oracle); in the incremental setting
    * the sidecar is the running corpus-so-far, which is the
    * incremental semantic a rolling quality filter wants. Same scale
    * shape: the docs side compresses to (doc, token, count) before
    * the token-key join; the sidecar side is distinct tokens. */
  def tokenRarityAgainstSidecar(docs: DataFrame, sidecarDir: String,
                                idCol: String = "doc_id",
                                textCol: String = "text",
                                tokenizer: org.apache.spark.sql.Column =>
                                  org.apache.spark.sql.Column =
                                  TextAnalysis.tokens(_)): DataFrame = {
    val perDoc = docs.select(col(idCol),
        explode(tokenizer(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("c"))
    val tf = mergedTokenCounts(docs.sparkSession, sidecarDir)
    perDoc.join(tf, Seq("w"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_toks"),
        sum(col("c") * col("cnt")).as("sum_cnt"),
        min(col("cnt")).as("min_cnt"))
      .withColumn("mean_cnt",
        round(col("sum_cnt").cast("double") / col("n_toks"), 6))
  }

  /** Per-group percentile-rank normalization of a quality signal —
    * the calibration step BEFORE a global quality cut: raw scores are
    * not comparable across heterogeneous sources (a "good" forum post
    * and a "good" reference article live on different raw scales), so
    * thresholding raw scores per-corpus over- or under-prunes whole
    * sources. Mapping each row to its within-source percentile makes
    * one global `keep pct ≥ cut` cut take the same FRACTION from
    * every source — the standard cross-source quality-calibration
    * move (and the rank-based alternative to per-source z-scoring,
    * robust to heavy-tailed score distributions).
    *
    *   pct = (rank − 1)/(n_group − 1)   ∈ [0, 1]
    *
    * with rank = row_number ordered by (value, id) — the id tiebreak
    * makes ties deterministic and the whole mapping a pure function
    * of the data (hash-replayable, q200); a single-row group maps to
    * 1/2 by convention (CASE, not a 0/0). ONE IEEE division of exact
    * longs per row.
    *
    * Scale shape: one window per group (SortExec spills; the
    * parallelism floor is one task per group — acceptable when
    * groups are sources, which number in the thousands; for a
    * SINGLE giant group use the histogram-sidecar quantile family
    * (q170) to assign approximate percentiles in two broadcast
    * passes instead). The global cut is a per-row filter. */
  def percentileNormalize(df: DataFrame, groupCol: String,
                          valueCol: String, idCol: String,
                          keepAbove: Double = 0.0): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol), col(idCol))
    val cw = Window.partitionBy(col(groupCol))
    df.withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(cw))
      .withColumn("pct",
        when(col("__n") === 1L, lit(0.5)).otherwise(
          (col("__rn") - lit(1L)).cast("double") /
            (col("__n") - lit(1L)).cast("double")))
      .filter(col("pct") >= keepAbove)
      .drop("__rn", "__n")
  }

  /** PII redaction patterns (RE2-subset — no lookarounds — so an
    * external oracle can replicate them byte-for-byte). */
  val EmailPattern = "[a-z0-9.]+@[a-z0-9.]+"
  val PhonePattern = "[0-9]{3}-[0-9]{4}"

  /** Scrub emails and phone numbers from a text column, returning the
    * redacted text plus audit counts (how many of each were removed —
    * the numbers a compliance report wants). Pure per-row projection:
    * codegen'd regexes, no shuffle, scan-speed at any corpus size. */
  def piiRedact(text: Column): Seq[(String, Column)] = Seq(
    "n_email" -> regexp_count(text, lit(EmailPattern)).cast("long"),
    "n_phone" -> regexp_count(text, lit(PhonePattern)).cast("long"),
    "redacted" -> regexp_replace(
      regexp_replace(text, EmailPattern, "[EMAIL]"), PhonePattern, "[PHONE]"))

  /** Test-only fault-injection seam for [[curateBatch]]'s crash-
    * ordering contract: invoked with a window name at the two points
    * inside the write section where a process death would tear the
    * batch (after the packed sink append; after the sidecar append).
    * Production value is a no-op; the fault-injection spec swaps in a
    * thrower and restores it in a finally — the thrown exception
    * aborts the remaining writes exactly like a kill would, while
    * `Sinks.withDirLock` still releases the lock the way a crashed
    * holder's marker would be cleared with `breakDirLock`. */
  @volatile private[graft] var failpoint: String => Unit = _ => ()

  /** One batch of the composed curation pipeline (the one-shot form
    * is q131's `curationPipeline`):
    *
    *   near-dup sidecar dedup → per-row quality gate → per-source
    *   rolling token budget → packed-sequence append
    *
    * run incrementally, with all cross-batch state in three tiny
    * persisted tables under `pipelineDir`:
    *
    *  - `minhash/` — the near-dup signature sidecar
    *    ([[graft.ops.Dedup.writeMinhashSidecar]] layout);
    *  - `budget_state/` — (source, seen_tokens, seen_docs): the
    *    running quality-kept token AND document counts per source.
    *    Admission is prefix-by-arrival on BOTH: a row is admitted
    *    while the source's seen token total stays ≤ `tokensPerSource`
    *    AND its seen doc count stays ≤ `docsPerSource` (the
    *    incremental twin of [[capPerSource]]'s no-domain-dominates
    *    rule — arrival-order prefix instead of the one-shot op's
    *    seeded uniform sample, because an earlier batch cannot be
    *    un-admitted). Both counters include earlier REJECTED rows —
    *    the running-cum-≤-budget rule of the batch mixture stage,
    *    which is what makes incremental == one-shot;
    *  - `pack_state/` — the global token offset the next batch's
    *    packing continues from.
    *
    * Determinism contract: with batches arriving in `idCol` order
    * (a sorted landing zone — the same assumption the exact sidecar's
    * min-id survivor rule makes), processing N batches yields
    * BYTE-identical packed output and state to processing their union
    * as one batch (CurationSpec proves two-batch == one-shot).
    * Near-dups are dropped against the SIDECAR (corpus + earlier
    * batches); intra-batch near-dups are not collapsed (the documented
    * [[graft.ops.Dedup.nearDupAgainstSidecar]] contract) — compose a
    * batch-level clusterer upstream when that matters.
    *
    * Crash ordering (at-least-once replay), sink-first like every
    * incremental op here: packed rows append BEFORE the sidecar and
    * state writes. A crash before the sidecar append re-emits the
    * batch on replay (duplicate packed rows — recoverable); a crash
    * between the sidecar append and the state writes makes the replay
    * contribute zero survivors and leaves the states un-advanced, so
    * the NEXT batch's sequence positions overlap the crashed batch's
    * tail — duplicates/overlap, never silent loss; rebuild the packed
    * output from the corpus when exact positions matter. Single writer
    * per pipelineDir (enforced by the `.lock` marker). */
  private[graft] def curateBatch(batch: DataFrame, textCol: String,
      idCol: String, sourceCol: String, pipelineDir: String,
      shingleK: Int, numHashes: Int, bands: Int, nearDupThreshold: Double,
      minQuality: Double, tokensPerSource: Long, seqTokens: Long,
      docsPerSource: Long = Long.MaxValue): Unit = {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(pipelineDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))

    // stage 1: near-dup dedup against the persisted sidecar (survivors
    // are checkpointed inside; signatures append LATER — sink-first)
    val surv = graft.ops.Dedup.nearDupAgainstSidecar(batch, textCol, idCol,
      s"$pipelineDir/minhash", shingleK, numHashes, bands,
      nearDupThreshold, appendSurvivors = false)

    // stage 2: per-row quality gate (pure projection — no state)
    val kept = surv
      .filter(graft.ops.TextAnalysis.qualityScore(col(textCol)) >= minQuality)
      .withColumn("__n_toks",
        graft.ops.TextAnalysis.tokenCount(col(textCol)).cast("long"))

    // stage 3: per-source rolling budget AND doc cap. Prior =
    // quality-kept tokens/docs SEEN so far (admitted or not — the
    // batch mixture stage's running-cum rule); within the batch both
    // cums order by id on the SAME window.
    val budgetDir = s"$pipelineDir/budget_state"
    val prior0 =
      if (exists(budgetDir)) spark.read.parquet(budgetDir)
      else kept.select(col(sourceCol)).limit(0)
        .withColumn("seen_tokens", lit(0L))
        .withColumn("seen_docs", lit(0L))
    // pre-doc-cap state dirs lack seen_docs; treat as zero
    val prior =
      if (prior0.columns.contains("seen_docs")) prior0
      else prior0.withColumn("seen_docs", lit(0L))
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(col(idCol))
    val cumFrame = wSrc.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val withCum = kept
      .withColumn("__cum", sum(col("__n_toks")).over(cumFrame))
      .withColumn("__rn", row_number().over(wSrc).cast("long"))
    val admitted = withCum
      .join(broadcast(prior.withColumnRenamed(sourceCol, "__psrc")
        .withColumnRenamed("seen_tokens", "__prior")
        .withColumnRenamed("seen_docs", "__prior_docs")),
        col(sourceCol) === col("__psrc"), "left_outer")
      .withColumn("__prior", coalesce(col("__prior"), lit(0L)))
      .withColumn("__prior_docs", coalesce(col("__prior_docs"), lit(0L)))
      .filter(col("__prior") + col("__cum") <= tokensPerSource &&
        col("__prior_docs") + col("__rn") <= docsPerSource)
      .drop("__psrc", "__cum", "__rn", "__prior_docs")

    // stage 4: sequence packing continuing from the persisted offset
    val packDir = s"$pipelineDir/pack_state"
    val offset =
      if (exists(packDir))
        spark.read.parquet(packDir).head().getLong(0)
      else 0L
    val packed = graft.ops.Relational.packSequences(
        admitted.select(col(idCol), col(sourceCol), col("__n_toks")),
        order = Seq(col(idCol)), nTokens = col("__n_toks"),
        seqTokens = seqTokens)
      .withColumn("cum_tokens", col("cum_tokens") + lit(offset))
      .withColumn("start_seq", expr(s"(cum_tokens - n_toks) DIV $seqTokens"))
      .withColumn("start_offset", expr(s"(cum_tokens - n_toks) % $seqTokens"))
      .withColumn("end_seq", expr(s"(cum_tokens - 1) DIV $seqTokens"))
      .select(col(idCol), col(sourceCol), col("n_toks"), col("cum_tokens"),
        col("start_seq"), col("start_offset"), col("end_seq"))
      .localCheckpoint(true)
    val batchSeen = kept.groupBy(col(sourceCol))
      .agg(sum(col("__n_toks")).as("__batch_seen"),
        count(lit(1)).as("__batch_docs"))
    val newState = prior
      .join(batchSeen, Seq(sourceCol), "full_outer")
      .select(col(sourceCol),
        (coalesce(col("seen_tokens"), lit(0L)) +
          coalesce(col("__batch_seen"), lit(0L))).as("seen_tokens"),
        (coalesce(col("seen_docs"), lit(0L)) +
          coalesce(col("__batch_docs"), lit(0L))).as("seen_docs"))
      .localCheckpoint(true)
    val admittedTokens = packed.agg(coalesce(sum(col("n_toks")), lit(0L)))
      .head().getLong(0)

    // writes, sink-first (see crash ordering above), under the
    // pipeline-dir lock: the sidecar append's own lock covers only the
    // minhash tables — the budget/pack state files need the same
    // single-writer enforcement (a second concurrent pipeline would
    // silently double-admit budgets and overlap sequence positions)
    graft.sources.Sinks.withDirLock(spark, pipelineDir, "curateBatch") {
      packed.write.mode("append").parquet(s"$pipelineDir/packed")
      failpoint("curateBatch:after-packed-append")
      graft.ops.Dedup.writeMinhashSidecar(surv, textCol, idCol,
        s"$pipelineDir/minhash", shingleK, numHashes, bands)
      failpoint("curateBatch:after-sidecar-append")
      newState.coalesce(1).write.mode("overwrite").parquet(budgetDir)
      import spark.implicits._
      Seq(offset + admittedTokens).toDF("next_offset")
        .coalesce(1).write.mode("overwrite").parquet(packDir)
    }
    ()
  }
}
