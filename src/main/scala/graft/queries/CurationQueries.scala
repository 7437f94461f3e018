package graft.queries

import graft.QueryDef
import graft.ops.{Curation, CurationPipeline, LinearProbe, Relational, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Round-4 corpus-curation queries: benchmark decontamination,
  * repetition quality signals, PII redaction, tokenizer vocabulary
  * coverage, and an event funnel. All five carry DuckDB oracles.
  */
object CurationQueries {

  /** Benchmark decontamination (exact 3-gram overlap): docs with
    * `doc_id % 19 = 0` stand in for the held-out benchmark; every
    * other doc reports what fraction of its distinct word 3-grams
    * leak from that set. 3-grams (not the production 8) because the
    * synthetic corpus draws from a ~30-word vocabulary — real text
    * would pin 8. Eval grams broadcast; ONE shuffle (the per-doc agg). */
  val q113Decontam = QueryDef(
    "q113_decontam",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |), grams AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |      generate_series(1, len(ts) - 2),
      |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS g
      |  FROM toks WHERE len(ts) >= 3
      |), eval_g AS (
      |  SELECT DISTINCT g FROM grams WHERE doc_id % 19 = 0
      |), hits AS (
      |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
      |         CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_hit
      |  FROM grams t LEFT JOIN eval_g e ON t.g = e.g
      |  WHERE t.doc_id % 19 <> 0
      |  GROUP BY t.doc_id
      |)
      |SELECT doc_id, n_grams, n_hit,
      |       CAST(n_hit AS DOUBLE) / n_grams AS contamination,
      |       CAST(n_hit AS DOUBLE) / n_grams >= 0.05 AS contaminated
      |FROM hits ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    Curation.decontaminate(
        train = docs.filter(col("doc_id") % 19 =!= 0),
        evalDocs = docs.filter(col("doc_id") % 19 === 0),
        n = 3, threshold = 0.05)
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition signals: duplicate-word fraction,
    * top-word share, duplicate-bigram fraction per document. Bigram
    * stats ride in-row; one shuffle chain (doc×word then doc). */
  val q114Repetition = QueryDef(
    "q114_repetition",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |), br AS (
      |  SELECT doc_id, ts,
      |    CAST(len(list_transform(generate_series(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i+1])) AS BIGINT) AS nb,
      |    CAST(len(list_distinct(list_transform(generate_series(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i+1]))) AS BIGINT) AS nbd
      |  FROM toks
      |), ex AS (
      |  SELECT doc_id, nb, nbd, unnest(ts) AS w FROM br
      |), wc AS (
      |  SELECT doc_id, nb, nbd, w, CAST(count(*) AS BIGINT) AS c
      |  FROM ex GROUP BY 1, 2, 3, 4
      |), agg AS (
      |  SELECT doc_id, nb, nbd, CAST(sum(c) AS BIGINT) AS n_toks,
      |         CAST(count(*) AS BIGINT) AS n_distinct, max(c) AS top_cnt
      |  FROM wc GROUP BY 1, 2, 3
      |)
      |SELECT doc_id, n_toks, n_distinct,
      |  CAST(n_toks - n_distinct AS DOUBLE) / n_toks AS dup_word_frac,
      |  CAST(top_cnt AS DOUBLE) / n_toks AS top_word_share,
      |  CASE WHEN nb = 0 THEN 0.0
      |       ELSE CAST(nb - nbd AS DOUBLE) / nb END AS dup_bigram_frac
      |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
    Curation.repetitionSignals(Tables.documents(s, d)).orderBy(col("doc_id"))
  }

  /** PII redaction audit: a deterministic contact blob is synthesized
    * from customer fields (the slimmed testdata schema carries no real
    * phone/comment columns), then emails and phone numbers are
    * scrubbed and counted. Every step is a codegen'd per-row
    * projection — scan-speed at any scale; the redacted text leaves as
    * md5 (compact, still proves byte equality). One in three
    * customers has no phone so the audit counts actually vary. */
  val q115PiiScrub = QueryDef(
    "q115_pii_scrub",
    """WITH t AS (
      |  SELECT c_custkey,
      |    c_name || ' reachable at ' || replace(lower(c_name), '#', '.')
      |      || '@example.com'
      |      || CASE WHEN c_custkey % 3 = 0 THEN ''
      |              ELSE ' or ' || lpad(CAST((c_custkey * 7919) % 1000
      |                     AS VARCHAR), 3, '0')
      |                   || '-' || lpad(CAST((c_custkey * 104729) % 10000
      |                     AS VARCHAR), 4, '0') END
      |      || ' segment ' || c_mktsegment AS blob
      |  FROM customer
      |)
      |SELECT c_custkey,
      |  CAST(len(regexp_extract_all(blob, '[a-z0-9.]+@[a-z0-9.]+')) AS BIGINT)
      |    AS n_email,
      |  CAST(len(regexp_extract_all(blob, '[0-9]{3}-[0-9]{4}')) AS BIGINT)
      |    AS n_phone,
      |  md5(regexp_replace(regexp_replace(blob,
      |    '[a-z0-9.]+@[a-z0-9.]+', '[EMAIL]', 'g'),
      |    '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS redacted_md5
      |FROM t ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val phone = concat(
      lpad(((col("c_custkey") * 7919) % 1000).cast("string"), 3, "0"),
      lit("-"),
      lpad(((col("c_custkey") * 104729) % 10000).cast("string"), 4, "0"))
    val blob = concat(
      col("c_name"), lit(" reachable at "),
      regexp_replace(lower(col("c_name")), "#", "."), lit("@example.com"),
      when(col("c_custkey") % 3 === 0, lit(""))
        .otherwise(concat(lit(" or "), phone)),
      lit(" segment "), col("c_mktsegment"))
    val audited = Curation.piiRedact(blob)
    Tables.customer(s, d)
      .select(col("c_custkey") +: audited.map { case (n, c) => c.as(n) }: _*)
      .select(col("c_custkey"), col("n_email"), col("n_phone"),
        md5(col("redacted").cast("binary")).as("redacted_md5"))
      .orderBy(col("c_custkey"))
  }

  /** Tokenizer vocabulary coverage: frequency-ranked words with
    * cumulative token-mass share and the 95%-coverage vocab cut. The
    * ranking window runs over the VOCABULARY (post-agg, tiny), never
    * the corpus. */
  val q116VocabCoverage = QueryDef(
    "q116_vocab_coverage",
    """WITH ex AS (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
      |), wc AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM ex GROUP BY 1
      |), r AS (
      |  SELECT w, cnt,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS BIGINT) AS rnk,
      |    CAST(SUM(cnt) OVER (ORDER BY cnt DESC, w
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
      |    CAST(SUM(cnt) OVER () AS BIGINT) AS total
      |  FROM wc
      |)
      |SELECT w, cnt, rnk, CAST(cum AS DOUBLE) / total AS cum_share,
      |  CAST(cum AS DOUBLE) / total <= 0.95 AS in_vocab
      |FROM r ORDER BY rnk""".stripMargin) { (s, d) =>
    Curation.vocabCoverage(Tables.documents(s, d), coverage = 0.95)
      .withColumnRenamed("rank", "rnk")
      .orderBy(col("rnk"))
  }

  /** Ordered event funnel on first occurrences: view → click →
    * purchase, sequenced by per-user min timestamps. One per-user
    * aggregation shuffle; the final rollup is a single row.
    * Timestamps are compared, never emitted (ns→µs parity). */
  val q117Funnel = QueryDef(
    "q117_funnel",
    """WITH m AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
      |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      |  FROM events GROUP BY 1
      |), a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_view,
      |    CAST(sum(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_view_click,
      |    CAST(sum(CASE WHEN t_purchase > t_click AND t_click > t_view
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_funnel
      |  FROM m
      |)
      |SELECT n_users, n_view, n_view_click, n_funnel,
      |  CASE WHEN n_view = 0 THEN 0.0
      |       ELSE CAST(n_view_click AS DOUBLE) / n_view END AS conv_click,
      |  CASE WHEN n_view_click = 0 THEN 0.0
      |       ELSE CAST(n_funnel AS DOUBLE) / n_view_click END AS conv_purchase
      |FROM a""".stripMargin) { (s, d) =>
    val m = Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    m.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("t_view").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("t_click") > col("t_view"), 1L).otherwise(0L))
          .as("n_view_click"),
        sum(when(col("t_purchase") > col("t_click") &&
          col("t_click") > col("t_view"), 1L).otherwise(0L)).as("n_funnel"))
      .select(col("n_users"), col("n_view"), col("n_view_click"),
        col("n_funnel"),
        when(col("n_view") === 0L, lit(0.0))
          .otherwise(col("n_view_click").cast("double") / col("n_view"))
          .as("conv_click"),
        when(col("n_view_click") === 0L, lit(0.0))
          .otherwise(col("n_funnel").cast("double") / col("n_view_click"))
          .as("conv_purchase"))
  }

  /** Temperature-based source mixing (the data-mixture step of a
    * training run): per-source token counts reweighted by α=0.5
    * (sqrt), i.e. upsample small sources, downsample giants. The
    * sqrt goes through floor-to-long (integer sqrt) so the weight
    * denominator is an EXACT long sum — order-independent at any
    * cluster size, where a sum of raw doubles would drift an ulp per
    * merge order. Weight + a 1M-token budget per source are then
    * single IEEE ops on exact longs (cross-engine bit parity). */
  val q118MixtureWeights = QueryDef(
    "q118_mixture_weights",
    """WITH src AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1
      |), w AS (
      |  SELECT source, n_docs, n_tokens,
      |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS iw
      |  FROM src
      |)
      |SELECT source, n_docs, n_tokens,
      |  CAST(iw AS DOUBLE) / CAST(SUM(iw) OVER () AS DOUBLE) AS weight,
      |  CAST(floor(1000000 * (CAST(iw AS DOUBLE)
      |    / CAST(SUM(iw) OVER () AS DOUBLE))) AS BIGINT) AS token_budget
      |FROM w ORDER BY source""".stripMargin) { (s, d) =>
    val toks = TextAnalysis.tokens(col("text"))
    val src = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks).cast("long")).as("n_tokens"))
      .withColumn("iw",
        floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val total = org.apache.spark.sql.expressions.Window.partitionBy()
    val weight = col("iw").cast("double") /
      sum(col("iw")).over(total).cast("double")
    src.select(col("source"), col("n_docs"), col("n_tokens"),
        weight.as("weight"),
        floor(lit(1000000) * weight).cast("long").as("token_budget"))
      .orderBy(col("source"))
  }

  /** Per-source curation report: the composed keep/drop funnel a
    * corpus owner reads before a training run — decontamination,
    * repetition and length gates joined per document, rolled up per
    * source. One plan: decontam's broadcast join + agg, repetition's
    * agg chain, two doc_id joins (co-partitioned), final source
    * rollup. Thresholds sit at points where the synthetic corpus
    * actually varies (see CurationSpec for the flag semantics). */
  val q119CurationReport = QueryDef(
    "q119_curation_report",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |), grams AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |      generate_series(1, len(ts) - 2),
      |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS g
      |  FROM toks WHERE len(ts) >= 3
      |), eval_g AS (
      |  SELECT DISTINCT g FROM grams WHERE doc_id % 19 = 0
      |), contam AS (
      |  SELECT t.doc_id,
      |    CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |      / count(*) >= 0.08 AS contaminated
      |  FROM grams t LEFT JOIN eval_g e ON t.g = e.g
      |  GROUP BY t.doc_id
      |), rep AS (
      |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_toks,
      |    CASE WHEN len(ts) < 2 THEN false
      |      ELSE CAST(len(list_transform(generate_series(1, len(ts) - 1),
      |             i -> ts[i] || ' ' || ts[i+1]))
      |         - len(list_distinct(list_transform(generate_series(1, len(ts) - 1),
      |             i -> ts[i] || ' ' || ts[i+1]))) AS DOUBLE)
      |        / len(list_transform(generate_series(1, len(ts) - 1),
      |             i -> ts[i] || ' ' || ts[i+1])) >= 0.05 END AS repetitive
      |  FROM toks
      |)
      |SELECT d.source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN coalesce(c.contaminated, false) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_contaminated,
      |  CAST(sum(CASE WHEN r.repetitive THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_repetitive,
      |  CAST(sum(CASE WHEN r.n_toks < 25 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_short,
      |  CAST(sum(CASE WHEN NOT coalesce(c.contaminated, false)
      |    AND NOT r.repetitive AND r.n_toks >= 25 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_kept
      |FROM documents d
      |JOIN rep r ON d.doc_id = r.doc_id
      |LEFT JOIN contam c ON d.doc_id = c.doc_id
      |WHERE d.doc_id % 19 <> 0
      |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    // contamination over ALL docs vs the eval set (q113 audits only
    // the train split; the report wants every doc flagged, then
    // excludes the eval docs themselves from the rollup)
    val contam = Curation.decontaminate(docs, docs.filter(col("doc_id") % 19 === 0),
        n = 3, threshold = 0.08)
      .select(col("doc_id"), col("contaminated"))
    // repetition stats fused into the rollup's own projection
    // (optimization round 19): one scan, no doc-keyed rep join; the
    // `__rs_ok` filter preserves the old inner join's row membership
    docs.filter(col("doc_id") % 19 =!= 0)
      .select(Seq(col("doc_id"), col("source")) ++
        Curation.repetitionSignalCols(col("text")): _*)
      .filter(col("__rs_ok"))
      .withColumn("repetitive",
        when(col("nb") === 0L, lit(0.0))
          .otherwise((col("nb") - col("nbd")).cast("double") / col("nb"))
          >= 0.05)
      .select(col("doc_id"), col("source"), col("n_toks"), col("repetitive"))
      .join(contam, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(coalesce(col("contaminated"), lit(false)), 1L).otherwise(0L))
          .as("n_contaminated"),
        sum(when(col("repetitive"), 1L).otherwise(0L)).as("n_repetitive"),
        sum(when(col("n_toks") < 25L, 1L).otherwise(0L)).as("n_short"),
        sum(when(!coalesce(col("contaminated"), lit(false)) &&
          !col("repetitive") && col("n_toks") >= 25L, 1L).otherwise(0L))
          .as("n_kept"))
      .orderBy(col("source"))
  }

  /** Round-11: per-source percentile-rank quality calibration
    * ([[Curation.percentileNormalize]]) — raw quality scores are not
    * comparable across heterogeneous sources, so the global cut runs
    * on within-source percentiles: keep pct ≥ 0.5 takes the top half
    * of EVERY source. pct = (rank−1)/(n−1), one IEEE division of
    * exact longs with a deterministic (value, id) tiebreak — every
    * kept row and its pct hash-replay. */
  val q200PercentileNorm = QueryDef(
    "q200_percentile_norm",
    """WITH r AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, source, n_chars,
      |    CASE WHEN n = 1 THEN 0.5
      |         ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS pct
      |  FROM r)
      |SELECT doc_id, source, n_chars, pct FROM p
      |WHERE pct >= 0.5 ORDER BY doc_id""".stripMargin) { (s, d) =>
    Curation.percentileNormalize(
        Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        groupCol = "source", valueCol = "n_chars", idCol = "doc_id",
        keepAbove = 0.5)
      .select(col("doc_id"), col("source"), col("n_chars"), col("pct"))
      .orderBy(col("doc_id"))
  }

  /** Round-12: the composed quality-signal FEATURE TABLE — the wide
    * (doc, features…) frame a fastText-class quality classifier
    * trains on, joining every independently-oracled per-doc signal
    * the engine computes into ONE plan: q22's heuristic quality
    * ratios, q114's Gopher repetition signals, q151's token rarity,
    * q194's bigram coherence, q196's LM cross-entropy, and q200's
    * within-source percentile calibration (over the stored n_chars,
    * exactly q200's semantics; the q22-derived n_chars column is
    * length(text) as always). The q131-style composition proof: each
    * stage is already hash-oracled alone, so the oracle here is the
    * CTE chain of the component SQLs and the hash certifies they
    * compose without interference.
    *
    * Coverage contract: one row per document with ≥ 2 tokens (the
    * coherence/LM features need a bigram; sub-2-token docs carry no
    * usable quality evidence and fail any length cut anyway) — inner
    * joins throughout, so no nullable feature columns reach the
    * output. All joins are doc-keyed equality joins; each signal's
    * internal shape (occurrence compression, map-side combine,
    * broadcast 1-row totals) is unchanged from its standalone query,
    * and the feature assembly adds only doc-keyed hash joins — the
    * whole table is one DAG, no driver round-trips
    * (PlanQualitySpec pins the shuffle budget). */
  val q209QualityFeatures = QueryDef(
    "q209_quality_features",
    """WITH fq AS (
      |  SELECT doc_id, source, n_chars, n_tokens,
      |    CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens AS mean_tok_len,
      |    CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |    (CASE WHEN n_tokens / 20.0 < 1.0 THEN n_tokens / 20.0 ELSE 1.0 END)
      |      * (CASE WHEN CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens
      |               BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END)
      |      * (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens
      |               BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) AS quality
      |  FROM (
      |    SELECT doc_id, source, length(text) AS n_chars,
      |      len(string_split(text, ' ')) AS n_tokens,
      |      len(list_filter(string_split(text, ' '),
      |          t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop
      |    FROM documents)
      |), rtoks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |), rbr AS (
      |  SELECT doc_id, ts,
      |    CAST(len(list_transform(generate_series(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i+1])) AS BIGINT) AS nb,
      |    CAST(len(list_distinct(list_transform(generate_series(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i+1]))) AS BIGINT) AS nbd
      |  FROM rtoks
      |), rex AS (
      |  SELECT doc_id, nb, nbd, unnest(ts) AS w FROM rbr
      |), rwc AS (
      |  SELECT doc_id, nb, nbd, w, CAST(count(*) AS BIGINT) AS c
      |  FROM rex GROUP BY 1, 2, 3, 4
      |), ragg AS (
      |  SELECT doc_id, nb, nbd, CAST(sum(c) AS BIGINT) AS n_toks,
      |         CAST(count(*) AS BIGINT) AS n_distinct, max(c) AS top_cnt
      |  FROM rwc GROUP BY 1, 2, 3
      |), frep AS (
      |  SELECT doc_id,
      |    CAST(n_toks - n_distinct AS DOUBLE) / n_toks AS dup_word_frac,
      |    CAST(top_cnt AS DOUBLE) / n_toks AS top_word_share,
      |    CASE WHEN nb = 0 THEN 0.0
      |         ELSE CAST(nb - nbd AS DOUBLE) / nb END AS dup_bigram_frac
      |  FROM ragg
      |), ktoks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |), ktf AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM ktoks GROUP BY w
      |), frar AS (
      |  SELECT t.doc_id, min(f.cnt) AS min_cnt,
      |         round(CAST(sum(f.cnt) AS DOUBLE) / count(*), 6) AS mean_cnt
      |  FROM ktoks t JOIN ktf f ON t.w = f.w GROUP BY t.doc_id
      |), ct0 AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |), ccu AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cw
      |  FROM (SELECT unnest(ts) AS w FROM ct0) GROUP BY w
      |), cbg0 AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts) - 1),
      |    i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS b
      |  FROM ct0 WHERE len(ts) >= 2
      |), cdbg AS (
      |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS k
      |  FROM cbg0 GROUP BY 1, 2, 3
      |), ccbg AS (
      |  SELECT w1, w2, CAST(sum(k) AS BIGINT) AS cb FROM cdbg GROUP BY 1, 2
      |), cagg AS (
      |  SELECT d.doc_id, CAST(sum(d.k) AS BIGINT) AS n_pairs,
      |    CAST(sum(CASE WHEN c.cb >= 3 THEN d.k ELSE 0 END) AS BIGINT)
      |      AS supported_pairs,
      |    sum(CAST(d.k AS HUGEINT) * c.cb) AS sum_bg
      |  FROM cdbg d JOIN ccbg c ON d.w1 = c.w1 AND d.w2 = c.w2 GROUP BY 1
      |), cug AS (
      |  SELECT d.doc_id, sum(CAST(d.k1 AS HUGEINT) * u.cw) AS sum_ug
      |  FROM (SELECT doc_id, w1, CAST(sum(k) AS BIGINT) AS k1
      |        FROM cdbg GROUP BY 1, 2) d
      |  JOIN ccu u ON u.w = d.w1 GROUP BY 1
      |), fcoh AS (
      |  SELECT a.doc_id,
      |    CAST(a.supported_pairs AS DOUBLE) / a.n_pairs AS support_ratio,
      |    CAST(a.sum_bg AS DOUBLE) / CAST(g.sum_ug AS DOUBLE) AS cond_ratio
      |  FROM cagg a JOIN cug g ON g.doc_id = a.doc_id
      |), est AS (
      |  SELECT w1, CAST(sum(cb) AS BIGINT) AS c1,
      |         CAST(count(*) AS BIGINT) AS n_succ FROM ccbg GROUP BY 1
      |), ect AS (
      |  SELECT w2, CAST(count(*) AS BIGINT) AS n_prec FROM ccbg GROUP BY 1
      |), ety AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_types FROM ccbg
      |), elm AS (
      |  SELECT ccbg.w1, ccbg.w2,
      |    CAST(round(ln(
      |      CAST(4 * ccbg.cb - 3 AS DOUBLE) / CAST(4 * est.c1 AS DOUBLE)
      |      + (CAST(3 * est.n_succ AS DOUBLE) / CAST(4 * est.c1 AS DOUBLE))
      |        * (CAST(ect.n_prec AS DOUBLE) / CAST(ety.n_types AS DOUBLE))), 6)
      |      AS DECIMAL(18,6)) AS logp
      |  FROM ccbg JOIN est USING (w1) JOIN ect USING (w2), ety
      |), eagg AS (
      |  SELECT d.doc_id, CAST(sum(d.k) AS BIGINT) AS n_pairs,
      |    sum(CAST(d.k AS DECIMAL(20,0)) * elm.logp) AS sum_logp
      |  FROM cdbg d JOIN elm ON elm.w1 = d.w1 AND elm.w2 = d.w2 GROUP BY 1
      |), fce AS (
      |  SELECT doc_id,
      |    CAST(-sum_logp AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS cross_entropy
      |  FROM eagg
      |), pr AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
      |  FROM documents
      |), fpct AS (
      |  SELECT doc_id,
      |    CASE WHEN n = 1 THEN 0.5
      |         ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS len_pct
      |  FROM pr
      |)
      |SELECT fq.doc_id, fq.source, fq.n_chars, fq.n_tokens, fq.mean_tok_len,
      |  fq.stop_ratio, fq.quality,
      |  frep.dup_word_frac, frep.top_word_share, frep.dup_bigram_frac,
      |  frar.min_cnt, frar.mean_cnt,
      |  fcoh.support_ratio, fcoh.cond_ratio,
      |  fce.cross_entropy, fpct.len_pct
      |FROM fq JOIN frep USING (doc_id) JOIN frar USING (doc_id)
      |JOIN fcoh USING (doc_id) JOIN fce USING (doc_id) JOIN fpct USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val t = col("text")
    val nTokens = TextAnalysis.tokenCount(t)
    val nChars = length(t)
    val nStop = TextAnalysis.stopwordCount(t)
    val meanTokLen = (nChars - nTokens + 1).cast("double") / nTokens
    val stopRatio = nStop.cast("double") / nTokens
    val lenOk = least(nTokens / 20.0, lit(1.0))
    val tokOk = when(meanTokLen.between(2.0, 12.0), 1.0).otherwise(0.3)
    val stopOk = when(stopRatio.between(0.01, 0.6), 1.0).otherwise(0.5)
    // repetition ratios fused into the base projection (optimization
    // round 19 — [[Curation.repetitionSignalCols]]'s one-scan stats:
    // the explode → two-level agg → doc-keyed join they rode is gone);
    // membership identical (the old inner join dropped exactly the
    // __rs_ok = false rows)
    val base = docs.select(Seq(col("doc_id"), col("source"),
      nChars.as("n_chars"), nTokens.as("n_tokens"),
      meanTokLen.as("mean_tok_len"), stopRatio.as("stop_ratio"),
      (lenOk * tokOk * stopOk).as("quality")) ++
      Curation.repetitionSignalCols(t): _*)
      .filter(col("__rs_ok"))
      .withColumn("dup_word_frac",
        (col("n_toks") - col("n_distinct")).cast("double") / col("n_toks"))
      .withColumn("top_word_share",
        col("top_cnt").cast("double") / col("n_toks"))
      .withColumn("dup_bigram_frac",
        when(col("nb") === 0L, lit(0.0))
          .otherwise((col("nb") - col("nbd")).cast("double") / col("nb")))
      .drop("n_toks", "n_distinct", "top_cnt", "nb", "nbd", "__rs_ok")
    val rar = Curation.tokenRarity(docs)
      .select(col("doc_id"), col("min_cnt"), col("mean_cnt"))
    val coh = TextAnalysis.bigramCoherence(docs, "doc_id", "text")
      .select(col("doc_id"), col("support_ratio"), col("cond_ratio"))
    val ce = TextAnalysis.lmCrossEntropy(docs, "doc_id", "text")
      .select(col("doc_id"), col("cross_entropy"))
    val pct = Curation.percentileNormalize(
        docs.select(col("doc_id"), col("source"), col("n_chars")),
        groupCol = "source", valueCol = "n_chars", idCol = "doc_id",
        keepAbove = 0.0)
      .select(col("doc_id"), col("pct").as("len_pct"))
    base.join(rar, "doc_id").join(coh, "doc_id")
      .join(ce, "doc_id").join(pct, "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Shared feature+fit+score chain for q210/q211: six of q209's
    * ratio signals (all in [0,1] — the LinearProbe convergence
    * contract) scaled to exact longs, ONE Gram aggregation to the
    * driver, 24 exact integer GD iterations at lr=1/4, one scoring
    * projection. The scaled feature frame is DISK_ONLY-checkpointed
    * once (data-sized, read by both the Gram job and the scoring
    * job). Weak label: lang = 'en' (the CCNet move — target-language
    * docs as positives). */
  /** The un-checkpointed probe feature plan — exposed separately so
    * PlanQualitySpec can pin the pre-materialization plan shape (the
    * checkpointed frame's plan is an opaque RDD scan). */
  private[graft] def probeScaledLazy(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val t = col("text")
    val nTokens = TextAnalysis.tokenCount(t)
    val nChars = length(t)
    val nStop = TextAnalysis.stopwordCount(t)
    val meanTokLen = (nChars - nTokens + 1).cast("double") / nTokens
    val stopRatio = nStop.cast("double") / nTokens
    val lenOk = least(nTokens / 20.0, lit(1.0))
    val tokOk = when(meanTokLen.between(2.0, 12.0), 1.0).otherwise(0.3)
    val stopOk = when(stopRatio.between(0.01, 0.6), 1.0).otherwise(0.5)
    // ONE projection computes the weak label, the quality product AND
    // the repetition statistics (optimization round 19 — the r18
    // label-fusion move finished: repetition stats are per-row
    // functions too, [[Curation.repetitionSignalCols]], so the
    // explode → two-level agg → join-back chain they rode is gone),
    // and the length percentile runs as a window OVER THIS SAME FRAME
    // instead of a separate 3-column frame joined back on doc_id.
    // The whole feature derivation is now scan → project → one
    // source-partitioned exchange (the percentile window) → scaled
    // projection: zero joins, zero explodes — was 2 corpus-token
    // shuffles + 2 doc-keyed joins. Values bit-identical (exact
    // integer stats, same ratio arithmetic, same window order); the
    // window ranks BEFORE the membership filter, exactly the rows the
    // joined formulation ranked.
    val base = docs.select(Seq(col("doc_id"), col("source"), col("n_chars"),
      stopRatio.as("stop_ratio"), (lenOk * tokOk * stopOk).as("quality"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y")) ++
      Curation.repetitionSignalCols(t): _*)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    val cw = Window.partitionBy(col("source"))
    val feats = base
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(cw))
      .withColumn("len_pct",
        when(col("__n") === 1L, lit(0.5)).otherwise(
          (col("__rn") - lit(1L)).cast("double") /
            (col("__n") - lit(1L)).cast("double")))
      .filter(col("__rs_ok"))
      .withColumn("dup_word_frac",
        (col("n_toks") - col("n_distinct")).cast("double") / col("n_toks"))
      .withColumn("top_word_share",
        col("top_cnt").cast("double") / col("n_toks"))
      .withColumn("dup_bigram_frac",
        when(col("nb") === 0L, lit(0.0))
          .otherwise((col("nb") - col("nbd")).cast("double") / col("nb")))
    val fCols = Seq("quality", "stop_ratio", "dup_word_frac",
      "top_word_share", "dup_bigram_frac", "len_pct")
    LinearProbe.scaled(feats, fCols, col("y"))
      .select(col("doc_id") +: (0 to 6).map(i => col(s"__f$i")) :+
        col("__y"): _*)
  }

  private[graft] def probeScaled(s: SparkSession, d: String): DataFrame =
    probeScaledLazy(s, d).localCheckpoint(true, StorageLevel.DISK_ONLY)

  private def probeScored(s: SparkSession, d: String): DataFrame = {
    val scaled = probeScaled(s, d)
    val (g, b, n) = LinearProbe.gram(scaled, 7)
    val theta = LinearProbe.fitFromGram(g, b, n, iters = 24)
    LinearProbe.scoreFp(scaled, 7, theta)
      .select(col("doc_id"), col("__y").as("y"), col("score_fp"))
  }

  /** The q209 component CTEs the probe consumes (fq quality ratios,
    * frep repetition, fpct length percentile) + exact-long feature
    * scaling + the one-row Gram — shared text of the q210/q211
    * oracles. */
  private val ProbeOracleCtes: String =
    """WITH RECURSIVE fq AS (
      |  SELECT doc_id, source, n_chars, n_tokens,
      |    CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
      |    (CASE WHEN n_tokens / 20.0 < 1.0 THEN n_tokens / 20.0 ELSE 1.0 END)
      |      * (CASE WHEN CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens
      |               BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END)
      |      * (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens
      |               BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) AS quality
      |  FROM (
      |    SELECT doc_id, source, length(text) AS n_chars,
      |      len(string_split(text, ' ')) AS n_tokens,
      |      len(list_filter(string_split(text, ' '),
      |          t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop
      |    FROM documents)
      |), rtoks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |), rbr AS (
      |  SELECT doc_id, ts,
      |    CAST(len(list_transform(generate_series(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i+1])) AS BIGINT) AS nb,
      |    CAST(len(list_distinct(list_transform(generate_series(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i+1]))) AS BIGINT) AS nbd
      |  FROM rtoks
      |), rex AS (
      |  SELECT doc_id, nb, nbd, unnest(ts) AS w FROM rbr
      |), rwc AS (
      |  SELECT doc_id, nb, nbd, w, CAST(count(*) AS BIGINT) AS c
      |  FROM rex GROUP BY 1, 2, 3, 4
      |), ragg AS (
      |  SELECT doc_id, nb, nbd, CAST(sum(c) AS BIGINT) AS n_toks,
      |         CAST(count(*) AS BIGINT) AS n_distinct, max(c) AS top_cnt
      |  FROM rwc GROUP BY 1, 2, 3
      |), frep AS (
      |  SELECT doc_id,
      |    CAST(n_toks - n_distinct AS DOUBLE) / n_toks AS dup_word_frac,
      |    CAST(top_cnt AS DOUBLE) / n_toks AS top_word_share,
      |    CASE WHEN nb = 0 THEN 0.0
      |         ELSE CAST(nb - nbd AS DOUBLE) / nb END AS dup_bigram_frac
      |  FROM ragg
      |), pr AS (
      |  SELECT doc_id,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
      |  FROM documents
      |), fpct AS (
      |  SELECT doc_id,
      |    CASE WHEN n = 1 THEN 0.5
      |         ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS len_pct
      |  FROM pr
      |), feats AS (
      |  SELECT fq.doc_id,
      |    CAST(1000000 AS BIGINT) AS f0,
      |    CAST(round(fq.quality * 1000000) AS BIGINT) AS f1,
      |    CAST(round(fq.stop_ratio * 1000000) AS BIGINT) AS f2,
      |    CAST(round(frep.dup_word_frac * 1000000) AS BIGINT) AS f3,
      |    CAST(round(frep.top_word_share * 1000000) AS BIGINT) AS f4,
      |    CAST(round(frep.dup_bigram_frac * 1000000) AS BIGINT) AS f5,
      |    CAST(round(fpct.len_pct * 1000000) AS BIGINT) AS f6,
      |    CASE WHEN d.lang = 'en' THEN CAST(1 AS BIGINT)
      |         ELSE CAST(0 AS BIGINT) END AS y
      |  FROM fq JOIN frep USING (doc_id) JOIN fpct USING (doc_id)
      |  JOIN documents d USING (doc_id)
      |), gram AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(f0 AS HUGEINT)*f0) AS g_0_0,
      |    sum(CAST(f0 AS HUGEINT)*f1) AS g_0_1,
      |    sum(CAST(f0 AS HUGEINT)*f2) AS g_0_2,
      |    sum(CAST(f0 AS HUGEINT)*f3) AS g_0_3,
      |    sum(CAST(f0 AS HUGEINT)*f4) AS g_0_4,
      |    sum(CAST(f0 AS HUGEINT)*f5) AS g_0_5,
      |    sum(CAST(f0 AS HUGEINT)*f6) AS g_0_6,
      |    sum(CAST(f1 AS HUGEINT)*f1) AS g_1_1,
      |    sum(CAST(f1 AS HUGEINT)*f2) AS g_1_2,
      |    sum(CAST(f1 AS HUGEINT)*f3) AS g_1_3,
      |    sum(CAST(f1 AS HUGEINT)*f4) AS g_1_4,
      |    sum(CAST(f1 AS HUGEINT)*f5) AS g_1_5,
      |    sum(CAST(f1 AS HUGEINT)*f6) AS g_1_6,
      |    sum(CAST(f2 AS HUGEINT)*f2) AS g_2_2,
      |    sum(CAST(f2 AS HUGEINT)*f3) AS g_2_3,
      |    sum(CAST(f2 AS HUGEINT)*f4) AS g_2_4,
      |    sum(CAST(f2 AS HUGEINT)*f5) AS g_2_5,
      |    sum(CAST(f2 AS HUGEINT)*f6) AS g_2_6,
      |    sum(CAST(f3 AS HUGEINT)*f3) AS g_3_3,
      |    sum(CAST(f3 AS HUGEINT)*f4) AS g_3_4,
      |    sum(CAST(f3 AS HUGEINT)*f5) AS g_3_5,
      |    sum(CAST(f3 AS HUGEINT)*f6) AS g_3_6,
      |    sum(CAST(f4 AS HUGEINT)*f4) AS g_4_4,
      |    sum(CAST(f4 AS HUGEINT)*f5) AS g_4_5,
      |    sum(CAST(f4 AS HUGEINT)*f6) AS g_4_6,
      |    sum(CAST(f5 AS HUGEINT)*f5) AS g_5_5,
      |    sum(CAST(f5 AS HUGEINT)*f6) AS g_5_6,
      |    sum(CAST(f6 AS HUGEINT)*f6) AS g_6_6,
      |    sum(CAST(f0 AS HUGEINT)*y) AS b_0,
      |    sum(CAST(f1 AS HUGEINT)*y) AS b_1,
      |    sum(CAST(f2 AS HUGEINT)*y) AS b_2,
      |    sum(CAST(f3 AS HUGEINT)*y) AS b_3,
      |    sum(CAST(f4 AS HUGEINT)*y) AS b_4,
      |    sum(CAST(f5 AS HUGEINT)*y) AS b_5,
      |    sum(CAST(f6 AS HUGEINT)*y) AS b_6
      |  FROM feats
      |), gd AS (
      |  SELECT 0 AS it, CAST(0 AS HUGEINT) AS t0, CAST(0 AS HUGEINT) AS t1,
      |    CAST(0 AS HUGEINT) AS t2, CAST(0 AS HUGEINT) AS t3,
      |    CAST(0 AS HUGEINT) AS t4, CAST(0 AS HUGEINT) AS t5,
      |    CAST(0 AS HUGEINT) AS t6
      |  UNION ALL
      |  SELECT gd.it + 1,
      |    t0 - (1*((g.g_0_0*t0 + g.g_0_1*t1 + g.g_0_2*t2 + g.g_0_3*t3 + g.g_0_4*t4 + g.g_0_5*t5 + g.g_0_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_0))//(4*g.n) AS t0,
      |    t1 - (1*((g.g_0_1*t0 + g.g_1_1*t1 + g.g_1_2*t2 + g.g_1_3*t3 + g.g_1_4*t4 + g.g_1_5*t5 + g.g_1_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_1))//(4*g.n) AS t1,
      |    t2 - (1*((g.g_0_2*t0 + g.g_1_2*t1 + g.g_2_2*t2 + g.g_2_3*t3 + g.g_2_4*t4 + g.g_2_5*t5 + g.g_2_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_2))//(4*g.n) AS t2,
      |    t3 - (1*((g.g_0_3*t0 + g.g_1_3*t1 + g.g_2_3*t2 + g.g_3_3*t3 + g.g_3_4*t4 + g.g_3_5*t5 + g.g_3_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_3))//(4*g.n) AS t3,
      |    t4 - (1*((g.g_0_4*t0 + g.g_1_4*t1 + g.g_2_4*t2 + g.g_3_4*t3 + g.g_4_4*t4 + g.g_4_5*t5 + g.g_4_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_4))//(4*g.n) AS t4,
      |    t5 - (1*((g.g_0_5*t0 + g.g_1_5*t1 + g.g_2_5*t2 + g.g_3_5*t3 + g.g_4_5*t4 + g.g_5_5*t5 + g.g_5_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_5))//(4*g.n) AS t5,
      |    t6 - (1*((g.g_0_6*t0 + g.g_1_6*t1 + g.g_2_6*t2 + g.g_3_6*t3 + g.g_4_6*t4 + g.g_5_6*t5 + g.g_6_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_6))//(4*g.n) AS t6
      |  FROM gd, gram g WHERE gd.it < 24
      |), theta AS (SELECT * FROM gd WHERE it = 24
      |), scored AS (
      |  SELECT f.doc_id, f.y,
      |    (CAST(f.f0 AS HUGEINT)*t.t0 + CAST(f.f1 AS HUGEINT)*t.t1
      |     + CAST(f.f2 AS HUGEINT)*t.t2 + CAST(f.f3 AS HUGEINT)*t.t3
      |     + CAST(f.f4 AS HUGEINT)*t.t4 + CAST(f.f5 AS HUGEINT)*t.t5
      |     + CAST(f.f6 AS HUGEINT)*t.t6)//1000000 AS sc
      |  FROM feats f, theta t
      |)""".stripMargin

  /** Round-12: the TRAINED quality probe — close the loop the q209
    * feature table opened: fit a least-squares linear classifier on
    * six of its ratio signals against the CCNet-style weak label
    * (lang = 'en'), then score every document with the learned
    * weights. Everything is [[graft.ops.LinearProbe]]'s exact
    * scaled-integer arithmetic — ONE distributed Gram aggregation
    * (map-side combined, d² numbers to the driver at any corpus
    * size), 24 integer GD iterations replayed verbatim by the
    * oracle's recursive CTE (`//` and `div` both truncate toward
    * zero), one codegen'd scoring projection — so the TRAINING, not
    * just the scoring, is hash-certified. The reference fits this
    * classifier family with MLlib LR (`spark.py:63-67`) whose solver
    * state no external oracle can replay; this is the engine's
    * deterministic counterpart. */
  val q210QualityProbe = QueryDef(
    "q210_quality_probe",
    ProbeOracleCtes +
      """
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, y,
        |  CAST(sc AS BIGINT) AS score_fp
        |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
    probeScored(s, d).orderBy(col("doc_id"))
  }

  /** Round-12: exact ranking ROC-AUC of the trained probe — the
    * reference's BinaryClassificationEvaluator (`spark.py:71-73`)
    * re-expressed as an EXACT relational computation: Mann-Whitney U
    * over the deterministic (score_fp, doc_id) ranking, distributed
    * rank via per-partition offsets (no single-partition window),
    * one final map-side-combined aggregation. The whole chain —
    * features, Gram, integer GD, scores, ranks, U — hash-replays. */
  val q211ProbeAuc = QueryDef(
    "q211_probe_auc",
    ProbeOracleCtes +
      """, ranked AS (
        |  SELECT y, row_number() OVER (ORDER BY sc, doc_id) AS rnk
        |  FROM scored
        |)
        |SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |  CAST(sum(CASE WHEN y = 1 THEN rnk ELSE 0 END)
        |    - (sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
        |       * (sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) + 1)) // 2
        |    AS BIGINT) AS u_num,
        |  CASE WHEN sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) = 0
        |         OR sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) = 0 THEN NULL
        |    ELSE CAST(sum(CASE WHEN y = 1 THEN rnk ELSE 0 END)
        |      - (sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
        |         * (sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) + 1)) // 2 AS DOUBLE)
        |      / CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
        |             * sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |  END AS auc
        |FROM ranked""".stripMargin) { (s, d) =>
    LinearProbe.rankingAuc(probeScored(s, d), col("score_fp"),
      col("doc_id"), col("y"))
  }


  /** Round-12: the CONTINUOUSLY-RETRAINED probe — q210's trainer
    * state (the Gram moments, the probe's complete sufficient
    * statistic) accumulated through the persisted sidecar in two
    * row-disjoint feature batches, compacted, and fitted FROM the
    * sidecar. Additivity of exact DECIMAL sums makes the incremental
    * fit BIT-EQUAL to the from-scratch fit, so the oracle is q210's
    * oracle verbatim — the hash certifies incremental == one-shot,
    * the q204/q206 sidecar discipline applied to ML trainer state. */
  val q212ProbeSidecar = QueryDef(
    "q212_probe_sidecar",
    ProbeOracleCtes +
      """
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, y,
        |  CAST(sc AS BIGINT) AS score_fp
        |FROM scored ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q212_gram_sidecar_$sf"
    }
    graft.sources.Sinks.wipeForRebuild(s, dir)
    val scaled = probeScaled(s, d)
    LinearProbe.writeGramSidecar(
      scaled.filter(pmod(col("doc_id"), lit(2L)) === 0L), 7, dir)
    LinearProbe.writeGramSidecar(
      scaled.filter(pmod(col("doc_id"), lit(2L)) === 1L), 7, dir)
    LinearProbe.compactGramSidecar(s, dir, 7)
    val theta = LinearProbe.fitFromSidecar(s, dir, 7, iters = 24)
    LinearProbe.scoreFp(scaled, 7, theta)
      .select(col("doc_id"), col("__y").as("y"), col("score_fp"))
      .orderBy(col("doc_id"))
  }

  /** Round-12: k-fold cross-validated probe — the reference's
    * train/test split + evaluator (L3/L4 + `spark.py:71-73`) done the
    * way exact Gram algebra allows at scale: fold = doc_id % 5, ONE
    * grouped Gram aggregation computes every fold's moments, and each
    * leave-one-fold-out TRAINING Gram is total − fold — exact BigInt
    * subtraction, no second data pass. Five integer GD fits (driver,
    * Gram-only), held-out scoring via a broadcast (fold, θ) join, and
    * per-fold exact ranking AUC through ONE offset-lifted distributed
    * rank over (fold, score, id) — no PARTITION BY fold window (k = 5
    * folds are giant groups by construction). The oracle replays all
    * five GD loops in a single fold-keyed recursive CTE. */
  val q213ProbeCv = QueryDef(
    "q213_probe_cv",
    ProbeOracleCtes +
      """        |, fgram AS (
        |  SELECT doc_id % 5 AS fold, CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(f0 AS HUGEINT)*f0) AS g_0_0,
        |    sum(CAST(f0 AS HUGEINT)*f1) AS g_0_1,
        |    sum(CAST(f0 AS HUGEINT)*f2) AS g_0_2,
        |    sum(CAST(f0 AS HUGEINT)*f3) AS g_0_3,
        |    sum(CAST(f0 AS HUGEINT)*f4) AS g_0_4,
        |    sum(CAST(f0 AS HUGEINT)*f5) AS g_0_5,
        |    sum(CAST(f0 AS HUGEINT)*f6) AS g_0_6,
        |    sum(CAST(f1 AS HUGEINT)*f1) AS g_1_1,
        |    sum(CAST(f1 AS HUGEINT)*f2) AS g_1_2,
        |    sum(CAST(f1 AS HUGEINT)*f3) AS g_1_3,
        |    sum(CAST(f1 AS HUGEINT)*f4) AS g_1_4,
        |    sum(CAST(f1 AS HUGEINT)*f5) AS g_1_5,
        |    sum(CAST(f1 AS HUGEINT)*f6) AS g_1_6,
        |    sum(CAST(f2 AS HUGEINT)*f2) AS g_2_2,
        |    sum(CAST(f2 AS HUGEINT)*f3) AS g_2_3,
        |    sum(CAST(f2 AS HUGEINT)*f4) AS g_2_4,
        |    sum(CAST(f2 AS HUGEINT)*f5) AS g_2_5,
        |    sum(CAST(f2 AS HUGEINT)*f6) AS g_2_6,
        |    sum(CAST(f3 AS HUGEINT)*f3) AS g_3_3,
        |    sum(CAST(f3 AS HUGEINT)*f4) AS g_3_4,
        |    sum(CAST(f3 AS HUGEINT)*f5) AS g_3_5,
        |    sum(CAST(f3 AS HUGEINT)*f6) AS g_3_6,
        |    sum(CAST(f4 AS HUGEINT)*f4) AS g_4_4,
        |    sum(CAST(f4 AS HUGEINT)*f5) AS g_4_5,
        |    sum(CAST(f4 AS HUGEINT)*f6) AS g_4_6,
        |    sum(CAST(f5 AS HUGEINT)*f5) AS g_5_5,
        |    sum(CAST(f5 AS HUGEINT)*f6) AS g_5_6,
        |    sum(CAST(f6 AS HUGEINT)*f6) AS g_6_6,
        |    sum(CAST(f0 AS HUGEINT)*y) AS b_0,
        |    sum(CAST(f1 AS HUGEINT)*y) AS b_1,
        |    sum(CAST(f2 AS HUGEINT)*y) AS b_2,
        |    sum(CAST(f3 AS HUGEINT)*y) AS b_3,
        |    sum(CAST(f4 AS HUGEINT)*y) AS b_4,
        |    sum(CAST(f5 AS HUGEINT)*y) AS b_5,
        |    sum(CAST(f6 AS HUGEINT)*y) AS b_6
        |  FROM feats GROUP BY 1
        |), tgram AS (
        |  SELECT sum(n) AS n, sum(g_0_0) AS g_0_0, sum(g_0_1) AS g_0_1, sum(g_0_2) AS g_0_2, sum(g_0_3) AS g_0_3, sum(g_0_4) AS g_0_4, sum(g_0_5) AS g_0_5, sum(g_0_6) AS g_0_6, sum(g_1_1) AS g_1_1, sum(g_1_2) AS g_1_2, sum(g_1_3) AS g_1_3, sum(g_1_4) AS g_1_4, sum(g_1_5) AS g_1_5, sum(g_1_6) AS g_1_6, sum(g_2_2) AS g_2_2, sum(g_2_3) AS g_2_3, sum(g_2_4) AS g_2_4, sum(g_2_5) AS g_2_5, sum(g_2_6) AS g_2_6, sum(g_3_3) AS g_3_3, sum(g_3_4) AS g_3_4, sum(g_3_5) AS g_3_5, sum(g_3_6) AS g_3_6, sum(g_4_4) AS g_4_4, sum(g_4_5) AS g_4_5, sum(g_4_6) AS g_4_6, sum(g_5_5) AS g_5_5, sum(g_5_6) AS g_5_6, sum(g_6_6) AS g_6_6, sum(b_0) AS b_0, sum(b_1) AS b_1, sum(b_2) AS b_2, sum(b_3) AS b_3, sum(b_4) AS b_4, sum(b_5) AS b_5, sum(b_6) AS b_6
        |  FROM fgram
        |), train AS (
        |  SELECT f.fold, t.n - f.n AS n,
        |    t.g_0_0 - f.g_0_0 AS g_0_0,
        |    t.g_0_1 - f.g_0_1 AS g_0_1,
        |    t.g_0_2 - f.g_0_2 AS g_0_2,
        |    t.g_0_3 - f.g_0_3 AS g_0_3,
        |    t.g_0_4 - f.g_0_4 AS g_0_4,
        |    t.g_0_5 - f.g_0_5 AS g_0_5,
        |    t.g_0_6 - f.g_0_6 AS g_0_6,
        |    t.g_1_1 - f.g_1_1 AS g_1_1,
        |    t.g_1_2 - f.g_1_2 AS g_1_2,
        |    t.g_1_3 - f.g_1_3 AS g_1_3,
        |    t.g_1_4 - f.g_1_4 AS g_1_4,
        |    t.g_1_5 - f.g_1_5 AS g_1_5,
        |    t.g_1_6 - f.g_1_6 AS g_1_6,
        |    t.g_2_2 - f.g_2_2 AS g_2_2,
        |    t.g_2_3 - f.g_2_3 AS g_2_3,
        |    t.g_2_4 - f.g_2_4 AS g_2_4,
        |    t.g_2_5 - f.g_2_5 AS g_2_5,
        |    t.g_2_6 - f.g_2_6 AS g_2_6,
        |    t.g_3_3 - f.g_3_3 AS g_3_3,
        |    t.g_3_4 - f.g_3_4 AS g_3_4,
        |    t.g_3_5 - f.g_3_5 AS g_3_5,
        |    t.g_3_6 - f.g_3_6 AS g_3_6,
        |    t.g_4_4 - f.g_4_4 AS g_4_4,
        |    t.g_4_5 - f.g_4_5 AS g_4_5,
        |    t.g_4_6 - f.g_4_6 AS g_4_6,
        |    t.g_5_5 - f.g_5_5 AS g_5_5,
        |    t.g_5_6 - f.g_5_6 AS g_5_6,
        |    t.g_6_6 - f.g_6_6 AS g_6_6,
        |    t.b_0 - f.b_0 AS b_0,
        |    t.b_1 - f.b_1 AS b_1,
        |    t.b_2 - f.b_2 AS b_2,
        |    t.b_3 - f.b_3 AS b_3,
        |    t.b_4 - f.b_4 AS b_4,
        |    t.b_5 - f.b_5 AS b_5,
        |    t.b_6 - f.b_6 AS b_6
        |  FROM fgram f, tgram t
        |), cvgd AS (
        |  SELECT fold, 0 AS it, CAST(0 AS HUGEINT) AS t0, CAST(0 AS HUGEINT) AS t1, CAST(0 AS HUGEINT) AS t2, CAST(0 AS HUGEINT) AS t3, CAST(0 AS HUGEINT) AS t4, CAST(0 AS HUGEINT) AS t5, CAST(0 AS HUGEINT) AS t6 FROM train
        |  UNION ALL
        |  SELECT cvgd.fold, cvgd.it + 1,
        |    t0 - (1*((g.g_0_0*t0 + g.g_0_1*t1 + g.g_0_2*t2 + g.g_0_3*t3 + g.g_0_4*t4 + g.g_0_5*t5 + g.g_0_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_0))//(4*g.n) AS t0,
        |    t1 - (1*((g.g_0_1*t0 + g.g_1_1*t1 + g.g_1_2*t2 + g.g_1_3*t3 + g.g_1_4*t4 + g.g_1_5*t5 + g.g_1_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_1))//(4*g.n) AS t1,
        |    t2 - (1*((g.g_0_2*t0 + g.g_1_2*t1 + g.g_2_2*t2 + g.g_2_3*t3 + g.g_2_4*t4 + g.g_2_5*t5 + g.g_2_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_2))//(4*g.n) AS t2,
        |    t3 - (1*((g.g_0_3*t0 + g.g_1_3*t1 + g.g_2_3*t2 + g.g_3_3*t3 + g.g_3_4*t4 + g.g_3_5*t5 + g.g_3_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_3))//(4*g.n) AS t3,
        |    t4 - (1*((g.g_0_4*t0 + g.g_1_4*t1 + g.g_2_4*t2 + g.g_3_4*t3 + g.g_4_4*t4 + g.g_4_5*t5 + g.g_4_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_4))//(4*g.n) AS t4,
        |    t5 - (1*((g.g_0_5*t0 + g.g_1_5*t1 + g.g_2_5*t2 + g.g_3_5*t3 + g.g_4_5*t4 + g.g_5_5*t5 + g.g_5_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_5))//(4*g.n) AS t5,
        |    t6 - (1*((g.g_0_6*t0 + g.g_1_6*t1 + g.g_2_6*t2 + g.g_3_6*t3 + g.g_4_6*t4 + g.g_5_6*t5 + g.g_6_6*t6)//CAST(1000000000000 AS HUGEINT) - 1000*g.b_6))//(4*g.n) AS t6
        |  FROM cvgd JOIN train g ON g.fold = cvgd.fold WHERE cvgd.it < 24
        |), cvtheta AS (SELECT * FROM cvgd WHERE it = 24
        |), cvscored AS (
        |  SELECT f.doc_id, f.doc_id % 5 AS fold, f.y,
        |    (CAST(f.f0 AS HUGEINT)*t.t0 + CAST(f.f1 AS HUGEINT)*t.t1 + CAST(f.f2 AS HUGEINT)*t.t2 + CAST(f.f3 AS HUGEINT)*t.t3 + CAST(f.f4 AS HUGEINT)*t.t4 + CAST(f.f5 AS HUGEINT)*t.t5 + CAST(f.f6 AS HUGEINT)*t.t6)//1000000 AS sc
        |  FROM feats f JOIN cvtheta t ON t.fold = f.doc_id % 5
        |), cvranked AS (
        |  SELECT fold, y, row_number() OVER (PARTITION BY fold ORDER BY sc, doc_id) AS rnk
        |  FROM cvscored)
        |SELECT CAST(fold AS BIGINT) AS fold,
        |  CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |  CAST(sum(CASE WHEN y = 1 THEN rnk ELSE 0 END)
        |    - (sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
        |       * (sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) + 1)) // 2 AS BIGINT) AS u_num,
        |  CASE WHEN sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) = 0
        |         OR sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) = 0 THEN NULL
        |    ELSE CAST(sum(CASE WHEN y = 1 THEN rnk ELSE 0 END)
        |      - (sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
        |         * (sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) + 1)) // 2 AS DOUBLE)
        |      / CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
        |             * sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |  END AS auc
        |FROM cvranked GROUP BY fold ORDER BY fold""".stripMargin) { (s, d) =>
    val scaled = probeScaled(s, d)
      .withColumn("__fold", pmod(col("doc_id"), lit(5L)))
    val grams = LinearProbe.gramByGroup(scaled, 7, col("__fold"))
    val d7 = 7
    val totG = Array.tabulate(d7, d7)((i, j) =>
      grams.values.map(_._1(i)(j)).sum)
    val totB = Array.tabulate(d7)(i => grams.values.map(_._2(i)).sum)
    val totN = grams.values.map(_._3).sum
    val thetaRows = (0L to 4L).map { f =>
      // loud guard: a doc_id residue class with zero rows (tiny or
      // adversarially-keyed corpus) must not surface as a bare
      // NoSuchElementException from the Map lookup
      require(grams.contains(f),
        s"q213: fold $f is empty — need >= 1 document per doc_id % 5 " +
          "residue class to cross-validate")
      val (gf, bf, nf) = grams(f)
      val g = Array.tabulate(d7, d7)((i, j) => totG(i)(j) - gf(i)(j))
      val b = Array.tabulate(d7)(i => totB(i) - bf(i))
      val t = LinearProbe.fitFromGram(g, b, totN - nf, iters = 24)
      (f, t(0).toLong, t(1).toLong, t(2).toLong, t(3).toLong,
        t(4).toLong, t(5).toLong, t(6).toLong)
    }
    import s.implicits._
    val thetaDf = thetaRows.toDF("__fold", "t0", "t1", "t2", "t3",
      "t4", "t5", "t6")
    val scored = scaled.join(broadcast(thetaDf), "__fold")
      .withColumn("__num",
        (0 until d7).map(j => col(s"__f$j") * col(s"t$j")).reduce(_ + _))
      .withColumn("score_fp", expr("__num div 1000000"))
    LinearProbe.groupedRankingAuc(scored, col("__fold"),
      col("score_fp"), col("doc_id"), col("__y"))
      .orderBy(col("fold"))
  }

  /** Round-13: the probe fed BACK into curation — the end-to-end
    * "train a quality filter, then filter the corpus with it" loop
    * every LLM-data pipeline runs, as ONE composed computation: q209's
    * feature signals → q210's exact integer-GD fit (ONE Gram
    * aggregation, d² driver numbers) → one codegen'd scoring
    * projection → a q140-style token-budget cut at the top HALF of
    * the corpus by score (budget = total_tokens/2, exact integer
    * comparison 2·cum ≤ total, so the cut replays bit-for-bit — no
    * IEEE fraction ever decides membership). The running token total
    * over the (score DESC, doc_id) order runs through
    * [[graft.ops.Relational.globalRankAndRunningSum]] — range
    * partition + per-partition offsets, NO single-partition window,
    * so the cut ranks a 100 TB corpus at shuffle speed. Every stage
    * is already hash-oracled alone (q209/q210/q140); the oracle here
    * is their CTE chain and the hash certifies the composition. */
  val q215ProbeQualityCut = QueryDef(
    "q215_probe_quality_cut",
    ProbeOracleCtes +
      """, cut AS (
        |  SELECT s.doc_id, s.y, s.sc, f.n_tokens,
        |    CAST(SUM(f.n_tokens) OVER (ORDER BY s.sc DESC, s.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens,
        |    CAST(SUM(f.n_tokens) OVER () AS BIGINT) AS total
        |  FROM scored s JOIN fq f USING (doc_id)
        |)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, y,
        |  CAST(sc AS BIGINT) AS score_fp,
        |  CAST(n_tokens AS BIGINT) AS n_tokens, cum_tokens
        |FROM cut WHERE cum_tokens * 2 <= total
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val scaled = probeScaled(s, d)
    val (g, b, n) = LinearProbe.gram(scaled, 7)
    val theta = LinearProbe.fitFromGram(g, b, n, iters = 24)
    val toks = Tables.documents(s, d).select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val scored = LinearProbe.scoreFp(scaled, 7, theta)
      .select(col("doc_id"), col("__y").as("y"), col("score_fp"))
      .join(toks, "doc_id")
    val (ranked, total) = Relational.globalRankAndRunningSum(scored,
      Seq(col("score_fp").desc, col("doc_id")), col("n_tokens"),
      "__rank", "cum_tokens")
    ranked.drop("__rank")
      .filter(col("cum_tokens") * 2 <= lit(total))
      .select(col("doc_id"), col("y"), col("score_fp"),
        col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Round-13: the probe cut CALIBRATED PER SOURCE — q215's global
    * cut lets one domain whose score distribution sits high crowd out
    * every other domain (the classic quality-filter failure: a
    * fastText score is not comparable across a curated encyclopedia
    * and a web crawl). The standard fix is rank-based per-domain
    * calibration, and the engine already owns both halves: score with
    * q210's trained probe, then [[Curation.percentileNormalize]] the
    * scores WITHIN each source ((rank−1)/(n−1) over the deterministic
    * (score_fp, doc_id) order — one IEEE division of exact longs per
    * row, deterministic and oracle-replayed; unlike q215 the keep
    * decision compares that double against 0.5, not an exact integer
    * predicate) and
    * keep pct ≥ 0.5 — the top half of EVERY source, the q200 move
    * applied to a learned score instead of raw length. Scale shape:
    * the feature/Gram/scoring chain is q210's; calibration adds one
    * window per source partition (sources number in the thousands at
    * 100 TB — the q200-documented parallelism floor) and the cut is a
    * per-row filter. Oracle = the probe CTE chain + the same window,
    * so the calibrated membership hash-replays end to end. */
  val q217ProbeCalibratedCut = QueryDef(
    "q217_probe_calibrated_cut",
    ProbeOracleCtes +
      """, src AS (
        |  SELECT doc_id, source FROM documents
        |), ranked AS (
        |  SELECT s.doc_id, d.source, s.y, s.sc,
        |    CAST(row_number() OVER (PARTITION BY d.source
        |      ORDER BY s.sc, s.doc_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY d.source) AS BIGINT) AS n
        |  FROM scored s JOIN src d USING (doc_id)
        |), pctd AS (
        |  SELECT doc_id, source, y, sc,
        |    CASE WHEN n = 1 THEN 0.5
        |         ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS pct
        |  FROM ranked
        |)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, source, y,
        |  CAST(sc AS BIGINT) AS score_fp, pct
        |FROM pctd WHERE pct >= 0.5 ORDER BY doc_id""".stripMargin) { (s, d) =>
    val scaled = probeScaled(s, d)
    val (g, b, n) = LinearProbe.gram(scaled, 7)
    val theta = LinearProbe.fitFromGram(g, b, n, iters = 24)
    val scored = LinearProbe.scoreFp(scaled, 7, theta)
      .select(col("doc_id"), col("__y").as("y"), col("score_fp"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id")
    Curation.percentileNormalize(scored, groupCol = "source",
        valueCol = "score_fp", idCol = "doc_id", keepAbove = 0.5)
      .select(col("doc_id"), col("source"), col("y"), col("score_fp"),
        col("pct"))
      .orderBy(col("doc_id"))
  }

  /** A gram + integer-GD + theta CTE block over `feats` restricted by
    * `where`, names suffixed `sfx` — the q210 training loop replayed
    * over a sub-corpus (q219 fits the pre-append batch). Generated,
    * not hand-copied: the 28 Gram products, 7 label moments, and 7 GD
    * update rows are textually identical to [[ProbeOracleCtes]]'s
    * main loop modulo the CTE names and the WHERE. */
  private def gramGdCtes(sfx: String, where: String): String = {
    val prods = (for (i <- 0 to 6; j <- i to 6) yield
      s"    sum(CAST(f$i AS HUGEINT)*f$j) AS g_${i}_$j").mkString(",\n")
    val bs = (0 to 6).map(i =>
      s"    sum(CAST(f$i AS HUGEINT)*y) AS b_$i").mkString(",\n")
    def urow(i: Int) = {
      val terms = (0 to 6).map { j =>
        val (a, b) = if (i <= j) (i, j) else (j, i)
        s"g.g_${a}_$b*t$j"
      }.mkString(" + ")
      s"    t$i - (1*(($terms)//CAST(1000000000000 AS HUGEINT) - " +
        s"1000*g.b_$i))//(4*g.n) AS t$i"
    }
    val zeros = (0 to 6).map(i => s"CAST(0 AS HUGEINT) AS t$i").mkString(", ")
    s""", gram$sfx AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |$prods,
       |$bs
       |  FROM feats WHERE $where
       |), gd$sfx AS (
       |  SELECT 0 AS it, $zeros
       |  UNION ALL
       |  SELECT gd$sfx.it + 1,
       |${(0 to 6).map(urow).mkString(",\n")}
       |  FROM gd$sfx, gram$sfx g WHERE gd$sfx.it < 24
       |), theta$sfx AS (SELECT * FROM gd$sfx WHERE it = 24
       |)""".stripMargin
  }

  /** Round-14 (the round-13 verdict's #1 ask): the FULL pre-training
    * curation pipeline as ONE composed, hash-oracled plan — the
    * artifact an LLM-data team actually runs, chaining six stages the
    * engine has individually proven:
    *
    *   1. normalized exact dedup (q153's op on the real corpus —
    *      [[TextAnalysis.normalizeText]] +
    *      [[graft.ops.Dedup.exactDedup]], keep the min doc_id per
    *      normalized digest; the eval holdout `doc_id % 19 = 0`
    *      never enters the corpus),
    *   2. duplicated-span removal (q157 — 10-token chunks, corpus-wide
    *      keep-first on the replayable md5 chunk key, docs reassembled
    *      from surviving chunks; empty rewrites drop),
    *   3. benchmark decontamination of the CLEAN text vs the holdout
    *      (q113's op; the drop threshold is 0.5 — "half the doc's
    *      distinct 3-grams leak" — because the ~30-word synthetic
    *      vocabulary makes incidental 3-gram overlap ubiquitous
    *      (median 0.39 at sf0.1); real text at the production 8-gram
    *      order would pin the usual low threshold;
    *      sub-3-token rewrites carry no gram evidence and pass),
    *   4. probe-scored per-source calibrated cut (q217 — q210's
    *      trained probe scores, rank-calibrated WITHIN each source,
    *      keep the top half of every domain; the probe is q210's,
    *      trained ONCE on the raw corpus — the fastText convention:
    *      the filter model predates the holdout split, and eval
    *      integrity is decontam's job, enforced on the corpus itself),
    *   5. temperature mixture budget (q118/q126 — per-source sqrt
    *      weights over KEPT tokens, total budget = half the surviving
    *      token mass; budget_s = ((T div 2)·iw_s) div Σiw in EXACT
    *      decimal integer arithmetic — no IEEE fraction decides a
    *      budget; admission by per-source md5-seeded running sum),
    *   6. sequence packing (q125 — [[Relational.packSequences]] at 512
    *      tokens over the final kept set in doc_id order, through the
    *      distributed rank — no single-partition window).
    *
    * Every inter-stage handoff is a doc_id equality join; the only
    * unpartitioned window is the budget share over the per-SOURCE
    * aggregate (rows = source count, bounded by design — the q126
    * precedent). The oracle is the six stages' CTE chain and the hash
    * certifies the COMPOSITION — survivor sets, scores, percentiles,
    * budgets, and packing offsets — end to end at three SFs. */
  val q218CurationPipeline = QueryDef(
    "q218_curation_pipeline",
    ProbeOracleCtes +
      """, corpus AS (
        |  SELECT doc_id, source, text FROM documents WHERE doc_id % 19 <> 0
        |), nrm AS (
        |  SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS ntext
        |  FROM corpus
        |), d1 AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY md5(ntext)
        |      ORDER BY doc_id) AS rn
        |    FROM nrm) WHERE rn = 1
        |), st AS (
        |  SELECT c.doc_id, c.source, c.text FROM corpus c JOIN d1 USING (doc_id)
        |), t2 AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM st
        |), tok2 AS (
        |  SELECT doc_id, generate_subscripts(ts, 1) AS i, unnest(ts) AS tok
        |  FROM t2
        |), chunks AS (
        |  SELECT doc_id, CAST((i - 1) // 10 AS BIGINT) AS chunk_idx,
        |         CAST(count(*) AS BIGINT) AS chunk_tokens,
        |         string_agg(tok, ' ' ORDER BY i) AS chunk_text
        |  FROM tok2 GROUP BY doc_id, (i - 1) // 10
        |), flagged AS (
        |  SELECT doc_id, chunk_idx, chunk_tokens, chunk_text,
        |    (ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
        |       ORDER BY doc_id, chunk_idx) = 1) AS keep
        |  FROM chunks
        |), cleaned AS (
        |  SELECT doc_id,
        |    coalesce(string_agg(CASE WHEN keep THEN chunk_text END, ' '
        |      ORDER BY chunk_idx), '') AS clean_text,
        |    CAST(sum(CASE WHEN keep THEN chunk_tokens ELSE 0 END) AS BIGINT)
        |      AS kept_toks
        |  FROM flagged GROUP BY doc_id
        |), ctoks AS (
        |  SELECT doc_id, string_split(clean_text, ' ') AS ts
        |  FROM cleaned WHERE kept_toks >= 1
        |), cgrams AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |      generate_series(1, len(ts) - 2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS g
        |  FROM ctoks WHERE len(ts) >= 3
        |), eval_t AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
        |  WHERE doc_id % 19 = 0
        |), eval_g AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |      generate_series(1, len(ts) - 2),
        |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS g
        |  FROM eval_t WHERE len(ts) >= 3
        |), contam AS (
        |  SELECT t.doc_id,
        |    CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) >= 0.5 AS contaminated
        |  FROM cgrams t LEFT JOIN eval_g e ON t.g = e.g
        |  GROUP BY t.doc_id
        |), surv3 AS (
        |  SELECT c.doc_id, s.source, c.kept_toks
        |  FROM cleaned c JOIN st s USING (doc_id)
        |  LEFT JOIN contam ct USING (doc_id)
        |  WHERE c.kept_toks >= 1 AND NOT coalesce(ct.contaminated, false)
        |), pranked AS (
        |  SELECT sv.doc_id, sv.source, sv.kept_toks, sc.sc,
        |    CAST(row_number() OVER (PARTITION BY sv.source
        |      ORDER BY sc.sc, sv.doc_id) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY sv.source) AS BIGINT) AS n
        |  FROM surv3 sv JOIN scored sc USING (doc_id)
        |), kept4 AS (
        |  SELECT doc_id, source, kept_toks, sc,
        |    CASE WHEN n = 1 THEN 0.5
        |         ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS pct
        |  FROM pranked
        |  WHERE (CASE WHEN n = 1 THEN 0.5
        |         ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END) >= 0.5
        |), iws AS (
        |  SELECT source, CAST(sum(kept_toks) AS BIGINT) AS t_src,
        |    CAST(floor(sqrt(CAST(sum(kept_toks) AS DOUBLE))) AS BIGINT) AS iw
        |  FROM kept4 GROUP BY source
        |), tot AS (
        |  SELECT CAST(sum(t_src) AS BIGINT) AS total,
        |         CAST(sum(iw) AS BIGINT) AS sum_iw FROM iws
        |), budgets AS (
        |  SELECT i.source,
        |    CAST((CAST(t.total // 2 AS HUGEINT) * i.iw) // t.sum_iw AS BIGINT)
        |      AS token_budget
        |  FROM iws i, tot t
        |), mranked AS (
        |  SELECT k.doc_id, k.source, k.kept_toks, k.sc, k.pct,
        |    CAST(SUM(k.kept_toks) OVER (PARTITION BY k.source
        |      ORDER BY md5(CAST(k.doc_id AS VARCHAR) || '|42'), k.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_src
        |  FROM kept4 k
        |), kept5 AS (
        |  SELECT m.doc_id, m.source, m.sc, m.pct, m.kept_toks
        |  FROM mranked m JOIN budgets b USING (source)
        |  WHERE m.cum_src <= b.token_budget
        |), packed AS (
        |  SELECT doc_id, source, sc, pct, kept_toks,
        |    CAST(SUM(kept_toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM kept5
        |)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |  CAST(sc AS BIGINT) AS score_fp, pct,
        |  CAST(kept_toks AS BIGINT) AS n_toks, cum_tokens,
        |  CAST((cum_tokens - kept_toks) // 512 AS BIGINT) AS start_seq,
        |  CAST((cum_tokens - kept_toks) % 512 AS BIGINT) AS start_offset,
        |  CAST((cum_tokens - 1) // 512 AS BIGINT) AS end_seq
        |FROM packed ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") % 19 =!= 0)
      .select(col("doc_id"), col("source"), col("text"))
    // 1–3. the snapshot front half — [[CurationPipeline
    //    .oneShotSurvivors]] (factored round 17 so the normalizer is
    //    a parameter of the one-shot entry too; this call is the
    //    legacy-default form, operator chain unchanged): normalized
    //    exact dedup keeping ORIGINAL text, duplicated-span removal,
    //    decontamination of the CLEAN text vs the eval holdout (docs
    //    too short to carry a 3-gram pass as uncontaminated)
    val surv3 = CurationPipeline.oneShotSurvivors(corpus,
      docs.filter(col("doc_id") % 19 === 0))
    // 4. probe-scored per-source calibrated cut (q210's exact θ)
    val scaled = probeScaled(s, d)
    val (g, b, n) = LinearProbe.gram(scaled, 7)
    val theta = LinearProbe.fitFromGram(g, b, n, iters = 24)
    val scored = LinearProbe.scoreFp(scaled, 7, theta)
      .select(col("doc_id"), col("score_fp"))
    // 4b–6. the corpus-relative tail — per-source calibrated cut,
    //    exact-integer temperature mixture budget, 512-token packing —
    //    is [[CurationPipeline.finalizeStages]], shared VERBATIM with
    //    the incremental twin q221 so the two forms' tails cannot
    //    drift apart (round 15; the stage semantics and scale notes
    //    live at the shared op)
    CurationPipeline.finalizeStages(
      surv3.join(scored, "doc_id")
        .select(col("doc_id"), col("source"), col("kept_toks"),
          col("score_fp")))
  }

  /** Round-14 (the round-13 verdict's #5 ask): the INCREMENTAL probe
    * lifecycle — the maintenance operation the Gram sidecar exists
    * for, as one oracled computation: ingest batch A (docs with
    * `doc_id % 3 ≠ 2`) into the sidecar and fit θ_old from the
    * UNCOMPACTED partial state; append batch B, compact, and re-fit
    * θ_new from the compacted sidecar — by Gram additivity θ_new is
    * BIT-EQUAL to the from-scratch q210 fit, which is exactly what
    * the oracle's main `scored` CTE certifies; then score ONLY the
    * new batch with both weight vectors and report the per-row score
    * drift (score_new − score_old = x·Δθ in exact fixed-point — the
    * q201 OLS-drift pattern applied to probe weights; a corpus owner
    * alerts when the batch shifts the filter's decisions). Scale
    * shape: two one-row sidecar appends + one compaction (IO ∝
    * batches), two driver GD loops over d² numbers, scoring and
    * drift are one codegen'd projection over the NEW batch only —
    * the old corpus is never re-read or re-scored. The oracle
    * replays batch A's training loop in a second recursive CTE
    * ([[gramGdCtes]]) and the full-corpus loop is q210's verbatim. */
  val q219ProbeLifecycle = QueryDef(
    "q219_probe_lifecycle",
    ProbeOracleCtes +
      gramGdCtes("A", "doc_id % 3 <> 2") +
      """
        |, scoredA AS (
        |  SELECT f.doc_id, f.y,
        |    (CAST(f.f0 AS HUGEINT)*t.t0 + CAST(f.f1 AS HUGEINT)*t.t1
        |     + CAST(f.f2 AS HUGEINT)*t.t2 + CAST(f.f3 AS HUGEINT)*t.t3
        |     + CAST(f.f4 AS HUGEINT)*t.t4 + CAST(f.f5 AS HUGEINT)*t.t5
        |     + CAST(f.f6 AS HUGEINT)*t.t6)//1000000 AS sc_old
        |  FROM feats f, thetaA t WHERE f.doc_id % 3 = 2
        |)
        |SELECT CAST(s.doc_id AS BIGINT) AS doc_id, s.y,
        |  CAST(a.sc_old AS BIGINT) AS score_old,
        |  CAST(s.sc AS BIGINT) AS score_new,
        |  CAST(s.sc - a.sc_old AS BIGINT) AS drift
        |FROM scored s JOIN scoredA a USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q219_gram_sidecar_$sf"
    }
    graft.sources.Sinks.wipeForRebuild(s, dir)
    val scaled = probeScaled(s, d)
    val batchA = scaled.filter(pmod(col("doc_id"), lit(3L)) =!= 2L)
    val batchB = scaled.filter(pmod(col("doc_id"), lit(3L)) === 2L)
    LinearProbe.writeGramSidecar(batchA, 7, dir)
    val thetaOld = LinearProbe.fitFromSidecar(s, dir, 7, iters = 24)
    LinearProbe.writeGramSidecar(batchB, 7, dir)
    LinearProbe.compactGramSidecar(s, dir, 7)
    val thetaNew = LinearProbe.fitFromSidecar(s, dir, 7, iters = 24)
    val oldScored = LinearProbe.scoreFp(batchB, 7, thetaOld)
      .withColumnRenamed("score_fp", "score_old")
    LinearProbe.scoreFp(oldScored, 7, thetaNew)
      .select(col("doc_id"), col("__y").as("y"), col("score_old"),
        col("score_fp").as("score_new"),
        (col("score_fp") - col("score_old")).as("drift"))
      .orderBy(col("doc_id"))
  }

  /** Round-14: the θ-COEFFICIENT drift report — q219's companion at
    * the weight level (q219 reports per-ROW score drift over the new
    * batch; a corpus owner's alerting dashboard wants the d-row
    * "which signal's weight moved" view — the q201 OLS-drift pattern
    * applied literally to probe weights): fit θ_old on the pre-append
    * corpus (doc_id % 3 ≠ 2, one Gram aggregation), θ_new on the full
    * corpus, emit one row per coefficient with old/new/delta in exact
    * fixed-point. Output is d+1 = 7 rows — driver-bounded by
    * construction (the Gram d² class), never data-sized. The oracle
    * replays BOTH training loops (the main q210 CTE + the
    * [[gramGdCtes]]-generated batch-A loop) and unpivots the two
    * θ vectors. */
  val q220ProbeWeightDrift = QueryDef(
    "q220_probe_weight_drift",
    ProbeOracleCtes +
      gramGdCtes("A", "doc_id % 3 <> 2") +
      """
        |, drift AS (
        |""".stripMargin +
      (0 to 6).map(j =>
        s"  SELECT CAST($j AS BIGINT) AS j, CAST(a.t$j AS BIGINT) AS theta_old," +
          s" CAST(t.t$j AS BIGINT) AS theta_new FROM thetaA a, theta t")
        .mkString("", "\n  UNION ALL\n", "\n") +
      """|)
         |SELECT j, theta_old, theta_new,
         |  theta_new - theta_old AS delta
         |FROM drift ORDER BY j""".stripMargin) { (s, d) =>
    val scaled = probeScaled(s, d)
    val (gA, bA, nA) = LinearProbe.gram(
      scaled.filter(pmod(col("doc_id"), lit(3L)) =!= 2L), 7)
    val tOld = LinearProbe.fitFromGram(gA, bA, nA, iters = 24)
    val (g, b, n) = LinearProbe.gram(scaled, 7)
    val tNew = LinearProbe.fitFromGram(g, b, n, iters = 24)
    import s.implicits._
    import LinearProbe.thetaLong
    (0 to 6).map(j => (j.toLong, thetaLong(tOld(j)), thetaLong(tNew(j)),
        thetaLong(tNew(j)) - thetaLong(tOld(j))))
      .toDF("j", "theta_old", "theta_new", "delta")
      .orderBy(col("j"))
  }

  /** Round-15 (the round-14 verdict's #1 ask): the INCREMENTAL twin of
    * q218 — the six-stage curation pipeline run the way a 100 TB
    * corpus team actually operates it: the corpus arrives as THREE
    * monotone doc_id shards, each flowing through
    * [[graft.ops.CurationPipeline.ingestShard]] — the SIDECAR-backed
    * forms of stages 1–3 (digest sidecar exact dedup, chunk-key
    * sidecar span removal, the FROZEN benchmark gram registry) plus
    * the Gram trainer-state append — and emitting a curated-survivor
    * metadata shard; then ONE
    * [[graft.ops.CurationPipeline.finalizePipeline]] fits θ from the
    * compacted sidecar (bit-equal to the one-shot fit by moment
    * additivity) and runs the corpus-relative tail (calibrated cut,
    * mixture budget, packing — [[graft.ops.CurationPipeline
    * .finalizeStages]], shared verbatim with q218) over survivor
    * METADATA only. The raw corpus is read exactly once, at ingest.
    *
    * The oracle is q218's VERBATIM — the certificate IS that
    * incremental ≡ one-shot: DuckDB replays the one-shot six-stage
    * composition and the hash must match the shard-by-shard run at
    * three SFs. The cross-batch ordering traps this exercises that no
    * per-stage test can see: dedup-before-decontam across shard
    * boundaries (shard 2's span removal depends on what shards 0–1
    * PERSISTED), keep-first-arrived ≡ keep-min-id under monotone
    * arrival, and the frozen-registry rule (a late eval shard must
    * never retroactively contaminate an already-emitted doc). */
  val q221IncrementalCuration = QueryDef(
    "q221_incremental_curation",
    q218CurationPipeline.oracle.get) { (s, d) =>
    val dirs = CurationPipeline.Dirs({
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q221_pipeline_$sf"
    })
    val docs = Tables.documents(s, d)
    val holdout = col("doc_id") % 19 === 0
    // freeze the benchmark gram registry BEFORE any shard arrives
    CurationPipeline.init(s, dirs, docs.filter(holdout))
    // the upstream feature pipeline's output rides with each shard
    // (scaled exact longs — the writeGramSidecar contract: corpus-
    // relative signals are the feature pipeline's job, not the
    // ingest's)
    val withFeats = docs.select(col("doc_id"), col("source"), col("text"))
      .join(probeScaled(s, d), "doc_id")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cuts = Seq(Long.MinValue, (maxId + 1) / 3, 2 * ((maxId + 1) / 3),
      Long.MaxValue)
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      CurationPipeline.ingestShard(
        withFeats.filter(col("doc_id") >= lo && col("doc_id") < hi),
        dirs, holdout, shardId = s"s$i")
    }
    CurationPipeline.finalizePipeline(s, dirs)
  }

  /** DuckDB spelling of the LEGACY stage-1 normal form over the raw
    * `text` column (q218's literal) — also the analytic base the q225
    * construction maps through `translate`. */
  private val LegacyNormSql =
    "trim(regexp_replace(regexp_replace(lower(text), " +
      "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** The six-stage pipeline's CTE chain (q218's verbatim stage
    * semantics) with suffixed CTE names, a parameterized corpus
    * restriction, and a parameterized scored-CTE source — the
    * generator q222 uses to replay the pipeline TWICE in one oracle
    * (prefix-restricted and full). eval_t/eval_g are shared between
    * instantiations (the frozen registry is corpus-independent) and
    * therefore NOT emitted here. Semantic drift from q218's literal
    * chain is self-catching: q222's full side must hash-match the
    * Spark finalize that q221 already proves equal to one-shot q218.
    *
    * `textExpr`/`ntextExpr` (round 17, the q225 hooks): the corpus
    * text and its stage-1 normal form as SQL over the raw `documents`
    * row — defaults reproduce q218's literal (raw text, legacy norm);
    * q225 passes the constructed multilingual variant and its
    * ANALYTIC unicode normal form (the q224 trick: NFKC of the
    * construction is computable by `translate`, no DuckDB NFKC
    * needed). Both are evaluated in the corpus CTE's projection, so
    * `text` inside them is the raw column, not the alias. */
  private def pipelineChainCtes(sfx: String, corpusWhere: String,
                                scoredCte: String,
                                textExpr: String = "text",
                                ntextExpr: String = LegacyNormSql): String =
    s""", corpus$sfx AS (
       |  SELECT doc_id, source, $textExpr AS text, $ntextExpr AS ntext
       |  FROM documents WHERE $corpusWhere
       |), nrm$sfx AS (
       |  SELECT doc_id, ntext FROM corpus$sfx
       |), d1$sfx AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (PARTITION BY md5(ntext)
       |      ORDER BY doc_id) AS rn
       |    FROM nrm$sfx) WHERE rn = 1
       |), st$sfx AS (
       |  SELECT c.doc_id, c.source, c.text
       |  FROM corpus$sfx c JOIN d1$sfx USING (doc_id)
       |), t2$sfx AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM st$sfx
       |), tok2$sfx AS (
       |  SELECT doc_id, generate_subscripts(ts, 1) AS i, unnest(ts) AS tok
       |  FROM t2$sfx
       |), chunks$sfx AS (
       |  SELECT doc_id, CAST((i - 1) // 10 AS BIGINT) AS chunk_idx,
       |         CAST(count(*) AS BIGINT) AS chunk_tokens,
       |         string_agg(tok, ' ' ORDER BY i) AS chunk_text
       |  FROM tok2$sfx GROUP BY doc_id, (i - 1) // 10
       |), flagged$sfx AS (
       |  SELECT doc_id, chunk_idx, chunk_tokens, chunk_text,
       |    (ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
       |       ORDER BY doc_id, chunk_idx) = 1) AS keep
       |  FROM chunks$sfx
       |), cleaned$sfx AS (
       |  SELECT doc_id,
       |    coalesce(string_agg(CASE WHEN keep THEN chunk_text END, ' '
       |      ORDER BY chunk_idx), '') AS clean_text,
       |    CAST(sum(CASE WHEN keep THEN chunk_tokens ELSE 0 END) AS BIGINT)
       |      AS kept_toks
       |  FROM flagged$sfx GROUP BY doc_id
       |), ctoks$sfx AS (
       |  SELECT doc_id, string_split(clean_text, ' ') AS ts
       |  FROM cleaned$sfx WHERE kept_toks >= 1
       |), cgrams$sfx AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |      generate_series(1, len(ts) - 2),
       |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS g
       |  FROM ctoks$sfx WHERE len(ts) >= 3
       |), contam$sfx AS (
       |  SELECT t.doc_id,
       |    CAST(sum(CASE WHEN e.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
       |      / count(*) >= 0.5 AS contaminated
       |  FROM cgrams$sfx t LEFT JOIN eval_g e ON t.g = e.g
       |  GROUP BY t.doc_id
       |), surv3$sfx AS (
       |  SELECT c.doc_id, s.source, c.kept_toks
       |  FROM cleaned$sfx c JOIN st$sfx s USING (doc_id)
       |  LEFT JOIN contam$sfx ct USING (doc_id)
       |  WHERE c.kept_toks >= 1 AND NOT coalesce(ct.contaminated, false)
       |), pranked$sfx AS (
       |  SELECT sv.doc_id, sv.source, sv.kept_toks, sc.sc,
       |    CAST(row_number() OVER (PARTITION BY sv.source
       |      ORDER BY sc.sc, sv.doc_id) AS BIGINT) AS rn,
       |    CAST(count(*) OVER (PARTITION BY sv.source) AS BIGINT) AS n
       |  FROM surv3$sfx sv JOIN $scoredCte sc USING (doc_id)
       |), kept4$sfx AS (
       |  SELECT doc_id, source, kept_toks, sc,
       |    CASE WHEN n = 1 THEN 0.5
       |         ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS pct
       |  FROM pranked$sfx
       |  WHERE (CASE WHEN n = 1 THEN 0.5
       |         ELSE CAST(rn - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END) >= 0.5
       |), iws$sfx AS (
       |  SELECT source, CAST(sum(kept_toks) AS BIGINT) AS t_src,
       |    CAST(floor(sqrt(CAST(sum(kept_toks) AS DOUBLE))) AS BIGINT) AS iw
       |  FROM kept4$sfx GROUP BY source
       |), tot$sfx AS (
       |  SELECT CAST(sum(t_src) AS BIGINT) AS total,
       |         CAST(sum(iw) AS BIGINT) AS sum_iw FROM iws$sfx
       |), budgets$sfx AS (
       |  SELECT i.source,
       |    CAST((CAST(t.total // 2 AS HUGEINT) * i.iw) // t.sum_iw AS BIGINT)
       |      AS token_budget
       |  FROM iws$sfx i, tot$sfx t
       |), mranked$sfx AS (
       |  SELECT k.doc_id, k.source, k.kept_toks, k.sc, k.pct,
       |    CAST(SUM(k.kept_toks) OVER (PARTITION BY k.source
       |      ORDER BY md5(CAST(k.doc_id AS VARCHAR) || '|42'), k.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_src
       |  FROM kept4$sfx k
       |), kept5$sfx AS (
       |  SELECT m.doc_id, m.source, m.sc, m.pct, m.kept_toks
       |  FROM mranked$sfx m JOIN budgets$sfx b USING (source)
       |  WHERE m.cum_src <= b.token_budget
       |), packed$sfx AS (
       |  SELECT doc_id, source, sc, pct, kept_toks,
       |    CAST(SUM(kept_toks) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |      AS cum_tokens
       |  FROM kept5$sfx
       |)""".stripMargin

  /** One side of q222's final projection — q218's output columns off
    * the suffixed packed CTE, tagged with the phase label. */
  private def packedSelect(sfx: String, phase: String): String =
    s"""SELECT '$phase' AS phase, CAST(doc_id AS BIGINT) AS doc_id, source,
       |  CAST(sc AS BIGINT) AS score_fp, pct,
       |  CAST(kept_toks AS BIGINT) AS n_toks, cum_tokens,
       |  CAST((cum_tokens - kept_toks) // 512 AS BIGINT) AS start_seq,
       |  CAST((cum_tokens - kept_toks) % 512 AS BIGINT) AS start_offset,
       |  CAST((cum_tokens - 1) // 512 AS BIGINT) AS end_seq
       |FROM packed$sfx""".stripMargin

  /** The prefix cut q222 finalizes at — shards 0 and 1 of q221's
    * three monotone doc_id thirds, as one SQL scalar. */
  private val BoundaryCutSql =
    "2 * ((SELECT max(doc_id) + 1 FROM documents) // 3)"

  /** Round-15: finalize-at-ANY-boundary — the operational property
    * an incremental [[graft.ops.CurationPipeline]] needs (its
    * `finalizePipeline` at ANY shard boundary, not just the last) and
    * q221 does NOT prove (q221 certifies only the FINAL boundary). The corpus arrives as q221's three monotone shards;
    * after shard 1 the pipeline is finalized MID-STREAM (the curated
    * corpus a team would train on while shards keep arriving), then
    * shard 2 is ingested and the pipeline finalized again. Output is
    * both finalizes, phase-tagged. The hash certifies TWO claims at
    * once, per SF:
    *
    *  - the mid-stream finalize over shards 0–1 equals the ONE-SHOT
    *    six-stage pipeline over the prefix corpus (the oracle replays
    *    the chain prefix-restricted, with θ_P trained on exactly the
    *    prefix rows the Gram sidecar has seen — [[pipelineChainCtes]]
    *    + [[gramGdCtes]]);
    *  - finalize is NON-DESTRUCTIVE: ingest continues after it
    *    (compaction is file-layout only; the digest/chunk/registry
    *    sidecars are untouched) and the SECOND finalize still equals
    *    the one-shot pipeline over the full corpus.
    *
    * The prefix finalize is eagerly materialized (DISK_ONLY local
    * checkpoint) BEFORE shard 2 lands — its plan reads the sidecar
    * dirs, and a lazy frame re-evaluated after the append would see
    * shard 2's rows (the exact read-after-append trap a mid-stream
    * consumer must close; materializing the handoff is the
    * documented contract). Feature columns ride with the shards,
    * scaled over the FULL corpus by the upstream feature pipeline —
    * the standing [[LinearProbe.writeGramSidecar]] contract (q221's
    * note): a prefix-scaled re-derivation would be a DIFFERENT
    * feature pipeline, not an incremental run of this one. */
  val q222BoundaryFinalize = QueryDef(
    "q222_boundary_finalize",
    ProbeOracleCtes +
      gramGdCtes("P", s"doc_id < $BoundaryCutSql") +
      s"""
         |, scoredP AS (
         |  SELECT f.doc_id,
         |    (CAST(f.f0 AS HUGEINT)*t.t0 + CAST(f.f1 AS HUGEINT)*t.t1
         |     + CAST(f.f2 AS HUGEINT)*t.t2 + CAST(f.f3 AS HUGEINT)*t.t3
         |     + CAST(f.f4 AS HUGEINT)*t.t4 + CAST(f.f5 AS HUGEINT)*t.t5
         |     + CAST(f.f6 AS HUGEINT)*t.t6)//1000000 AS sc
         |  FROM feats f, thetaP t
         |  WHERE f.doc_id < $BoundaryCutSql
         |), eval_t AS (
         |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
         |  WHERE doc_id % 19 = 0
         |), eval_g AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |      generate_series(1, len(ts) - 2),
         |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS g
         |  FROM eval_t WHERE len(ts) >= 3
         |)""".stripMargin +
      pipelineChainCtes("P",
        s"doc_id % 19 <> 0 AND doc_id < $BoundaryCutSql", "scoredP") +
      pipelineChainCtes("F", "doc_id % 19 <> 0", "scored") +
      "\n" + packedSelect("F", "full") +
      "\nUNION ALL\n" + packedSelect("P", "prefix") +
      "\nORDER BY phase, doc_id") { (s, d) =>
    val dirs = CurationPipeline.Dirs({
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q222_pipeline_$sf"
    })
    val docs = Tables.documents(s, d)
    val holdout = col("doc_id") % 19 === 0
    CurationPipeline.init(s, dirs, docs.filter(holdout))
    val withFeats = docs.select(col("doc_id"), col("source"), col("text"))
      .join(probeScaled(s, d), "doc_id")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val c1 = (maxId + 1) / 3
    val c2 = 2 * c1
    def shard(lo: Long, hi: Long) =
      withFeats.filter(col("doc_id") >= lo && col("doc_id") < hi)
    CurationPipeline.ingestShard(shard(Long.MinValue, c1), dirs, holdout,
      shardId = "s0")
    CurationPipeline.ingestShard(shard(c1, c2), dirs, holdout,
      shardId = "s1")
    // the mid-stream finalize — materialized BEFORE the next shard
    // lands (see scaladoc: the read-after-append trap)
    val prefix = CurationPipeline.finalizePipeline(s, dirs)
      .withColumn("phase", lit("prefix"))
      .localCheckpoint(true, StorageLevel.DISK_ONLY)
    CurationPipeline.ingestShard(shard(c2, Long.MaxValue), dirs, holdout,
      shardId = "s2")
    val full = CurationPipeline.finalizePipeline(s, dirs)
      .withColumn("phase", lit("full"))
    full.unionByName(prefix)
      .select(col("phase"), col("doc_id"), col("source"), col("score_fp"),
        col("pct"), col("n_toks"), col("cum_tokens"), col("start_seq"),
        col("start_offset"), col("end_seq"))
      .orderBy(col("phase"), col("doc_id"))
  }

  /** Round-15: EXACT UNLEARNING of the quality probe — the takedown /
    * right-to-erasure lifecycle a long-lived 100 TB trainer state
    * needs, as one oracled computation. A batch of previously-ingested
    * rows (doc_id % 5 = 3) must be forgotten: the pipeline appends the
    * batch's Gram moment row NEGATED
    * ([[graft.ops.LinearProbe.writeGramDeletion]]) and compacts — the
    * retained corpus is NEVER re-read, sidecar IO is one ~d²-decimal
    * row, and because the Gram is the probe's complete sufficient
    * statistic and additive over row-disjoint batches, exact decimal
    * subtraction makes θ fitted from the post-deletion sidecar
    * BIT-EQUAL to a from-scratch fit over corpus-minus-batch. That
    * bit-equality is the certificate: the oracle replays the ENTIRE
    * 24-iteration training loop on `doc_id % 5 <> 3` (a second
    * [[gramGdCtes]] instantiation) plus the full-corpus loop, and the
    * hash compares both weight vectors coefficient-by-coefficient —
    * if the sidecar retained ANY influence of the deleted rows (or
    * forgot too much), a coefficient moves and the hash breaks. The
    * report is q220's shape: one row per coefficient with exact
    * fixed-point kept/unlearned/delta (d+1 = 7 rows, driver-bounded
    * by construction); delta ≠ 0 rows show exactly which signals the
    * deleted batch was carrying. */
  val q223ProbeUnlearn = QueryDef(
    "q223_probe_unlearn",
    ProbeOracleCtes +
      gramGdCtes("R", "doc_id % 5 <> 3") +
      """
        |, drift AS (
        |""".stripMargin +
      (0 to 6).map(j =>
        s"  SELECT CAST($j AS BIGINT) AS j, CAST(t.t$j AS BIGINT) AS theta_full," +
          s" CAST(r.t$j AS BIGINT) AS theta_unlearned FROM theta t, thetaR r")
        .mkString("", "\n  UNION ALL\n", "\n") +
      """|)
         |SELECT j, theta_full, theta_unlearned,
         |  theta_unlearned - theta_full AS delta
         |FROM drift ORDER BY j""".stripMargin) { (s, d) =>
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q223_gram_sidecar_$sf"
    }
    graft.sources.Sinks.wipeForRebuild(s, dir)
    val scaled = probeScaled(s, d)
    // ingest the full corpus as two batches (the q219 lifecycle), fit
    // the pre-deletion weights from the accumulated state
    LinearProbe.writeGramSidecar(
      scaled.filter(pmod(col("doc_id"), lit(3L)) =!= 2L), 7, dir)
    LinearProbe.writeGramSidecar(
      scaled.filter(pmod(col("doc_id"), lit(3L)) === 2L), 7, dir)
    val thetaFull = LinearProbe.fitFromSidecar(s, dir, 7, iters = 24)
    // the takedown: forget doc_id % 5 = 3 by moment subtraction, then
    // compact — state is one row again, the deletion is irreversible
    LinearProbe.writeGramDeletion(
      scaled.filter(pmod(col("doc_id"), lit(5L)) === 3L), 7, dir)
    LinearProbe.compactGramSidecar(s, dir, 7)
    val thetaUnlearned = LinearProbe.fitFromSidecar(s, dir, 7, iters = 24)
    import s.implicits._
    import LinearProbe.thetaLong
    (0 to 6).map(j => (j.toLong, thetaLong(thetaFull(j)),
        thetaLong(thetaUnlearned(j)),
        thetaLong(thetaUnlearned(j)) - thetaLong(thetaFull(j))))
      .toDF("j", "theta_full", "theta_unlearned", "delta")
      .orderBy(col("j"))
  }

  /** Alphabet maps for q225's constructed multilingual corpus — the
    * q224 construction WITHOUT the space mapping (token boundaries
    * must survive the variant so stages 2–3 chunk and n-gram the
    * variant text exactly like the oracle's `string_split`): a–z0–9
    * to their fullwidth forms (NFKC folds them back to ASCII) and to
    * 36 NFKC-stable lowercase non-Latin letters (32 Cyrillic + 4
    * Greek, which NFKC preserves). Shared literally with the oracle's
    * `translate`. */
  private val Ascii36 = "abcdefghijklmnopqrstuvwxyz0123456789"
  private val Fullwidth36 =
    "ａｂｃｄｅｆｇｈｉｊｋｌｍｎｏｐｑｒｓｔｕｖｗｘｙｚ" +
      "０１２３４５６７８９"
  private val Cyrillic36 = "абвгдежзийклмнопрстуфхцчшщъыьэюяαβγδ"

  /** SQL form of q225's per-document variant rule over the raw
    * `documents` row: class 1 (doc_id % 3 = 1) is the fullwidth
    * variant, class 2 the Cyrillic/Greek variant, class 0 the raw
    * ASCII text. */
  private def variantSql: String =
    s"CASE WHEN doc_id % 3 = 1 THEN translate(text, '$Ascii36', " +
      s"'$Fullwidth36') WHEN doc_id % 3 = 2 THEN translate(text, " +
      s"'$Ascii36', '$Cyrillic36') ELSE text END"

  /** The ANALYTIC unicode normal form of the variant (the q224
    * certificate applied per class): fullwidth NFKC-folds back onto
    * the legacy ASCII norm; the Cyrillic/Greek letters are NFKC-
    * stable, and because the variant maps exactly the kept `[a-z0-9]`
    * class and leaves spaces/punctuation alone, normalization and
    * `translate` commute — unicode_norm(variant) =
    * translate(legacy_norm). */
  private def unicodeNtextSql: String =
    s"CASE WHEN doc_id % 3 = 2 THEN translate($LegacyNormSql, " +
      s"'$Ascii36', '$Cyrillic36') ELSE $LegacyNormSql END"

  /** Spark form of the same variant rule. */
  private[graft] def variantText(text: org.apache.spark.sql.Column,
                                 docId: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(docId % 3 === 1, translate(text, Ascii36, Fullwidth36))
      .when(docId % 3 === 2, translate(text, Ascii36, Cyrillic36))
      .otherwise(text)

  /** Round-17 (the round-16 verdict's #1 ask — the cure, taken): the
    * SIX-STAGE CURATION PIPELINE ON A MULTILINGUAL CORPUS, through
    * the production incremental entry point with the UNICODE
    * normalizer ([[graft.ops.CurationPipeline.ingestShard]]'s
    * round-17 `normalize` parameter =
    * [[TextAnalysis.normalizeTextUnicode]]). q224 certified the
    * normalizer as an OPERATOR; this certifies it as an INTEGRATION:
    * the corpus is the q224-style construction (per doc_id % 3: raw
    * ASCII / fullwidth variant / Cyrillic+Greek variant, letters-and-
    * digits-only maps so token boundaries survive), every stage runs
    * over the variant bytes — dedup digests of the unicode normal
    * form, chunk keys and decontamination n-grams of the variant
    * text, the frozen registry built from the VARIANT holdout — and
    * the final packed corpus must hash-match DuckDB replaying the
    * one-shot chain with the ANALYTIC normal form (fullwidth folds
    * onto the ASCII norm; Cyrillic is `translate` of it — no DuckDB
    * NFKC needed, the q224 trick at pipeline scale).
    *
    * What the hash certifies that q218/q221/q224 cannot: non-Latin
    * documents SURVIVE the composed pipeline as distinct documents
    * (under the legacy normalizer every class-2 doc normalizes to ''
    * and stage 1 deletes the whole language — q224's
    * `legacy_fw_empty` at the integration point); cross-SCRIPT
    * near-copies do NOT collapse (a Cyrillic doc is not a duplicate
    * of its Latin twin — distinct normal forms); and incremental ≡
    * one-shot holds under the unicode normalizer exactly as q221
    * proves it for the legacy one (same monotone three-shard
    * arrival). Features ride from the upstream feature pipeline
    * unchanged (computed on the base corpus, joined by doc_id — the
    * standing writeGramSidecar contract), so θ is q210's verbatim
    * and the oracle's probe CTEs are shared.
    *
    * Scale shape: identical to q221 — the variant is a per-row
    * projection; no new shuffle, no new state. */
  /** q226's CJK map (36 NFKC-stable basic-block ideographs) — shared
    * literally with the q229 oracle's `translate`. */
  private val Han36c =
    "一二三四五六七八九十百千万水火木金土日月山川田人口手目耳足車門馬魚鳥米貝"

  /** q229's per-document variant rule: odd doc_ids become the
    * UNSEGMENTED-script CJK variant (every letter/digit an ideograph,
    * word spaces kept so the chunk/n-gram stages replay), even stay
    * raw ASCII — the q226 retrieval construction pointed at the
    * pipeline. */
  private def hanVariantSql: String =
    s"CASE WHEN doc_id % 2 = 1 THEN translate(text, '$Ascii36', " +
      s"'$Han36c') ELSE text END"

  /** Analytic unicode normal form of the Han variant (normalization
    * and `translate` commute on the letters/digits-only map — the
    * q224/q226 certificate): translate of the legacy norm for the CJK
    * class, the legacy norm itself for ASCII. */
  private def hanNtextSql: String =
    s"CASE WHEN doc_id % 2 = 1 THEN translate($LegacyNormSql, " +
      s"'$Ascii36', '$Han36c') ELSE $LegacyNormSql END"

  private[graft] def hanPipelineVariantText(
      text: org.apache.spark.sql.Column,
      docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(docId % 2 === 1, translate(text, Ascii36, Han36c)).otherwise(text)

  /** Round-18 (the round-17 verdict's #1 ask, second half — "real-CJK
    * pipeline certification"): q225's SIX-STAGE INCREMENTAL PIPELINE
    * over a corpus that includes a genuinely UNSEGMENTED script — the
    * q226 Han construction (every ASCII letter/digit an NFKC-stable
    * ideograph) instead of q225's boundary-preserving
    * fullwidth/Cyrillic variants. What this hash certifies beyond
    * q225: CJK documents SURVIVE the composed pipeline as distinct
    * documents (under the legacy normalizer every Han doc normalizes
    * to '' and stage 1 deletes the script class wholesale), dedup
    * digests distinguish a Han doc from its ASCII twin (cross-script
    * near-copies do NOT collapse), the chunk-key and decontamination
    * stages operate on the CJK bytes (the frozen registry's Han
    * eval-grams fire within the script class and never across), and
    * incremental ≡ one-shot holds with half the corpus in an
    * unsegmented script. The oracle replays the whole chain with the
    * ANALYTIC normal form (translate of the legacy norm — no DuckDB
    * NFKC needed). Features ride from the upstream feature pipeline
    * by doc_id exactly as in q221/q225, so θ and the probe CTEs are
    * shared verbatim.
    *
    * Scale shape: identical to q221/q225 — the variant is a per-row
    * projection; no new shuffle, no new state. */
  val q229CjkCuration = QueryDef(
    "q229_cjk_curation",
    ProbeOracleCtes +
      s""", eval_t AS (
         |  SELECT doc_id, string_split($hanVariantSql, ' ') AS ts
         |  FROM documents WHERE doc_id % 19 = 0
         |), eval_g AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |      generate_series(1, len(ts) - 2),
         |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS g
         |  FROM eval_t WHERE len(ts) >= 3
         |)""".stripMargin +
      pipelineChainCtes("H", "doc_id % 19 <> 0", "scored",
        textExpr = hanVariantSql, ntextExpr = hanNtextSql) +
      """
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |  CAST(sc AS BIGINT) AS score_fp, pct,
        |  CAST(kept_toks AS BIGINT) AS n_toks, cum_tokens,
        |  CAST((cum_tokens - kept_toks) // 512 AS BIGINT) AS start_seq,
        |  CAST((cum_tokens - kept_toks) % 512 AS BIGINT) AS start_offset,
        |  CAST((cum_tokens - 1) // 512 AS BIGINT) AS end_seq
        |FROM packedH ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dirs = CurationPipeline.Dirs({
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q229_pipeline_$sf"
    })
    val docs = Tables.documents(s, d)
    val vdocs = docs.select(col("doc_id"), col("source"),
      hanPipelineVariantText(col("text"), col("doc_id")).as("text"))
    val holdout = col("doc_id") % 19 === 0
    CurationPipeline.init(s, dirs, vdocs.filter(holdout))
    val withFeats = vdocs.join(probeScaled(s, d), "doc_id")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cuts = Seq(Long.MinValue, (maxId + 1) / 3, 2 * ((maxId + 1) / 3),
      Long.MaxValue)
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      CurationPipeline.ingestShard(
        withFeats.filter(col("doc_id") >= lo && col("doc_id") < hi),
        dirs, holdout, shardId = s"s$i",
        normalize = TextAnalysis.normalizeTextUnicode(_))
    }
    CurationPipeline.finalizePipeline(s, dirs)
  }

  val q225UnicodeCuration = QueryDef(
    "q225_unicode_curation",
    ProbeOracleCtes +
      s""", eval_t AS (
         |  SELECT doc_id, string_split($variantSql, ' ') AS ts
         |  FROM documents WHERE doc_id % 19 = 0
         |), eval_g AS (
         |  SELECT DISTINCT unnest(list_distinct(list_transform(
         |      generate_series(1, len(ts) - 2),
         |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS g
         |  FROM eval_t WHERE len(ts) >= 3
         |)""".stripMargin +
      pipelineChainCtes("U", "doc_id % 19 <> 0", "scored",
        textExpr = variantSql, ntextExpr = unicodeNtextSql) +
      """
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |  CAST(sc AS BIGINT) AS score_fp, pct,
        |  CAST(kept_toks AS BIGINT) AS n_toks, cum_tokens,
        |  CAST((cum_tokens - kept_toks) // 512 AS BIGINT) AS start_seq,
        |  CAST((cum_tokens - kept_toks) % 512 AS BIGINT) AS start_offset,
        |  CAST((cum_tokens - 1) // 512 AS BIGINT) AS end_seq
        |FROM packedU ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dirs = CurationPipeline.Dirs({
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q225_pipeline_$sf"
    })
    val docs = Tables.documents(s, d)
    val vdocs = docs.select(col("doc_id"), col("source"),
      variantText(col("text"), col("doc_id")).as("text"))
    val holdout = col("doc_id") % 19 === 0
    // registry frozen from the VARIANT holdout — class-2 eval grams
    // are Cyrillic, so contamination fires within a script class and
    // never across (byte semantics, the correct behavior)
    CurationPipeline.init(s, dirs, vdocs.filter(holdout))
    val withFeats = vdocs.join(probeScaled(s, d), "doc_id")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cuts = Seq(Long.MinValue, (maxId + 1) / 3, 2 * ((maxId + 1) / 3),
      Long.MaxValue)
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      CurationPipeline.ingestShard(
        withFeats.filter(col("doc_id") >= lo && col("doc_id") < hi),
        dirs, holdout, shardId = s"s$i",
        normalize = TextAnalysis.normalizeTextUnicode(_))
    }
    CurationPipeline.finalizePipeline(s, dirs)
  }

  val all: Seq[QueryDef] = Seq(
    q113Decontam, q114Repetition, q115PiiScrub, q116VocabCoverage, q117Funnel,
    q118MixtureWeights, q119CurationReport, q200PercentileNorm,
    q209QualityFeatures, q210QualityProbe, q211ProbeAuc, q212ProbeSidecar,
    q213ProbeCv, q215ProbeQualityCut, q217ProbeCalibratedCut,
    q218CurationPipeline, q219ProbeLifecycle, q220ProbeWeightDrift,
    q221IncrementalCuration, q222BoundaryFinalize, q223ProbeUnlearn,
    q225UnicodeCuration, q229CjkCuration)
}
