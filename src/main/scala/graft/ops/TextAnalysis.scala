package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.TaggedSidecar

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language ID, and
  * document fingerprinting. All pure Catalyst expressions (split /
  * higher-order functions / hashes) — codegen-friendly, no UDFs, no
  * shuffles; they compose into any scan as per-row projections.
  */
object TextAnalysis {

  /** Whitespace tokenization. */
  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: runs of letters, runs of digits, or single
    * other non-space chars — the classic pre-tokenizer regex. The
    * pattern is RE2/Java-compatible (no lookarounds) so an external
    * oracle can replicate it. */
  val BpeishPattern = "[a-z]+|[A-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Word n-grams as an in-row array (q98's bigram builder generalized
    * to any n): the token array is materialized ONCE in a parent
    * projection by the caller — inside a HOF lambda, `split` would
    * re-run per element with no common-subexpression elimination,
    * turning the build O(tokens²) per document. Documents with fewer
    * than n tokens yield an empty array (full-coverage semantics are
    * the chunker's job, not the n-gram builder's). Pure projection: no
    * shuffle, embarrassingly parallel at any corpus size. */
  def wordNgrams(toks: Column, n: Int): Column = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Canonical text normalization for formatting-robust dedup:
    * lowercase, non-alphanumerics → space, runs of spaces collapsed,
    * ends trimmed. Exact dedup on raw bytes misses trivially
    * reformatted copies (case changes, punctuation, whitespace
    * layout) — the most common duplicate class in web crawls;
    * normalizing first catches them while staying EXACT (no
    * similarity threshold to tune, no false positives beyond the
    * normalization's own equivalence class). Patterns are
    * RE2/Java-compatible so an external oracle replays the bytes.
    * Pure per-row projection — codegen'd regexes, no shuffle.
    *
    * LATIN-ONLY BY CONSTRUCTION: the `[a-z0-9 ]` class normalizes
    * every non-Latin document to the empty string, so on a
    * multilingual corpus — the normal 100 TB input — dedup on this
    * form collapses all CJK/Cyrillic/Arabic docs into one "duplicate"
    * cluster and silently deletes entire languages. Point
    * multilingual corpora at [[normalizeTextUnicode]] (NFKC +
    * case-fold + any-script `\p{L}\p{N}` classes — q224's certificate;
    * identical to this form on pure `[a-z0-9 ]` input). */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Unicode-aware canonical normalization — the multilingual twin of
    * [[normalizeText]]: NFKC compatibility folding (fullwidth→ASCII,
    * ligatures, ideographic space), ROOT-locale case fold, keep
    * letters/digits of ANY script, drop combining marks in place,
    * collapse separators. One codegen'd native expression
    * ([[graft.functions.NfkcNormalize]] — semantics, determinism and
    * the mark-handling rationale live there); q224 hash-certifies the
    * fold/survive behavior at three SFs via constructed fullwidth and
    * Cyrillic variants. */
  def normalizeTextUnicode(text: Column): Column =
    graft.functions.GraftFunctions.nfkc_normalize(text)

  /** Segmentation-safe tokens for mixed-script text: unicode-normalize
    * ([[normalizeTextUnicode]]), then give each CJK ideograph /
    * kana / hangul syllable its own token (the character-unigram
    * convention — CJK has no whitespace word boundaries, and
    * whitespace-splitting an unsegmented sentence yields one giant
    * pseudo-token that defeats every token-level op downstream), then
    * split on spaces. Latin/Cyrillic/etc. words keep whitespace
    * tokenization; `split` with a trailing-empty filter matches
    * [[tokens]]' conventions. Pure projection, codegen'd regex. */
  def tokensUnicode(text: Column): Column =
    filter(
      split(regexp_replace(normalizeTextUnicode(text),
        "([\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsHangul}])",
        " $1 "), " +"),
      t => length(t) > 0)

  /** English-ish stopword set used by the quality heuristics. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Tokens-in-set count via the fused native expression
    * ([[graft.functions.TokensInSet]]): one zero-copy byte scan
    * instead of split + interpreted per-token lambda. */
  def tokensInSet(text: Column, words: Seq[String]): Column =
    graft.functions.GraftFunctions.tokens_in_set(text, words)

  def stopwordCount(text: Column): Column = tokensInSet(text, Stopwords)

  /** Quality heuristics (length / punctuation / stopword ratios):
    *  - n_chars, n_tokens
    *  - mean token length
    *  - stopword ratio (too low → gibberish, too high → boilerplate)
    *  - non-alphanumeric character ratio
    * plus a composite [0,1] score. */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val toks = tokens(text)
    val nTokens = size(toks)
    val nChars = length(text)
    val meanTokLen = (nChars - nTokens + 1).cast("double") / nTokens
    val stopRatio = stopwordCount(text).cast("double") / nTokens
    val punctRatio =
      (nChars - length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))).cast("double") /
        nChars
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTokens,
      "mean_tok_len" -> meanTokLen,
      "stop_ratio" -> stopRatio,
      "punct_ratio" -> punctRatio)
  }

  /** Tokenizer-parameterized quality statistics (round 18 — the word
    * statistics reachable from the multilingual path): same five
    * signals, computed over `tokenizer(text)` so an unsegmented CJK
    * document gets PER-CHARACTER token counts instead of degenerating
    * to one giant pseudo-token (n_tokens = 1, mean_tok_len = length —
    * garbage in every downstream quality cut). Differences from the
    * legacy single-arg form, which is kept verbatim for oracle
    * stability (q209's features feed every probe/pipeline hash):
    *
    *  - `mean_tok_len` is the exact Σ length(token) / n_tokens — the
    *    legacy `(n_chars − n_tokens + 1)/n_tokens` telescopes to the
    *    same value only on single-space-joined text and is meaningless
    *    when the tokenizer inserts its own boundaries;
    *  - `stop_ratio` counts stopword TOKENS of the tokenizer (an
    *    English-marker signal by design: ≈0 on non-Latin scripts);
    *  - `punct_ratio` keeps letters/digits of ANY script
    *    (`\p{L}\p{N}` — the [[normalizeTextUnicode]] class) so CJK
    *    ideographs are content, not "punctuation".
    *
    * All pure per-row projections; every number replays externally
    * (q232's oracle replays both script classes analytically). */
  def qualityColumns(text: Column,
                     tokenizer: Column => Column): Seq[(String, Column)] = {
    val toks = tokenizer(text)
    val nTokens = size(toks)
    val nChars = length(text)
    val sumTokLen = aggregate(toks, lit(0), (acc, t) => acc + length(t))
    val meanTokLen = sumTokLen.cast("double") / nTokens
    val stopRatio =
      size(filter(toks, t => t.isin(Stopwords: _*))).cast("double") / nTokens
    val punctRatio =
      (nChars - length(regexp_replace(text, "[^\\p{L}\\p{N} ]", "")))
        .cast("double") / nChars
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTokens,
      "mean_tok_len" -> meanTokLen,
      "stop_ratio" -> stopRatio,
      "punct_ratio" -> punctRatio)
  }

  /** Composite quality score in [0,1]: penalizes very short docs,
    * extreme mean token lengths, and missing stopwords. */
  def qualityScore(text: Column): Column = {
    val cols = qualityColumns(text).toMap
    val lenOk = least(cols("n_tokens").cast("double") / 20.0, lit(1.0))
    val tokOk = when(cols("mean_tok_len").between(2.0, 12.0), 1.0).otherwise(0.3)
    val stopOk = when(cols("stop_ratio").between(0.01, 0.6), 1.0).otherwise(0.5)
    round(lenOk * tokOk * stopOk, 4)
  }

  /** Tiny per-language marker-word profiles for the n-gram/stopword
    * language-ID heuristic. Deliberately small and deterministic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is", "to"),
    "es" -> Seq("el", "la", "de", "y", "que", "en"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un"))

  /** Language-ID heuristic: argmax over language profiles of marker
    * hit counts; ties and zero hits resolve to "und" (undetermined).
    * One pass over the token array per profile — a per-row projection,
    * embarrassingly parallel at any scale. */
  def langId(text: Column): Column = {
    // array of (score, lang) structs; array_max picks lexicographically
    // greatest = highest score, ties broken by lang name. Scores are
    // fused native tokens-in-set counts (one byte scan per profile).
    val scored = array(LangProfiles.map { case (lang, words) =>
      struct(tokensInSet(text, words).as("score"), lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Character-trigram profiles per language (tiny, deterministic). */
  val CharNgramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "ing", "and", "ion", "ent", "her"),
    "es" -> Seq("que", "ado", "los", "cio", "nte", "ien"),
    "de" -> Seq("der", "sch", "ein", "ich", "und", "gen"),
    "fr" -> Seq("les", "ent", "ion", "ait", "eur", "ons"))

  /** Character-n-gram language ID: argmax over languages of profile
    * trigram hits in the text's char-trigram multiset. Complements the
    * word-marker [[langId]]; works on unsegmented scripts where
    * whitespace tokenization fails. Scores are fused native n-gram
    * counts ([[graft.functions.NgramsInSet]] — one byte scan per
    * profile instead of a substring allocation per window position). */
  def langIdCharNgram(text: Column): Column = {
    val lowered = lower(text)
    val scored = array(CharNgramProfiles.map { case (lang, grams) =>
      struct(graft.functions.GraftFunctions.ngrams_in_set(lowered, grams)
        .as("score"), lit(lang).as("lang"))
    }: _*)
    val best = array_max(scored)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Order-sensitive rolling document fingerprint, interpreted-HOF
    * reference formulation: rotate-left-5 XOR accumulation of
    * per-token hashes — a content-AND-order signature, unlike the
    * set-based dedup signatures in [[Dedup]]. Pure bit ops, so no ANSI
    * overflow (a polynomial acc*31+h would throw under Spark 4's
    * default ANSI mode). Bit-identical to the fused one-scan codegen
    * expression ([[graft.functions.GraftFunctions.rolling_fingerprint]])
    * that callers use; kept for the bit-identity property test. */
  def fingerprintHof(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) =>
      shiftleft(acc, 5).bitwiseXOR(shiftrightunsigned(acc, 59))
        .bitwiseXOR(xxhash64(t)))

  /** Cross-engine-replayable rolling fingerprint: same rotl-XOR fold,
    * but the token hash is the top 60 bits of the token's MD5 and the
    * fold runs in a 60-bit domain — every quantity stays in [0, 2^60),
    * so an external engine (DuckDB `list_reduce`, q28's oracle)
    * replays it with plain signed-64-bit arithmetic. Runs as the fused
    * one-scan codegen expression
    * ([[graft.functions.RollingFingerprintMd5]]); [[fingerprintMd5Hof]]
    * is the property-test twin. Use
    * [[graft.functions.GraftFunctions.rolling_fingerprint]] (xxhash64,
    * ~3× faster per token) when external replay isn't needed. */
  def fingerprintMd5(text: Column): Column =
    graft.functions.GraftFunctions.rolling_fingerprint_md5(text)

  /** Interpreted-HOF md5 fingerprint (reference formulation,
    * bit-identical to the fused expression): the token hash is
    * q109's md5-prefix construction — `conv(substring(md5(t),1,15),
    * 16, 10)` — and rotl60(acc,5) is `((acc & 2^55-1) << 5) |
    * (acc >>> 55)`. */
  def fingerprintMd5Hof(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) =>
      shiftleft(acc.bitwiseAND(lit((1L << 55) - 1)), 5)
        .bitwiseOR(shiftrightunsigned(acc, 55))
        .bitwiseXOR(conv(substring(md5(t), 1, 15), 16, 10).cast("long")))

  /** Fixed-size token chunking with overlap — the standard step that
    * turns variable-length documents into training-window-sized pieces
    * (stride = chunkTokens - overlap). Implemented as an in-row
    * generator: `sequence` of chunk starts → `posexplode` → `slice`,
    * so the fan-out is a per-row projection with NO shuffle and no
    * driver involvement; a 100 TB corpus chunks at scan speed.
    *
    * Coverage guarantee: every token lands in at least one chunk.
    * Starts run 1, 1+stride, … while start ≤ max(1, n − overlap), so
    * the final chunk may be a partial tail (shorter than chunkTokens)
    * but nothing past the last full window is dropped. Short docs
    * produce exactly one (partial) chunk.
    *
    * Output: one row per chunk with (…idCols, chunk_idx, chunk_tokens,
    * chunk_text).
    */
  def chunk(df: org.apache.spark.sql.DataFrame, textCol: String,
            chunkTokens: Int, overlap: Int,
            idCols: String*): org.apache.spark.sql.DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got chunk=$chunkTokens overlap=$overlap")
    val stride = chunkTokens - overlap
    val toks = tokens(col(textCol))
    val starts = sequence(lit(1),
      greatest(size(toks) - overlap, lit(1)), lit(stride))
    df.select(idCols.map(col) :+ toks.as("__toks") :+ starts.as("__starts"): _*)
      .select(idCols.map(col) :+ posexplode(col("__starts")) :+ col("__toks"): _*)
      .select(idCols.map(col) ++ Seq(
        col("pos").cast("long").as("chunk_idx"),
        size(slice(col("__toks"), col("col"), lit(chunkTokens)))
          .cast("long").as("chunk_tokens"),
        concat_ws(" ", slice(col("__toks"), col("col"), lit(chunkTokens)))
          .as("chunk_text")): _*)
  }

  /** Content-defined chunking (CDC), token level: a token OPENS a new
    * chunk when its md5-derived hash ≡ 0 (mod `targetTokens`), so
    * boundaries are a function of CONTENT, not position. The property
    * fixed-stride [[chunk]]ing lacks: inserting or deleting one token
    * perturbs ONLY the chunk containing it — every other chunk's text
    * (hence its hash, hence its dup-span match) is unchanged — whereas
    * a stride shift rewrites every later chunk and destroys all
    * downstream chunk-hash matches. The standard CDC trick
    * (rolling-hash cut points from dedup storage systems) lifted to
    * token granularity; expected chunk length = `targetTokens` tokens
    * (geometric — for a DIVERSE vocabulary, since a repeated token
    * repeats its boundary decision: on tiny vocabularies pick a
    * modulus small enough that some tokens are boundaries at all),
    * position 1 always starts a chunk, full token coverage, no
    * overlap.
    *
    * The boundary hash is the md5-prefix construction (q109's) rather
    * than xxhash64, so an external engine replays the exact boundary
    * set — q146's oracle does. Per-row projection + posexplode, no
    * shuffle: a 100 TB corpus chunks at scan speed. The boundary scan
    * is the FUSED [[graft.functions.CdcChunkStarts]] expression (one
    * zero-copy byte pass; the interpreted md5-per-token HOF
    * formulation is kept as [[cdcStartsHof]] for the bit-identity
    * property test).
    *
    * Output per chunk: (…idCols, chunk_idx, chunk_tokens, chunk_text). */
  def cdcChunk(df: org.apache.spark.sql.DataFrame, textCol: String,
               targetTokens: Int,
               idCols: String*): org.apache.spark.sql.DataFrame = {
    require(targetTokens > 0, s"targetTokens must be > 0, got $targetTokens")
    val toks = tokens(col(textCol))
    val starts = graft.functions.GraftFunctions
      .cdc_chunk_starts(col(textCol), targetTokens)
    df.select(idCols.map(col) :+ toks.as("__toks") :+ starts.as("__starts"): _*)
      .select(idCols.map(col) :+ posexplode(col("__starts")) :+
        col("__toks") :+ col("__starts"): _*)
      .select(idCols.map(col) ++ {
        val start = col("col")
        // try_element_at: past-the-end is null (ANSI element_at throws)
        val end = coalesce(
          try_element_at(col("__starts"), col("pos") + 2) - 1,
          size(col("__toks")))
        Seq(
          col("pos").cast("long").as("chunk_idx"),
          (end - start + 1).cast("long").as("chunk_tokens"),
          concat_ws(" ", slice(col("__toks"), start, end - start + 1))
            .as("chunk_text"))
      }: _*)
  }

  /** Interpreted-HOF CDC boundary positions (reference formulation,
    * bit-identical to [[graft.functions.CdcChunkStarts]] up to the
    * int/long element type): kept as the property-test twin. */
  def cdcStartsHof(text: Column, targetTokens: Int): Column = {
    val toks = tokens(text)
    filter(sequence(lit(1), size(toks)), i =>
      i === 1 ||
        conv(substring(md5(element_at(toks, i)), 1, 15), 16, 10)
          .cast("long") % targetTokens === 0)
  }

  /** Per-(lang, term) corpus statistics with a TF-IDF-style weight.
    * The weight is `tf * (n_docs / df)` — the inverse-document-
    * frequency ratio WITHOUT the usual log so the number is exactly
    * reproducible cross-engine (libm `ln` is not bit-stable across
    * implementations; a monotone transform does not change any
    * ranking). Two shuffles total: explode→agg on (lang, term), plus
    * a broadcast of the tiny per-lang doc counts.
    */
  def termStats(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ex = docs.select(col("lang"), col("doc_id"),
      explode(tokens(col("text"))).as("term"))
    val stats = ex.groupBy("lang", "term")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
    val nDocs = ex.groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    stats.join(broadcast(nDocs), "lang")
      .withColumn("weight",
        col("tf").cast("double") * col("n_docs") / col("df"))
  }

  /** Collocation extraction: adjacent word pairs ranked by LIFT — how
    * much more often the pair occurs than its words' frequencies
    * predict. Lift orders identically to PMI (log is monotone) while
    * staying replayable: every count is an exact long, and the score
    * is the fixed IEEE tree
    * `(c_ab/N_bg) / ((c_a/N_uni)·(c_b/N_uni))` — divisions of
    * correctly-rounded long→double conversions, no long products that
    * could overflow at ANY corpus size (the naive cross-multiplied
    * form `c_ab·N_uni²/(c_a·c_b·N_bg)` leaves the 64-bit envelope at
    * ~3·10⁹ tokens; this form never does).
    *
    * Scale: two agg shuffles (bigram counts with map-side combine;
    * unigram counts), two vocab-sized joins (AQE broadcasts them at
    * bench SF, sort-merge at corpus vocab), totals ride as broadcast
    * 1-row cross joins (the BM25 pattern), and the top-k is
    * TakeOrdered — no global sort. `minCount` prunes the long tail
    * BEFORE the joins (hapax bigrams dominate any real corpus). */
  def collocations(docs: DataFrame, textCol: String,
                   minCount: Long = 5L, topK: Int = 20): DataFrame = {
    val toks = docs.select(split(col(textCol), " ").as("toks"))
    val bigrams = toks.select(explode(
        when(size(col("toks")) >= 2,
          transform(sequence(lit(1), size(col("toks")) - 1),
            i => struct(element_at(col("toks"), i).as("w1"),
              element_at(col("toks"), i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bgCounts = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
    val unis = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nUni = unis.agg(coalesce(sum(col("c")), lit(0L)).as("n_uni"))
    val nBg = bgCounts.agg(coalesce(sum(col("c_ab")), lit(0L)).as("n_bg"))
    bgCounts.where(col("c_ab") >= minCount)
      .join(unis.select(col("w").as("w1"), col("c").as("c_a")), "w1")
      .join(unis.select(col("w").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBg))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("c_ab").cast("double") / col("n_bg").cast("double")) /
          ((col("c_a").cast("double") / col("n_uni").cast("double")) *
            (col("c_b").cast("double") / col("n_uni").cast("double"))))
          .as("lift"))
      .orderBy(col("lift").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Per-document bigram coherence — the word-salad detector the
    * unigram quality family ([[graft.ops.Curation.tokenRarity]],
    * q151) is structurally blind to: shuffling a document's words
    * leaves every unigram signal untouched but destroys its adjacent
    * pairs. Each document is scored by how well THIS corpus supports
    * its word adjacencies:
    *
    *  - `n_pairs` — adjacent-pair occurrences in the doc;
    *  - `supported_pairs` — those whose corpus-wide bigram count ≥
    *    `minCount` (seen elsewhere, not just here);
    *  - `support_ratio` — supported/n_pairs, ONE IEEE division of
    *    exact longs;
    *  - `cond_ratio` — Σ c(w1w2) / Σ c(w1) over the doc's pair
    *    occurrences, an aggregate conditional-probability proxy
    *    P(w2|w1) in [0,1]: gibberish and shuffled text score near 0
    *    (its exact bigrams occur ~once while its first-words are
    *    common), templated boilerplate scores near 1. Caveat: the
    *    denominator uses CORPUS unigram counts c(w1), which include
    *    occurrences in doc-final positions that start no bigram — a
    *    deliberate proxy (the corpus-wide P(w2|w1) estimate every
    *    n-gram LM uses) that slightly under-scores docs whose last
    *    token is a corpus-common word; excluding final tokens would
    *    require a second corpus-wide non-final unigram count for a
    *    correction smaller than the proxy's own noise.
    *
    * Exactness: counts are exact longs; the two Σ's multiply per-doc
    * occurrence counts by corpus counts in DECIMAL(38,0) (a 64-bit
    * product overflows at ~10^13 corpus bigrams × 10^6 in-doc
    * repeats — DECIMAL and DuckDB's HUGEINT carry the identical
    * exact integer), and each ratio is one division of two
    * correctly-rounded exact-integer→double conversions — the same
    * IEEE tree in both engines, so every score hash-replays (q194).
    *
    * Shape at scale (the q151 discipline): pair occurrences are
    * compressed to (doc, w1, w2, k) on the FIRST aggregation — a hot
    * bigram costs one row per document downstream, never one per
    * occurrence; corpus bigram counts roll up from that same frame
    * (map-side combined); the unigram join compresses to (doc, w1, k)
    * first. Joins are token-keyed with bounded fan-in; the final
    * rollup is the one |corpus|-keyed shuffle. Nothing is collected,
    * no window is unpartitioned. */
  def bigramCoherence(docs: DataFrame, idCol: String, textCol: String,
                      minCount: Long = 3L): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), split(col(textCol), " ").as("ts"))
    val pairOcc = toks.filter(size(col("ts")) >= 2)
      .select(col("id"), explode(
        transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2")))).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // occurrence-compression: one row per (doc, bigram) from here on
    val docBg = pairOcc.groupBy(col("id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("k"))
    val corpusBg = docBg.groupBy(col("w1"), col("w2"))
      .agg(sum(col("k")).as("cb"))
    val corpusUni = toks.select(explode(col("ts")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val dec = "decimal(38,0)"
    val bgAgg = docBg.join(corpusBg, Seq("w1", "w2"))
      .groupBy(col("id"))
      .agg(sum(col("k")).as("n_pairs"),
        sum(when(col("cb") >= minCount, col("k")).otherwise(0L))
          .as("supported_pairs"),
        sum(col("k").cast(dec) * col("cb")).as("sum_bg"))
    val ugAgg = docBg.groupBy(col("id"), col("w1"))
      .agg(sum(col("k")).as("k1"))
      .join(corpusUni.select(col("w").as("w1"), col("cw")), "w1")
      .groupBy(col("id"))
      .agg(sum(col("k1").cast(dec) * col("cw")).as("sum_ug"))
    bgAgg.join(ugAgg, "id")
      .select(col("id").as(idCol), col("n_pairs"), col("supported_pairs"),
        (col("supported_pairs").cast("double") / col("n_pairs"))
          .as("support_ratio"),
        (col("sum_bg").cast("double") / col("sum_ug").cast("double"))
          .as("cond_ratio"))
  }

  /** Corpus novelty curve: how fast the corpus saturates — the share
    * of never-seen-before word k-grams contributed by each slice of a
    * DETERMINISTIC ingestion order ([[Relational.deterministicShuffle]]
    * md5 order, so the curve is a pure function of the data, not of
    * arrival order). The diagnostic behind "more data or better
    * data": a flat tail means new shards add tokens, not information.
    *
    * Slices are FIXED in number (`slices`, default 20), so the rollup
    * and its running sum are bounded-row whatever the corpus size —
    * the one unpartitioned window runs over ≤ `slices` rows. The
    * data-sized work is one explode + min-agg per distinct gram
    * (map-side combined) on top of the distributed md5 ranking. */
  def noveltyCurve(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 2, slices: Int = 20): DataFrame = {
    val ranked = Relational.deterministicShuffle(
      docs.select(col(idCol), col(textCol)), idCol)
    val tot = ranked.agg(max(col("pos")).as("n_docs"))
    val grams = ranked.select(col("pos"),
      explode(Dedup.shingles(col(textCol), k)).as("g"))
    val firstSeen = grams.groupBy("g").agg(min(col("pos")).as("first_pos"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("slice"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val sparse = firstSeen.crossJoin(broadcast(tot))
      .select(expr(s"((first_pos - 1) * $slices) div n_docs").as("slice"))
      .groupBy("slice").agg(count(lit(1)).as("n_new"))
    // densify: a slice that contributes nothing new is a zero row in
    // the curve, not a missing one (the flat tail IS the signal)
    docs.sparkSession.range(0, slices).select(col("id").as("slice"))
      .join(sparse, Seq("slice"), "left")
      .withColumn("n_new", coalesce(col("n_new"), lit(0L)))
      .withColumn("cum_distinct", sum(col("n_new")).over(w))
      .orderBy(col("slice"))
  }

  /** Absolute-discount smoothed bigram language model over the corpus
    * — the statistical heart of the CCNet-class "train a small LM on
    * clean text, keep documents it finds unsurprising" curation
    * pipeline, built so every probability hash-replays externally.
    *
    * For each observed bigram (w1, w2), with c12 = corpus bigram
    * count, c1 = Σ_w c(w1, w) (bigram-START count — NOT the raw
    * unigram count, so the q194 final-token caveat does not arise:
    * probabilities over observed successors of w1 are normalized
    * against exactly the events they model), n_succ(w1) = distinct
    * observed successors, n_prec(w2) = distinct observed predecessors
    * (the Kneser–Ney continuation count), n_types = total distinct
    * bigram types, and discount D = 3/4:
    *
    *   p_ad(w2|w1) = (c12 − D)/c1
    *               + (D·n_succ(w1)/c1) · (n_prec(w2)/n_types)
    *
    * i.e. interpolated absolute discounting with the Kneser–Ney
    * continuation distribution as the lower order (Kneser & Ney 1995;
    * Chen & Goodman 1999's formulation). c12 ≥ 1 for every table row,
    * so the max(c12 − D, 0) clamp is never active.
    *
    * Exactness: D = 3/4 makes every operand an exact integer after
    * scaling by 4 — the value is the FIXED IEEE tree
    *   double(4·c12 − 3)/double(4·c1)
    *     + (double(3·n_succ)/double(4·c1)) · (double(n_prec)/double(n_types))
    * of correctly-rounded long→double conversions (all operands
    * < 2^53 up to ~10^15 corpus bigrams), two divisions, one multiply,
    * one add — identical in DuckDB, so p_ad hash-compares as a raw
    * double (q195; the q190 lift discipline).
    *
    * Shape at scale: one explode produces bigram occurrences; ALL
    * four statistics roll up from the (w1, w2, c12) table (map-side
    * combined, token-keyed shuffles); the two totals ride broadcast
    * 1-row cross joins. Output is the full LM table — compose with
    * `minCount`/top-k at the call site ([[lmCrossEntropy]] joins it;
    * q195 registers the top slice). */
  def bigramLmTable(docs: DataFrame, textCol: String,
                    tokenizer: Column => Column = tokens(_)): DataFrame =
    adSmoothedLm(corpusBigramCounts(docs, textCol, tokenizer))

  /** The AD-smoothing rollups + probability, parameterized over the
    * (w1, w2, c12) count source — THE single home of the smoothing
    * arithmetic: [[bigramLmTable]] (corpus scan) and
    * [[lmTableFromC12]] (sidecar counts → logp) both build on it, so
    * the formula cannot drift between the q195 p_ad surface and the
    * logp the cross-entropy family consumes. */
  private def adSmoothedLm(c12: DataFrame): DataFrame = {
    val starts = c12.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n_succ"))
    val conts = c12.groupBy("w2").agg(count(lit(1)).as("n_prec"))
    val types = c12.agg(count(lit(1)).as("n_types"))
    c12.join(starts, "w1")
      .join(conts, "w2")
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        col("n_succ"), col("n_prec"),
        ((lit(4L) * col("c12") - lit(3L)).cast("double") /
          (lit(4L) * col("c1")).cast("double") +
          ((lit(3L) * col("n_succ")).cast("double") /
            (lit(4L) * col("c1")).cast("double")) *
            (col("n_prec").cast("double") / col("n_types").cast("double")))
          .as("p_ad"))
  }

  /** Per-document cross-entropy under the corpus's own
    * absolute-discount bigram LM ([[bigramLmTable]]) — the quality
    * score CCNet-style filtering thresholds on: fluent, conventional
    * text has low cross-entropy; gibberish, word salad, and
    * boilerplate-free noise score high. Complements
    * [[bigramCoherence]] (a support-ratio heuristic) with the actual
    * LM quantity, and is exactly the "perplexity filter" slot of an
    * LLM data pipeline, self-trained so no external model is needed.
    *
    * Every doc bigram is in the LM by construction (the corpus
    * includes the doc), so the LM join never misses; docs with fewer
    * than 2 tokens have no bigrams and are dropped (they carry no LM
    * evidence either way — filter upstream by [[tokenCount]] if they
    * must be scored).
    *
    * Exactness: per pair-type, log p is `round(ln(p_ad), 6)` as
    * DECIMAL(18,6) (the BM25 idf discipline — one `ln` of a
    * bit-identical double, rounded to 6 where last-ulp libm
    * differences cannot survive); the per-doc sum Σ k·logp is an
    * exact DECIMAL sum (order-independent), and the final score is
    * ONE IEEE division of the decimal total by the pair count:
    *   ce = double(−Σ k·logp) / double(n_pairs)
    * — nats per bigram; e^ce is the doc's bigram perplexity.
    *
    * Shape at scale: doc pairs are occurrence-compressed to
    * (doc, w1, w2, k) BEFORE the LM join (the q151/q194 discipline),
    * the LM join is token-pair-keyed with bounded fan-in, and the
    * final rollup is the one doc-keyed shuffle. */
  def lmCrossEntropy(docs: DataFrame, idCol: String,
                     textCol: String,
                     tokenizer: Column => Column = tokens(_)): DataFrame =
    scoreAgainstLm(docs, idCol, textCol,
      lmTableFromC12(corpusBigramCounts(docs, textCol, tokenizer)),
      tokenizer)

  /** The corpus (w1, w2, c12) count table — [[bigramLmTable]]'s first
    * aggregation, exposed because these counts are the ADDITIVE part
    * of the LM: everything else (c1, n_succ, n_prec, n_types) derives
    * from them, which is what makes the LM incrementally
    * maintainable ([[writeBigramCountSidecar]]).
    *
    * `tokenizer` (round 18 — the LM reachable from the multilingual
    * path): the token sequence bigrams are built over. Legacy default
    * is the whitespace split; [[tokensUnicode]] gives an unsegmented
    * CJK document per-CHARACTER bigrams — the standard character-level
    * LM for scripts without word boundaries — instead of one giant
    * pseudo-token that contributes no bigram at all (or one
    * never-repeating one). The choice must be FIXED per LM/sidecar
    * (counts are counts OF the token stream — the normalizer-choice
    * contract of [[graft.ops.CurationPipeline.ingestShard]]). */
  def corpusBigramCounts(docs: DataFrame, textCol: String,
                         tokenizer: Column => Column = tokens(_)): DataFrame = {
    val toks = docs.select(tokenizer(col(textCol)).as("toks"))
    toks.filter(size(col("toks")) >= 2)
      .select(explode(
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c12"))
  }

  /** AD-smoothed logp table from a (w1, w2, c12) count table — ONE
    * `ln` of [[adSmoothedLm]]'s p_ad double, rounded into DECIMAL;
    * sharing the smoothing tree (rather than duplicating it) is what
    * keeps q195's p_ad and this logp bit-coupled by construction. */
  private def lmTableFromC12(c12: DataFrame): DataFrame =
    adSmoothedLm(c12)
      .select(col("w1"), col("w2"),
        round(log(col("p_ad")), 6).cast("decimal(18,6)").as("logp"))

  /** Per-doc cross-entropy of `docs` under a (w1, w2, logp) LM table.
    * Doc bigrams absent from the LM are INNER-JOIN dropped — when the
    * LM covers the scoring corpus (q196/q204's setup) nothing drops;
    * scoring NEW docs against a foreign LM undercounts their n_pairs
    * accordingly (filter on n_pairs downstream if that matters). */
  private def scoreAgainstLm(docs: DataFrame, idCol: String,
                             textCol: String, lm: DataFrame,
                             tokenizer: Column => Column): DataFrame = {
    val docBg = docs
      .select(col(idCol).as("id"), tokenizer(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("id"), explode(
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .groupBy(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("k"))
    docBg.join(lm, Seq("w1", "w2"))
      .groupBy(col("id"))
      .agg(sum(col("k")).as("n_pairs"),
        sum(col("k") * col("logp")).as("sum_logp"))
      .select(col("id").as(idCol), col("n_pairs"),
        ((-col("sum_logp")).cast("double") /
          col("n_pairs").cast("double")).as("cross_entropy"))
  }

  /** Append one document batch's bigram counts to a persisted sidecar
    * — the incremental form of the LM's corpus statistics, in the
    * token-count-sidecar discipline ([[graft.ops.Curation
    * .writeTokenCountSidecar]]): exact long c12 counts are ADDITIVE
    * over doc-disjoint batches (a bigram never spans documents), so
    * the compacted sidecar equals a from-scratch count over
    * everything ingested, and the LM derived from it is BIT-EQUAL to
    * the from-scratch LM (q204 proves it against q196's oracle).
    * Batches must partition the corpus by DOCUMENT. Single writer via
    * the dir lock. `batchId` makes it exactly-once
    * ([[graft.sources.TaggedSidecar]]; replay key (w1, w2), merge: sum
    * of c12); TextAnalysisSpec's deliberate double-append proves the
    * LM no longer moves. */
  def writeBigramCountSidecar(batch: DataFrame, textCol: String,
                              sidecarDir: String,
                              batchId: Option[String] = None,
                              tokenizer: Column => Column = tokens(_))
      : Unit =
    TaggedSidecar.append(batch.sparkSession, sidecarDir, batchId,
        "writeBigramCountSidecar") {
      corpusBigramCounts(batch, textCol, tokenizer)
    }

  private def sumC12(c12: DataFrame): DataFrame =
    c12.groupBy(col("w1"), col("w2")).agg(sum(col("c12")).as("c12"))

  /** Merged corpus bigram counts from the sidecar — one summed row
    * per (w1, w2) over the appended partials, tagged replays
    * collapsed first. Safe on compacted AND uncompacted sidecars (the
    * sum is the identity after compaction). */
  def mergedBigramCounts(spark: org.apache.spark.sql.SparkSession,
                         sidecarDir: String): DataFrame =
    sumC12(TaggedSidecar.collapse(spark.read.parquet(sidecarDir), "w1", "w2"))

  /** Many small appends → one summed table
    * ([[graft.sources.TaggedSidecar.compact]]); re-aggregation by
    * (w1, w2) makes compaction converge even after an accidental
    * double-append of the same batch. */
  def compactBigramSidecar(spark: org.apache.spark.sql.SparkSession,
                           sidecarDir: String): Unit =
    TaggedSidecar.compact(spark, sidecarDir, Seq("w1", "w2"),
      sortCol = Some("w1"))(sumC12)

  /** Cross-entropy scoring FROM the sidecar — the corpus text is
    * never re-read to build the LM; only the docs being scored are
    * scanned. The sidecar's summed counts equal the from-scratch
    * counts under the doc-disjoint contract, so this path is
    * IDENTICAL to [[lmCrossEntropy]] (q204 hash-proves it against the
    * same oracle as q196). Reads through [[mergedBigramCounts]], so
    * it is also correct on an UNCOMPACTED sidecar (pre-round-16 this
    * silently required compaction first: duplicate (w1, w2) partials
    * would have fed the smoothing tree as separate rows). */
  def lmCrossEntropyFromSidecar(spark: org.apache.spark.sql.SparkSession,
                                sidecarDir: String, docs: DataFrame,
                                idCol: String, textCol: String,
                                tokenizer: Column => Column = tokens(_))
      : DataFrame =
    scoreAgainstLm(docs, idCol, textCol,
      lmTableFromC12(mergedBigramCounts(spark, sidecarDir)), tokenizer)

  /** Per-document TF-IDF keyword extraction: the top-k terms of each
    * document by tf·idf — the summarization/indexing primitive
    * ("what is this document about") that also powers cheap topic
    * bucketing and the per-doc metadata an embedding-free retrieval
    * layer faceted-filters on. Distinct from [[graft.ops.Curation
    * .tokenRarity]] (a doc-LEVEL rarity aggregate) and DSIR (hashed
    * importance WEIGHTS): this yields the per-doc ranked TERM list.
    *
    * Exactness: tf and df are exact longs; idf = round(ln(N/df), 6)
    * as DECIMAL(18,6) — one IEEE division of two exact-long→double
    * conversions feeding one `ln`, the BM25-idf discipline — and
    * score = tf·idf is an exact long×decimal product. Ranking breaks
    * ties (score DESC, term ASC), so the extracted set replays
    * externally (q199).
    *
    * Shape at scale: occurrence-compression to (doc, term, tf) on
    * the first aggregation; df rolls up from that table (map-side
    * combine); N rides a broadcast 1-row cross join; the per-doc
    * rank ≤ k filter is a WindowGroupLimit (per-task top-k heaps, no
    * full per-doc sort materialization). */
  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 3,
                    tokenizer: Column => Column = tokens(_)): DataFrame = {
    val perDoc = docs
      .select(col(idCol).as("id"), explode(tokenizer(col(textCol))).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfs = perDoc.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("score").desc, col("term"))
    perDoc.join(dfs, "term")
      .crossJoin(n)
      .select(col("id"), col("term"), col("tf"), col("df"),
        (col("tf") *
          round(log(col("n_docs").cast("double") / col("df").cast("double")), 6)
            .cast("decimal(18,6)")).as("score"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .withColumnRenamed("id", idCol)
  }

  /** Windowed skip-gram co-occurrence with PMI association scoring —
    * the GloVe/word2vec X-matrix primitive: which words appear within
    * `window` positions of each other, weighted by proximity, and
    * which of those co-occurrences are ABOVE-CHANCE (PMI > 0). The
    * adjacency family ([[collocations]] lift, bigram LM) sees only
    * distance-1 pairs; the skip-gram window is what embedding
    * training and query-expansion actually consume.
    *
    * Semantics (every number externally replayable):
    *  - pairs are DIRECTED left→right occurrences (w1 at position i,
    *    w2 at i+d, 1 ≤ d ≤ window), never crossing a document
    *    boundary;
    *  - `c` — exact pair occurrence count; `xw` — the GloVe distance
    *    weight Σ lcm(1..window)/d as an exact long (d divides the
    *    lcm, so the division is integer-exact; for window=2 this is
    *    2·c₁ + c₂ in half-units);
    *  - `pmi` = round(ln((c·T)/(cl·cr)), 6) as DECIMAL(18,6), where
    *    cl/cr are the left/right marginals and T the total pair
    *    count — marginals over the FULL distribution (the `minCount`
    *    report filter must not bias the probability model), one IEEE
    *    expression tree shared with the oracle (the BM25-idf
    *    discipline). Plain PMI over-scores rare pairs, which is why
    *    reported pairs need `c ≥ minCount` — the standard guard; only
    *    positive associations (PMI > 0 after rounding) are reported.
    *
    * Shape at scale: position explosion is len·window (window fixed
    * and small); the first aggregation occurrence-compresses to the
    * (w1, w2) table, which Zipf keeps far below vocab²; marginals
    * roll up from it (map-side combine); T is a broadcast 1-row cross
    * join; the per-w1 rank ≤ k rides WindowGroupLimit. No step is
    * quadratic in corpus size. */
  def skipgramPmi(docs: DataFrame, idCol: String, textCol: String,
                  window: Int = 2, minCount: Long = 3L,
                  k: Int = 5): DataFrame = {
    require(window >= 1 && window <= 8,
      s"skipgramPmi: window must be in [1, 8], got $window")
    val lcmV = (1 to window).foldLeft(1L) { (a, b) =>
      a / java.math.BigInteger.valueOf(a).gcd(
        java.math.BigInteger.valueOf(b.toLong)).longValue() * b
    }
    val pos = docs.select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("i", "term")))
    val left = pos.select(col("id"), col("i"), col("term").as("w1"),
      explode(sequence(col("i") + lit(1), col("i") + lit(window))).as("j"))
    val right = pos.select(col("id"), col("i").as("j"), col("term").as("w2"))
    val cd = left.join(right, Seq("id", "j"))
      .select(col("w1"), col("w2"), (col("j") - col("i")).as("d"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("c"),
        sum(expr(s"$lcmV div d")).as("xw"))
    val lm = cd.groupBy("w1").agg(sum(col("c")).as("cl"))
    val rm = cd.groupBy("w2").agg(sum(col("c")).as("cr"))
    val tt = broadcast(cd.agg(coalesce(sum(col("c")), lit(0L)).as("t")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w1")).orderBy(col("pmi").desc, col("w2"))
    cd.filter(col("c") >= minCount)
      .join(lm, "w1").join(rm, "w2").crossJoin(tt)
      .withColumn("pmi", round(log(
          (col("c").cast("double") * col("t").cast("double")) /
            (col("cl").cast("double") * col("cr").cast("double"))), 6)
        .cast("decimal(18,6)"))
      .filter(col("pmi") > 0)
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select("w1", "w2", "c", "xw", "pmi", "rnk")
  }
}
