package graft.queries

import graft.QueryDef
import graft.ops.{Bpe, Curation, Dedup, Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Round-7 corpus-operations queries: the curation steps between
  * "scored corpus" and "training shards" that §8.3 still lacked —
  * per-source caps (no domain dominates), token-rarity quality
  * signals (the exact-arithmetic LM-perplexity proxy), semantic
  * decontamination (embedding-space eval leakage), normalization-
  * robust exact dedup, and corpus snapshot diffing (the incremental
  * pipeline's work-list audit). All five carry DuckDB oracles.
  */
object CorpusQueries {

  /** Per-source cap ([[Curation.capPerSource]], cap 15 on ~25 docs per
    * source at sf0.01 so some sources are cut and some kept whole):
    * deterministic md5(id|seed) order, so the oracle replays the exact
    * kept set and ranks. ONE shuffle; the rank ≤ cap filter rides
    * Spark's map-side window group limit (plan-asserted in
    * CurationSpec). */
  val q150SourceCap = QueryDef(
    "q150_source_cap",
    """WITH u AS (
      |  SELECT doc_id, source,
      |         md5(CAST(doc_id AS VARCHAR) || '|' || '42') AS uk
      |  FROM documents
      |), r AS (
      |  SELECT doc_id, source,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY uk, doc_id)
      |      AS BIGINT) AS src_rank
      |  FROM u
      |)
      |SELECT doc_id, source, src_rank FROM r WHERE src_rank <= 15
      |ORDER BY source, src_rank""".stripMargin) { (s, d) =>
    Curation.capPerSource(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        sourceCol = "source", idCol = "doc_id", cap = 15)
      .orderBy(col("source"), col("src_rank"))
  }

  /** Token-rarity quality signals ([[Curation.tokenRarity]]): corpus
    * term frequencies joined back per token, rolled up per doc. Exact
    * longs + one rounded division, so the whole signal replays in
    * DuckDB — unlike a log-prob perplexity score. */
  val q151TokenRarity = QueryDef(
    "q151_token_rarity",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |), tf AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY w
      |), j AS (
      |  SELECT t.doc_id, f.cnt FROM toks t JOIN tf f ON t.w = f.w
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
      |       CAST(sum(cnt) AS BIGINT) AS sum_cnt,
      |       min(cnt) AS min_cnt,
      |       round(CAST(sum(cnt) AS DOUBLE) / count(*), 6) AS mean_cnt
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    Curation.tokenRarity(Tables.documents(s, d)).orderBy(col("doc_id"))
  }

  /** Token rarity scored against the INCREMENTAL token-count sidecar
    * ([[Curation.writeTokenCountSidecar]] /
    * [[Curation.tokenRarityAgainstSidecar]]): the corpus lands in TWO
    * batches (doc_id parity — the q123/q133 sidecar discipline), the
    * sidecar is compacted, and every document is scored against the
    * merged counts. Exact longs are additive, so the result is
    * hash-IDENTICAL to q151's one-shot rarity — which is exactly what
    * the shared oracle proves: the whole incremental path (append →
    * compact → merge → score) must reproduce the from-scratch
    * numbers bit-for-bit. */
  val q168TokenRaritySidecar = QueryDef(
    "q168_token_rarity_sidecar",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      |), tf AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY w
      |), j AS (
      |  SELECT t.doc_id, f.cnt FROM toks t JOIN tf f ON t.w = f.w
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
      |       CAST(sum(cnt) AS BIGINT) AS sum_cnt,
      |       min(cnt) AS min_cnt,
      |       round(CAST(sum(cnt) AS DOUBLE) / count(*), 6) AS mean_cnt
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
    val dir = s"target/tmp/q168_tokcnt_$sf"
    // fresh sidecar per run (stale counts from an earlier corpus would
    // change scores — the q130/q159 wipe discipline)
    graft.sources.Sinks.wipeForRebuild(s, dir)
    // batch-tagged appends (round 16): a replayed batch is a
    // detectable no-op — the EXACTLY-ONCE form of the additive
    // sidecar; the oracle is unchanged because reads collapse
    // duplicates before summing
    Curation.writeTokenCountSidecar(
      docs.filter(col("doc_id") % 2 === 0), "text", dir, Some("even"))
    Curation.writeTokenCountSidecar(
      docs.filter(col("doc_id") % 2 === 1), "text", dir, Some("odd"))
    Curation.compactTokenCountSidecar(s, dir)
    Curation.tokenRarityAgainstSidecar(docs, dir).orderBy(col("doc_id"))
  }

  /** Semantic decontamination ([[Similarity.semanticDecontaminate]]):
    * vectors with `vec_id % 97 = 0` stand in for the eval set; every
    * other vector reports its nearest eval neighbor and a rounded-
    * cosine threshold flag. The q40/q122 oracle pattern
    * (list_cosine_similarity + round 6) replays scores, argmax and
    * decision exactly. */
  val q152SemanticDecontam = QueryDef(
    "q152_semantic_decontam",
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), ev AS (
      |  SELECT vec_id AS eval_id, v AS evec FROM e WHERE vec_id % 97 = 0
      |), tr AS (
      |  SELECT vec_id, v FROM e WHERE vec_id % 97 <> 0
      |), p AS (
      |  SELECT tr.vec_id, ev.eval_id,
      |         round(list_cosine_similarity(tr.v, ev.evec), 6) AS cos
      |  FROM tr, ev
      |), r AS (
      |  SELECT vec_id, eval_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, eval_id)
      |      AS rn
      |  FROM p
      |)
      |SELECT vec_id, eval_id AS nearest_eval_id, cos AS max_cos,
      |       cos >= 0.25 AS contaminated
      |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.semanticDecontaminate(
        train = emb.filter(col("vec_id") % 97 =!= 0),
        evalVecs = emb.filter(col("vec_id") % 97 === 0),
        idCol = "vec_id", vecCol = "embedding", threshold = 0.25)
      .orderBy(col("vec_id"))
  }

  /** Normalization-robust exact dedup ([[TextAnalysis.normalizeText]]
    * + [[Dedup.exactDedup]]): every `doc_id % 7 = 0` document gets a
    * re-posted copy under a fresh id, then deterministic formatting
    * noise lands per doc (uppercase / comma-joined / padded-punctuated
    * by doc_id mod 3 — the +1000000 id offset guarantees each copy is
    * formatted DIFFERENTLY from its original), and dedup runs on the
    * NORMALIZED text: the copy collapses onto its original
    * (n_copies = 2, keep_id = the original), which raw exact dedup
    * (q20's semantics) provably cannot do — the raw bytes differ.
    *
    * MULTILINGUAL CORPORA: this form's `[a-z0-9 ]` normalization is
    * Latin-only — run normalized dedup over
    * [[TextAnalysis.normalizeTextUnicode]] instead (q224's
    * certificate), or every non-Latin doc collapses to the empty
    * string and dedup deletes whole languages. */
  val q153NormalizedDedup = QueryDef(
    "q153_normalized_dedup",
    """WITH snap AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
      |), messy AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN upper(text)
      |         WHEN doc_id % 3 = 1 THEN replace(text, ' ', ', ')
      |         ELSE '  ' || text || '!  ' END AS text
      |  FROM snap
      |), norm AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(regexp_replace(lower(text),
      |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS ntext
      |  FROM messy
      |)
      |SELECT md5(ntext) AS text_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
      |       CAST(count(*) AS BIGINT) AS n_copies
      |FROM norm GROUP BY md5(ntext)
      |ORDER BY keep_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val snap = docs.unionAll(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val messy = snap.select(col("doc_id"),
      when(col("doc_id") % 3 === 0, upper(col("text")))
        .when(col("doc_id") % 3 === 1,
          regexp_replace(col("text"), " ", ", "))
        .otherwise(concat(lit("  "), col("text"), lit("!  "))).as("text"))
    Dedup.exactDedup(
        messy.withColumn("text", TextAnalysis.normalizeText(col("text"))),
        "text", "doc_id")
      .orderBy(col("keep_id"))
  }

  /** Alphabet maps for q224's constructed multilingual variants:
    * a–z0–9 to their FULLWIDTH forms (U+FF41.. / U+FF10..; space to
    * the U+3000 ideographic space) — all NFKC-folds back to ASCII —
    * and to 36 distinct NFKC-stable lowercase non-Latin letters
    * (32 Cyrillic + 4 Greek), which NFKC must PRESERVE. Shared
    * literally with the oracle's `translate`. */
  private val AsciiAlphabet = "abcdefghijklmnopqrstuvwxyz0123456789 "
  private val FullwidthAlphabet =
    "ａｂｃｄｅｆｇｈｉｊｋｌｍｎｏｐｑｒｓｔｕｖｗｘｙｚ" +
      "０１２３４５６７８９　"
  private val CyrillicAlphabet =
    "абвгдежзийклмнопрстуфхцчшщъыьэюяαβγδ "

  /** Round-16 (the round-15 verdict's #2 ask): UNICODE-AWARE
    * normalization — the certificate that non-Latin documents SURVIVE
    * normalized dedup as distinct docs instead of collapsing to the
    * empty string (what [[TextAnalysis.normalizeText]]'s `[a-z0-9 ]`
    * class does to every non-Latin byte — on a multilingual crawl
    * that silently deletes entire languages). The corpus is pure
    * lowercase ASCII, so multilingual inputs are CONSTRUCTED
    * per-document with `translate` over fixed alphabet maps — which
    * is exactly what makes the NFKC path externally checkable without
    * a DuckDB NFKC: the fullwidth variant must FOLD back onto the
    * ASCII normal form (NFKC compatibility mapping, including the
    * U+3000 ideographic space), and the Cyrillic/Greek variant must
    * come through NON-empty, distinct, and byte-equal to the same
    * `translate` applied to the ASCII normal form (NFKC preserves
    * those letters; the oracle replays that construction literally).
    * `legacy_fw_empty` records the bug being fixed: the Latin-only
    * form maps the whole fullwidth variant to ''. Every expectation
    * is computed LIVE through [[TextAnalysis.normalizeTextUnicode]]
    * (the [[graft.functions.NfkcNormalize]] expression) on the Spark
    * side and analytically on the oracle side — hash equality at
    * three SFs is the certificate. Pure per-row projections, no
    * shuffle; TextAnalysisSpec covers real CJK/accent/ligature/
    * combining-mark fixtures the synthetic corpus can't carry. */
  val q224UnicodeNormalize = QueryDef(
    "q224_unicode_normalize",
    s"""WITH n AS (
       |  SELECT doc_id,
       |    trim(regexp_replace(regexp_replace(lower(text),
       |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
       |  FROM documents
       |)
       |SELECT doc_id, norm,
       |  translate(norm, '${AsciiAlphabet.trim}',
       |    '${CyrillicAlphabet.trim}') AS norm_cyr,
       |  true AS fw_folds,
       |  norm <> '' AS cyr_nonempty,
       |  norm <> '' AS cyr_distinct,
       |  true AS legacy_fw_empty,
       |  CAST(CASE WHEN norm = '' THEN 1 ELSE 2 END AS BIGINT) AS n_forms
       |FROM n ORDER BY doc_id""".stripMargin) { (s, d) =>
    val t = lower(col("text"))
    val unA = TextAnalysis.normalizeTextUnicode(t)
    val unF = TextAnalysis.normalizeTextUnicode(
      translate(t, AsciiAlphabet, FullwidthAlphabet))
    val unC = TextAnalysis.normalizeTextUnicode(
      translate(t, AsciiAlphabet, CyrillicAlphabet))
    val legacyF = TextAnalysis.normalizeText(
      translate(t, AsciiAlphabet, FullwidthAlphabet))
    Tables.documents(s, d).select(
        col("doc_id"),
        unA.as("norm"),
        unC.as("norm_cyr"),
        (unF === unA).as("fw_folds"),
        (length(unC) > 0).as("cyr_nonempty"),
        (unC =!= unA).as("cyr_distinct"),
        (length(legacyF) === 0).as("legacy_fw_empty"),
        size(array_distinct(array(unA, unF, unC))).cast("long").as("n_forms"))
      .orderBy(col("doc_id"))
  }

  /** The full BPE TRAINING loop replayed in ANSI SQL — shared by the
    * q154/q155 oracles. Unlike the KMeans family (engine-seeded,
    * solver-dependent), [[Bpe.train]] is a pure function of the
    * corpus: exact long counts, (count DESC, left, right) argmax
    * tiebreak, greedy left-to-right non-overlapping merge passes. So
    * the fit itself is oracle-checkable; this recursive CTE replays
    * all 20 iterations.
    *
    * Encoding trick: a word's symbol sequence rides as ONE string
    * `|s1||s2||...|` — every symbol delimited on both sides — so one
    * greedy merge pass is exactly one `replace(s, '|l||r|', '|lr|')`
    * (SQL replace scans left-to-right and resumes AFTER each
    * replacement: non-overlapping by construction, and the double
    * delimiter means consecutive matches don't share a boundary
    * character). The corpus is printable ASCII with no '|' (asserted
    * in BpeSpec), so delimiters are unambiguous and DuckDB's
    * codepoint char-split equals the engine's char segmentation.
    * The vocab table travels as a LIST&lt;STRUCT&gt; on a single
    * recursion row; per-iteration argmax is a correlated scalar
    * subquery over its unnest. */
  private val BpeTrainSql =
    """WITH RECURSIVE bpe(i, vocab, bl, br, bc) AS (
      |  SELECT 0,
      |    (SELECT list({'w': w,
      |       's': '|' || array_to_string(string_split_regex(w,''),'||') || '|',
      |       'c': c})
      |     FROM (SELECT w, CAST(count(*) AS BIGINT) AS c
      |           FROM (SELECT unnest(string_split(text,' ')) AS w
      |                 FROM documents)
      |           GROUP BY w)),
      |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
      |  UNION ALL
      |  SELECT i+1,
      |    list_transform(vocab, x -> {'w': x.w,
      |      's': replace(x.s, '|'||best.l||'||'||best.r||'|',
      |                   '|'||best.l||best.r||'|'),
      |      'c': x.c}),
      |    best.l, best.r, best.cnt
      |  FROM (
      |    SELECT i, vocab,
      |      (SELECT {'l': l, 'r': r, 'cnt': cnt} FROM (
      |         SELECT sy[k] AS l, sy[k+1] AS r, CAST(sum(c) AS BIGINT) AS cnt
      |         FROM (
      |           SELECT unnest(generate_series(1, len(sy)-1)) AS k, sy, c
      |           FROM (SELECT string_split(substr(x.s, 2, len(x.s)-2), '||')
      |                   AS sy, x.c AS c
      |                 FROM (SELECT unnest(vocab) AS x))
      |         )
      |         GROUP BY l, r
      |         ORDER BY cnt DESC, l, r
      |         LIMIT 1)) AS best
      |    FROM bpe WHERE i < 20
      |  )
      |  WHERE best.cnt >= 2
      |)""".stripMargin

  /** BPE tokenizer training ([[Bpe.train]], 20 merges over the
    * documents corpus): the merge table a subword tokenizer ships.
    * HASH-ORACLED as of round 8: the fit is deterministic (exact
    * counts, lexicographic tiebreak — BpeSpec proves two-run byte
    * equality), so [[BpeTrainSql]] replays the whole training loop in
    * DuckDB and the merge table itself is compared bit-for-bit. */
  val q154BpeMerges = QueryDef(
    "q154_bpe_merges",
    s"""$BpeTrainSql
       |SELECT i AS rank, bl AS "left", br AS "right", bc AS pair_count
       |FROM bpe WHERE i >= 1 ORDER BY rank""".stripMargin) { (s, d) =>
    Bpe.mergesDf(s,
        Bpe.trainCached(Tables.documents(s, d), d, "text", numMerges = 20))
      .orderBy(col("rank"))
  }

  /** Per-doc token counts under the q154 merge table
    * ([[Bpe.tokenCounts]]): every distinct word is encoded ONCE; doc
    * counts come from the occurrence-compressed (doc, word, count)
    * join — the corpus never runs through the imperative encoder.
    * HASH-ORACLED as of round 8: the oracle replays training
    * ([[BpeTrainSql]]), takes the FINAL vocab's per-word symbol
    * count, and re-derives every document's rollup relationally —
    * encode, join, and rollup all checked end-to-end. */
  val q155BpeTokenCounts = QueryDef(
    "q155_bpe_token_counts",
    s"""$BpeTrainSql, final_vocab AS (
       |  SELECT unnest(vocab) AS x FROM bpe
       |  WHERE i = (SELECT max(i) FROM bpe)
       |), word_len AS (
       |  SELECT x.w AS w,
       |    CAST(len(string_split(substr(x.s, 2, len(x.s)-2), '||')) AS BIGINT)
       |      AS n_bpe
       |  FROM final_vocab
       |), per_doc AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
       |        FROM documents)
       |  GROUP BY doc_id, w
       |)
       |SELECT p.doc_id, CAST(sum(p.c) AS BIGINT) AS n_words,
       |       CAST(sum(p.c * wl.n_bpe) AS BIGINT) AS n_bpe_tokens
       |FROM per_doc p JOIN word_len wl ON p.w = wl.w
       |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    Bpe.tokenCounts(docs, "doc_id", "text",
        Bpe.trainCached(docs, d, "text", numMerges = 20))
      .orderBy(col("doc_id"))
  }

  /** Corpus snapshot diff ([[Dedup.corpusDiff]]): the new snapshot
    * drops `doc_id % 31 = 5`, edits `doc_id % 17 = 3`, and lands
    * fresh ids for `doc_id % 29 = 7` — so all four statuses appear.
    * Digests (not text) ride the full outer join in both engines. */
  val q156CorpusDiff = QueryDef(
    "q156_corpus_diff",
    """WITH old AS (
      |  SELECT doc_id, text FROM documents
      |), new AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 17 = 3 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 31 <> 5
      |  UNION ALL
      |  SELECT doc_id + 1000000, 'new doc ' || CAST(doc_id AS VARCHAR)
      |  FROM documents WHERE doc_id % 29 = 7
      |)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |       md5(o.text) AS old_digest, md5(n.text) AS new_digest,
      |       CASE WHEN o.doc_id IS NULL THEN 'added'
      |            WHEN n.doc_id IS NULL THEN 'removed'
      |            WHEN md5(o.text) <> md5(n.text) THEN 'changed'
      |            ELSE 'unchanged' END AS status
      |FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val newSnap = docs.filter(col("doc_id") % 31 =!= 5)
      .select(col("doc_id"),
        when(col("doc_id") % 17 === 3, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionAll(docs.filter(col("doc_id") % 29 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text")))
    Dedup.corpusDiff(docs, newSnap, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Duplicated-span REMOVAL ([[Dedup.removeDuplicateSpans]]): the
    * rewrite twin of q121/q147 — 10-token chunks, corpus-wide
    * keep-first on the chunk md5, documents reassembled from their
    * surviving chunks. The keep decision and the reassembled text
    * replay exactly in DuckDB (`replayableKeys = true` keys the window
    * on the md5 hex both engines compute identically). */
  val q157RemoveDupSpans = QueryDef(
    "q157_remove_dup_spans",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |), toks AS (
      |  SELECT doc_id, generate_subscripts(ts, 1) AS i, unnest(ts) AS tok
      |  FROM t
      |), chunks AS (
      |  SELECT doc_id, CAST((i - 1) // 10 AS BIGINT) AS chunk_idx,
      |         CAST(count(*) AS BIGINT) AS chunk_tokens,
      |         string_agg(tok, ' ' ORDER BY i) AS chunk_text
      |  FROM toks GROUP BY doc_id, (i - 1) // 10
      |), flagged AS (
      |  SELECT doc_id, chunk_idx, chunk_tokens, chunk_text,
      |    (ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
      |       ORDER BY doc_id, chunk_idx) = 1) AS keep
      |  FROM chunks
      |)
      |SELECT doc_id,
      |  coalesce(string_agg(CASE WHEN keep THEN chunk_text END, ' '
      |    ORDER BY chunk_idx), '') AS clean_text,
      |  CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
      |  CAST(sum(chunk_tokens) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN NOT keep THEN chunk_tokens ELSE 0 END) AS BIGINT)
      |    AS removed_tokens
      |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    Dedup.removeDuplicateSpans(Tables.documents(s, d), "text", "doc_id",
        chunkTokens = 10, replayableKeys = true)
      .orderBy(col("doc_id"))
  }

  /** Quality-weighted span removal ([[Dedup.removeDuplicateSpans]]
    * with `qualityCol`): same rewrite as q157, but each duplicated
    * chunk survives in the HIGHEST-quality document carrying it
    * (quality = n_chars here; ties broken by the same (doc_id,
    * chunk_idx) order, so the decision is total and replays exactly).
    * The q129 quality-argmax survivor rule at span granularity. */
  val q167RemoveDupSpansByQuality = QueryDef(
    "q167_remove_dup_spans_by_quality",
    """WITH t AS (
      |  SELECT doc_id, n_chars, string_split(text, ' ') AS ts FROM documents
      |), toks AS (
      |  SELECT doc_id, n_chars, generate_subscripts(ts, 1) AS i,
      |         unnest(ts) AS tok
      |  FROM t
      |), chunks AS (
      |  SELECT doc_id, n_chars, CAST((i - 1) // 10 AS BIGINT) AS chunk_idx,
      |         CAST(count(*) AS BIGINT) AS chunk_tokens,
      |         string_agg(tok, ' ' ORDER BY i) AS chunk_text
      |  FROM toks GROUP BY doc_id, n_chars, (i - 1) // 10
      |), flagged AS (
      |  SELECT doc_id, chunk_idx, chunk_tokens, chunk_text,
      |    (ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
      |       ORDER BY n_chars DESC, doc_id, chunk_idx) = 1) AS keep
      |  FROM chunks
      |)
      |SELECT doc_id,
      |  coalesce(string_agg(CASE WHEN keep THEN chunk_text END, ' '
      |    ORDER BY chunk_idx), '') AS clean_text,
      |  CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_chunks,
      |  CAST(sum(chunk_tokens) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN NOT keep THEN chunk_tokens ELSE 0 END) AS BIGINT)
      |    AS removed_tokens
      |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    Dedup.removeDuplicateSpans(Tables.documents(s, d), "text", "doc_id",
        chunkTokens = 10, replayableKeys = true,
        qualityCol = Some("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Committed PQ codebooks (`fixtures/q158_codebooks.csv` —
    * [[graft.FixtureDump]]), keyed by the exact corpus checksum
    * ([[Similarity.ivfCorpusKey]] — the q130 key), parsed once per
    * JVM: m × ksub × dsub doubles per corpus. The q202/q208
    * "trust the fit ONCE" seam for the PQ ANN family. */
  private[graft] lazy val pqFixture: Map[Long, Array[Array[Array[Double]]]] = {
    val src = scala.io.Source.fromFile(
      graft.QueryDef.fixturePath("q158_codebooks.csv"), "UTF-8")
    try {
      src.getLines().drop(1).map(_.split(',')).toSeq
        .map(a =>
          (a(0).toLong, a(1).toInt, a(2).toInt, a(3).toInt, a(4).toDouble))
        .groupBy(_._1)
        .map { case (key, rows) =>
          key -> rows.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, js) =>
            js.groupBy(_._3).toSeq.sortBy(_._1).map { case (_, cs) =>
              cs.sortBy(_._4).map(_._5).toArray
            }.toArray
          }.toArray
        }
    } finally src.close()
  }

  /** The PQ codebooks q158/q159 serve from, with the `quantRound`
    * they serve at: the committed fixture's at 6 (rounded subspace
    * distances, replayed by the oracle), or — under
    * [[graft.QueryDef.liveFitForced]], or on a corpus the fixture has
    * no key for — the live [[Similarity.fitPq]], memoized per corpus,
    * at -1 (unrounded). Either way the query runs the same serving
    * code. */
  private def pqArtifacts(emb: org.apache.spark.sql.DataFrame, d: String)
      : (Array[Array[Array[Double]]], Int) = {
    val cacheKey = Some(s"$d/embeddings")
    (if (graft.QueryDef.liveFitForced) None
     else pqFixture.get(Similarity.ivfCorpusKey(emb, cacheKey = cacheKey)))
      .map(cb => (cb, 6))
      .getOrElse((livePq(emb, d), -1))
  }

  private def livePq(emb: org.apache.spark.sql.DataFrame, d: String)
      : Array[Array[Array[Double]]] =
    Similarity.fitPq(emb, "embedding", m = PqM, ksub = PqKsub,
      cacheKey = Some(s"$d/embeddings"))

  /** q159's (centroids, codebooks, quantRound), decided once for both
    * artifacts: the committed fixtures' at 6 only when BOTH fixtures
    * hold this corpus's key, else both live fits at -1 — never frozen
    * centroids with live codebooks, which would match neither the
    * oracle nor the live-fit path. */
  private def ivfPqArtifacts(emb: org.apache.spark.sql.DataFrame, d: String)
      : (Seq[(Int, Seq[Double])], Array[Array[Array[Double]]], Int) = {
    val key = if (graft.QueryDef.liveFitForced) None
      else Some(Similarity.ivfCorpusKey(emb, cacheKey = Some(s"$d/embeddings")))
    (for {
      k <- key
      cents <- ScaleQueries.ivfFixture.get(k)
      cb <- pqFixture.get(k)
    } yield (cents, cb, 6))
      .getOrElse((ScaleQueries.liveIvfCentroids(emb, d), livePq(emb, d), -1))
  }

  /** The shared normalize→encode→LUT→ADC oracle prefix over the
    * committed codebook fixture — the literal SQL twin of
    * [[graft.functions.PqEncode]]/[[graft.functions.PqLut]] in their
    * rounded (`roundTo = 6`) serving mode: unit-normalize (zero
    * vectors pass through), assign each of the m = 8 subspaces to the
    * rounded-sqEuclidean argmin code (ties to the lowest code), build
    * each query's LUT of rounded subspace distances ordered (j, c).
    * ADC then sums IDENTICALLY-rounded doubles in ascending j on both
    * engines — bit-identical without rounding the sum's inputs again
    * (`round(Σ, 9)` mirrors [[Similarity.annJoinPq]]'s candidate
    * rounding). dsub/ksub are the fixture's committed fit parameters,
    * taken from the shared [[PqM]]/[[PqKsub]]/[[PqDsub]] constants. */
  /** The PQ family's fit/serve geometry — ONE source for the engine
    * call sites (q158/q159 k, refine, m, ksub) AND the oracle
    * templates (ADVICE r17: the suffix hardcoded k·refine = 50 and
    * the prefix dsub = 8 while the Spark side derived them from
    * call-site args, so a future param or fixture change would
    * silently diverge the oracle and surface only as an opaque hash
    * mismatch at gate time; interpolating the same constants on both
    * sides makes divergence a compile-time impossibility). Changing
    * any of these REQUIRES regenerating `fixtures/q158_codebooks.csv`
    * and re-validating at all three SFs. */
  private[graft] val PqM = 8
  private[graft] val PqKsub = 64
  private[graft] val PqDsub = 8 // embedding dim 64 / PqM
  private[graft] val PqK = 5
  private[graft] val PqRefine = 10

  private def pqOraclePrefix(queryFilter: String): String = {
    val fp = graft.QueryDef.fixturePath("q158_codebooks.csv")
    s"""WITH cb AS (
       |  SELECT j, c, list(x ORDER BY i) AS cent
       |  FROM read_csv('$fp', header = true,
       |    columns = {'corpus_key': 'BIGINT', 'j': 'INTEGER',
       |               'c': 'INTEGER', 'i': 'INTEGER', 'x': 'DOUBLE'})
       |  WHERE corpus_key = (SELECT CAST(sum(vec_id +
       |      CAST(floor(CAST(embedding AS DOUBLE[])[1] * 1000000.0)
       |        AS BIGINT)) AS BIGINT) FROM embeddings)
       |  GROUP BY j, c
       |), e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), n AS (
       |  SELECT vec_id, v,
       |    CASE WHEN ss = 0 THEN v
       |         ELSE list_transform(v, x -> x * (1.0 / sqrt(ss))) END AS vn
       |  FROM (SELECT vec_id, v,
       |          list_sum(list_transform(v, x -> x * x)) AS ss FROM e)
       |), enc AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT n.vec_id, cb.j, cb.c,
       |      row_number() OVER (PARTITION BY n.vec_id, cb.j ORDER BY
       |        round(list_sum(list_transform(generate_series(1, $PqDsub),
       |          ii -> (n.vn[cb.j * $PqDsub + ii] - cb.cent[ii])
       |              * (n.vn[cb.j * $PqDsub + ii] - cb.cent[ii]))), 6),
       |        cb.c) AS rn
       |    FROM n, cb) WHERE rn = 1
       |), codes AS (
       |  SELECT vec_id, list(c ORDER BY j) AS cs FROM enc GROUP BY vec_id
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv, vn AS qn FROM n
       |  WHERE $queryFilter
       |), lut AS (
       |  SELECT q.query_id, cb.j, cb.c,
       |    round(list_sum(list_transform(generate_series(1, $PqDsub),
       |      ii -> (q.qn[cb.j * $PqDsub + ii] - cb.cent[ii])
       |          * (q.qn[cb.j * $PqDsub + ii] - cb.cent[ii]))), 6) AS ld
       |  FROM q, cb
       |), lutl AS (
       |  SELECT query_id, list(ld ORDER BY j, c) AS l FROM lut
       |  GROUP BY query_id
       |)""".stripMargin
  }

  /** The shared candidate→re-rank oracle suffix: top [[PqK]]·
    * [[PqRefine]] per query by (rounded ADC, neighbor_id), exact
    * rounded-cosine re-rank to the final top [[PqK]] —
    * [[Similarity.annJoinPqRerank]]'s two stages in SQL. `candFrom`
    * supplies the candidate pair source (all-corpus for q158;
    * probed-cells for q159). */
  private def pqOracleSuffix(candFrom: String): String =
    s""", cand AS (
       |  SELECT query_id, neighbor_id FROM (
       |    $candFrom)
       |  WHERE arn <= ${PqK * PqRefine}
       |), r AS (
       |  SELECT cd.query_id, cd.neighbor_id,
       |    round(list_cosine_similarity(e.v, q.qv), 6) AS cos
       |  FROM cand cd JOIN e ON e.vec_id = cd.neighbor_id
       |    JOIN q ON q.query_id = cd.query_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS INT) AS rnk
       |  FROM r
       |)
       |SELECT query_id, neighbor_id, cos, rnk FROM ranked WHERE rnk <= $PqK
       |ORDER BY query_id, rnk""".stripMargin

  /** Batch k-NN join through product quantization with exact re-rank
    * ([[Similarity.annJoinPqRerank]]): the corpus is scanned as m=8
    * small-int codes (32× less IO than the float vectors), ADC
    * proposes k×refine candidates per query from a per-query
    * broadcast LUT, and only the candidates' true vectors are read
    * for the exact cosine re-rank.
    *
    * HASH-ORACLED since round 17 (formerly rows-only "the per-
    * subspace KMeans fits are not SQL-expressible" — the r16
    * verdict's #4 trajectory): the fits ARE the only non-replayable
    * step, so they are committed ONCE as the codebook fixture (the
    * q124/q130 seam) and the query SERVES from the frozen codebooks
    * with rounded-distance arithmetic (`quantRound = 6` — encode
    * argmin and LUT entries rounded inside the fused loops, ADC a
    * bit-identical sum of identically-rounded doubles), every step
    * the literal SQL twin of the oracle above. SimilaritySpec asserts
    * the live fitPq still reproduces the fixture, so an MLlib drift
    * fails a test instead of silently moving the answer; corpora
    * outside the fixture (the scale harness's blown dirs) are served
    * from live-fit codebooks, unrounded ([[pqArtifacts]]), which is
    * what the 10×/100× maps measure. PqSpec still pins the unrounded
    * expression bit-identities and the recall gate. */
  val q158KnnJoinPq = QueryDef(
    "q158_knn_join_pq",
    pqOraclePrefix("vec_id % 100 = 0") + pqOracleSuffix(
      s"""SELECT l.query_id, co.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY l.query_id ORDER BY
        |        round(list_sum(list_transform(generate_series(1, $PqM),
        |          jj -> l.l[(jj - 1) * $PqKsub + co.cs[jj] + 1])), 9),
        |        co.vec_id) AS arn
        |    FROM lutl l, codes co
        |    WHERE co.vec_id <> l.query_id""".stripMargin)) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val (cb, quantRound) = pqArtifacts(emb, d)
    Similarity.annJoinPqRerank(
        queries = emb.filter(expr("vec_id % 100 = 0")), corpus = emb,
        idCol = "vec_id", vecCol = "embedding", k = PqK, cb,
        refine = PqRefine, quantRound = quantRound)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Batch k-NN join through the STORED IVFPQ index
    * ([[Similarity.buildIvfPqIndex]] + [[Similarity
    * .annJoinIvfPqStored]]): both multiplicative IO cuts at once —
    * the scan is partition-pruned to the probed cells AND reads
    * PQ codes, not float vectors; full-precision rows are fetched
    * only for the ADC candidates' re-rank. PqSpec pins partition
    * pruning and full-probe equality with the non-IVF PQ join. The
    * index dir is wiped per run (the q130 discipline — a stale
    * layout from older params would change cells/codes); live-fit
    * centroids and codebooks are memoized per corpus and the
    * codebooks are q158's artifact (same corpus and params — the q154
    * discipline), so the timing covers the index BUILD (the first
    * run's fits + assign/encode + partitioned writes) and the pruned
    * query, not a refit q158 already times. */
  /** q159 split into build vs probe (the q130Parts pattern): the 100×
    * scale entry for this query was build-dominated by design (the
    * one-time cell fit + encode is corpus-linear), which meant a
    * probe-side regression could hide inside the single ratio. */
  private[graft] def q159Parts(s: org.apache.spark.sql.SparkSession,
      d: String): (() => Unit, () => org.apache.spark.sql.DataFrame) = {
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q159_ivfpq_index_$sf"
    }
    val emb = Tables.embeddings(s, d)
    // both artifacts — the coarse centroids (q130's) and the PQ
    // codebooks (q158's) — are picked (the corpus checksum) or fitted
    // inside build, the one-time index cost (the q130Parts
    // discipline); the probe phase only reads the stored index and
    // the build's quantRound
    lazy val (centroids, codebooks, quantRound) = ivfPqArtifacts(emb, d)
    val build = () => {
      graft.sources.Sinks.wipeForRebuild(s, dir)
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", dir,
        centroids, codebooks, quantRound)
    }
    // copy-0-pinned probe batch (ScaleQueries.ProbeBatchFilter): on
    // real testdata dirs this is every 100th vector unchanged; on a
    // ScaleBench blow-up it pins the query COUNT so the split's probe
    // ratio certifies probe-cost-vs-corpus at a fixed workload
    val probe = () => Similarity.annJoinIvfPqStored(s, dir,
        queries = emb.filter(
          expr("vec_id % 100 = 0 AND vec_id < 8589934592")),
        idCol = "vec_id", vecCol = "embedding", k = PqK, nprobe = 4,
        refine = PqRefine, quantRound = quantRound)
      .orderBy(col("query_id"), col("rnk"))
    (build, probe)
  }

  /** The q159 oracle's IVF layer: coarse assignment + probe selection
    * over the q130 centroid fixture — q124's asg/probes CTEs verbatim
    * (rounded-sqEuclidean argmin with ties to the lowest cell;
    * rounded-cosine probe rule, nprobe = 4). */
  private def q159IvfCtes: String = {
    val fp = graft.QueryDef.fixturePath("q130_centroids.csv")
    s""", icent AS (
       |  SELECT cell, list(x ORDER BY j) AS ctr
       |  FROM read_csv('$fp', header = true,
       |    columns = {'corpus_key': 'BIGINT', 'cell': 'INTEGER',
       |               'j': 'INTEGER', 'x': 'DOUBLE'})
       |  WHERE corpus_key = (SELECT CAST(sum(vec_id +
       |      CAST(floor(CAST(embedding AS DOUBLE[])[1] * 1000000.0)
       |        AS BIGINT)) AS BIGINT) FROM embeddings)
       |  GROUP BY cell
       |), asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, ic.cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(list_sum(list_transform(generate_series(1, len(e.v)),
       |          jj -> (e.v[jj] - ic.ctr[jj]) * (e.v[jj] - ic.ctr[jj]))), 6),
       |        ic.cell) AS rn
       |    FROM e, icent ic) WHERE rn = 1
       |), probes AS (
       |  SELECT query_id, cell FROM (
       |    SELECT q.query_id, ic.cell,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        round(list_cosine_similarity(q.qv, ic.ctr), 6) DESC,
       |        ic.cell) AS prn
       |    FROM q, icent ic) WHERE prn <= 4
       |)""".stripMargin
  }

  /** HASH-ORACLED since round 17, exactly like [[q158KnnJoinPq]] plus
    * the IVF layer from q124/q130's centroid fixture: the stored
    * layout is built from BOTH frozen artifacts
    * ([[Similarity.buildIvfPqIndex]]) and served by the rounded
    * probe/ADC/re-rank rules ([[Similarity.annJoinIvfPqStored]]), so
    * build → store → probe replays end-to-end in SQL: candidates are
    * restricted to each query's nprobe = 4 probed cells (partition-
    * pruned on the Spark side, a cell-equality join in the oracle),
    * ranked by ADC over the frozen codebooks, re-ranked by exact
    * rounded cosine. Blown corpora are served from live-fit
    * centroids and codebooks. */
  val q159KnnJoinIvfPqStored = QueryDef(
    "q159_knn_join_ivfpq_stored",
    pqOraclePrefix("vec_id % 100 = 0 AND vec_id < 8589934592") +
      q159IvfCtes + pqOracleSuffix(
      s"""SELECT p.query_id, a.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY p.query_id ORDER BY
        |        round(list_sum(list_transform(generate_series(1, $PqM),
        |          jj -> l.l[(jj - 1) * $PqKsub + co.cs[jj] + 1])), 9),
        |        a.vec_id) AS arn
        |    FROM probes p
        |      JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.query_id
        |      JOIN codes co ON co.vec_id = a.vec_id
        |      JOIN lutl l ON l.query_id = p.query_id""".stripMargin)) {
      (s, d) =>
    val (build, probe) = q159Parts(s, d)
    build()
    probe()
  }

  /** DSIR data selection ([[Curation.dsirWeights]] +
    * [[Curation.dsirResample]]): hashed-n-gram importance resampling
    * toward a target distribution — here the English sub-corpus — in
    * three oracled stages fused into one plan: per-bucket add-one
    * log-likelihood-ratio weights (4096 md5 buckets over
    * unigrams+bigrams), exact DECIMAL per-doc score sums, and the
    * Gumbel-top-k draw (md5-derived noise) selecting 100 docs
    * proportionally to importance without replacement. Everything —
    * the ln (one rounded IEEE quotient), the decimal sums, the
    * Gumbel inverse-CDF — replays in DuckDB, so the SELECTED SET
    * itself is hash-checked, not just row counts. */
  val q160DsirSelect = QueryDef(
    "q160_dsir_select",
    """WITH toks AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
      |), grams AS (
      |  SELECT doc_id, lang, unnest(t) AS gram FROM toks
      |  UNION ALL
      |  SELECT doc_id, lang,
      |    unnest(list_transform(generate_series(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1])) AS gram
      |  FROM toks
      |), b AS (
      |  SELECT doc_id, lang,
      |    CAST(CAST('0x' || substring(md5(gram), 1, 15) AS BIGINT) % 4096
      |      AS BIGINT) AS bucket
      |  FROM grams
      |), tc AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS nt FROM b
      |  WHERE lang = 'en' GROUP BY bucket
      |), rc AS (
      |  SELECT bucket, CAST(count(*) AS BIGINT) AS nr FROM b GROUP BY bucket
      |), tot AS (
      |  SELECT (SELECT count(*) FROM b WHERE lang = 'en') AS tt,
      |         (SELECT count(*) FROM b) AS rt
      |), w AS (
      |  SELECT g.bucket,
      |    CAST(round(ln(
      |      (CAST(COALESCE(nt, 0) + 1 AS DOUBLE) * CAST(rt + 4096 AS DOUBLE))
      |      /
      |      (CAST(COALESCE(nr, 0) + 1 AS DOUBLE) * CAST(tt + 4096 AS DOUBLE))
      |    ), 6) AS DECIMAL(18,6)) AS w
      |  FROM (SELECT unnest(generate_series(0, 4095)) AS bucket) g
      |  LEFT JOIN tc ON g.bucket = tc.bucket
      |  LEFT JOIN rc ON g.bucket = rc.bucket, tot
      |), score AS (
      |  SELECT b.doc_id, SUM(w.w) AS score
      |  FROM b JOIN w ON b.bucket = w.bucket GROUP BY b.doc_id
      |), sel AS (
      |  SELECT doc_id, score,
      |    score + CAST(round(-ln(-ln(
      |      (CAST(CAST('0x' || substring(
      |         md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 15) AS BIGINT)
      |       AS DOUBLE) + 0.5) / 1.152921504606847e18)), 6)
      |      AS DECIMAL(18,6)) AS sel_key
      |  FROM score
      |)
      |SELECT doc_id, CAST(score AS DOUBLE) AS score,
      |       CAST(sel_key AS DOUBLE) AS sel_key
      |FROM sel ORDER BY sel_key DESC, doc_id LIMIT 100""".stripMargin) {
      (s, d) =>
    val docs = Tables.documents(s, d)
    val w = Curation.dsirWeights(docs.filter(col("lang") === "en"), docs)
    Curation.dsirResample(docs, w, n = 100)
      .select(col("doc_id"), col("score").cast("double").as("score"),
        col("sel_key").cast("double").as("sel_key"))
      .orderBy(col("sel_key").desc, col("doc_id"))
  }

  /** Round-10: collocation extraction ([[TextAnalysis.collocations]])
    * — adjacent word pairs ranked by LIFT (orders identically to PMI,
    * log being monotone, while staying exactly replayable: one fixed
    * IEEE tree over correctly-rounded long→double conversions, no
    * 64-bit product to overflow at any corpus size). minCount prunes
    * hapax bigrams before the vocab joins; top-k is TakeOrdered. */
  val q190Collocations = QueryDef(
    "q190_collocations",
    """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
      |bi AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
      |         i -> {'w1': toks[i], 'w2': toks[i + 1]})) AS bg
      |       FROM t),
      |bgc AS (SELECT bg.w1 AS w1, bg.w2 AS w2,
      |          CAST(count(*) AS BIGINT) AS c_ab
      |        FROM bi GROUP BY 1, 2),
      |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
      |       FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
      |nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uc),
      |nb AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bg FROM bgc)
      |SELECT w1, w2, c_ab, a.c AS c_a, b.c AS c_b,
      |  (CAST(c_ab AS DOUBLE) / CAST(n_bg AS DOUBLE)) /
      |  ((CAST(a.c AS DOUBLE) / CAST(n_uni AS DOUBLE)) *
      |   (CAST(b.c AS DOUBLE) / CAST(n_uni AS DOUBLE))) AS lift
      |FROM bgc JOIN uc a ON a.w = bgc.w1 JOIN uc b ON b.w = bgc.w2, nu, nb
      |WHERE c_ab >= 5
      |ORDER BY lift DESC, w1, w2 LIMIT 20""".stripMargin) { (s, d) =>
    TextAnalysis.collocations(Tables.documents(s, d), "text",
      minCount = 5L, topK = 20)
  }

  /** Round-10: per-document bigram coherence
    * ([[TextAnalysis.bigramCoherence]]) — the word-salad detector:
    * shuffling a doc's words preserves every unigram quality signal
    * (q151) but destroys adjacency support. Counts are exact longs,
    * the Σ k·c products ride DECIMAL(38,0) (= DuckDB HUGEINT), each
    * ratio is one IEEE division of correctly-rounded conversions —
    * every score hash-replays. */
  val q194BigramCoherence = QueryDef(
    "q194_bigram_coherence",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |cu AS (SELECT w, CAST(count(*) AS BIGINT) AS cw
      |       FROM (SELECT unnest(ts) AS w FROM t) GROUP BY w),
      |bg AS (SELECT doc_id,
      |         unnest(list_transform(generate_series(1, len(ts) - 1),
      |           i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS b
      |       FROM t WHERE len(ts) >= 2),
      |dbg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2,
      |          CAST(count(*) AS BIGINT) AS k
      |        FROM bg GROUP BY 1, 2, 3),
      |cbg AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS cb
      |        FROM dbg GROUP BY 1, 2),
      |agg AS (SELECT d.doc_id,
      |          CAST(sum(d.k) AS BIGINT) AS n_pairs,
      |          CAST(sum(CASE WHEN c.cb >= 3 THEN d.k ELSE 0 END) AS BIGINT)
      |            AS supported_pairs,
      |          sum(CAST(d.k AS HUGEINT) * c.cb) AS sum_bg
      |        FROM dbg d JOIN cbg c ON d.w1 = c.w1 AND d.w2 = c.w2
      |        GROUP BY 1),
      |ug AS (SELECT d.doc_id, sum(CAST(d.k1 AS HUGEINT) * u.cw) AS sum_ug
      |       FROM (SELECT doc_id, w1, CAST(sum(k) AS BIGINT) AS k1
      |             FROM dbg GROUP BY 1, 2) d
      |       JOIN cu u ON u.w = d.w1 GROUP BY 1)
      |SELECT a.doc_id, a.n_pairs, a.supported_pairs,
      |  CAST(a.supported_pairs AS DOUBLE) / a.n_pairs AS support_ratio,
      |  CAST(a.sum_bg AS DOUBLE) / CAST(g.sum_ug AS DOUBLE) AS cond_ratio
      |FROM agg a JOIN ug g ON g.doc_id = a.doc_id
      |ORDER BY a.doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.bigramCoherence(Tables.documents(s, d), "doc_id", "text",
        minCount = 3L)
      .orderBy(col("doc_id"))
  }

  /** Round-10: corpus novelty curve ([[TextAnalysis.noveltyCurve]]) —
    * new-bigram counts per 1/20th slice of the deterministic md5
    * ingestion order, with the cumulative distinct-gram count. The
    * oracle replays the md5 ranking (q138's formula), the per-doc
    * distinct shingles, the min-first-position agg, and the
    * fixed-slice rollup. */
  val q191NoveltyCurve = QueryDef(
    "q191_novelty_curve",
    """WITH ranked AS (
      |  SELECT text, CAST(ROW_NUMBER() OVER (
      |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '|42')) AS BIGINT) AS pos
      |  FROM documents
      |), n AS (SELECT CAST(max(pos) AS BIGINT) AS n_docs FROM ranked),
      |g AS (
      |  SELECT pos, unnest(list_distinct(
      |    list_transform(generate_series(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i + 1]))) AS g
      |  FROM (SELECT pos, string_split(text, ' ') AS toks FROM ranked)
      |  WHERE len(toks) >= 2
      |), fs AS (SELECT g, min(pos) AS first_pos FROM g GROUP BY g),
      |agg AS (
      |  SELECT ((first_pos - 1) * 20) // n_docs AS slice,
      |         CAST(count(*) AS BIGINT) AS n_new
      |  FROM fs, n GROUP BY 1),
      |dense AS (
      |  SELECT CAST(s AS BIGINT) AS slice, coalesce(agg.n_new, 0) AS n_new
      |  FROM generate_series(0, 19) AS gs(s)
      |  LEFT JOIN agg ON agg.slice = s)
      |SELECT slice, n_new,
      |  CAST(sum(n_new) OVER (ORDER BY slice
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_distinct
      |FROM dense ORDER BY slice""".stripMargin) { (s, d) =>
    TextAnalysis.noveltyCurve(Tables.documents(s, d), "doc_id", "text",
      k = 2, slices = 20)
  }

  /** Round-11: absolute-discount smoothed bigram LM
    * ([[TextAnalysis.bigramLmTable]]) — the corpus-trained n-gram
    * model behind CCNet-class perplexity filtering, with D = 3/4 so
    * every probability is a FIXED IEEE tree of exact-long→double
    * conversions (two divisions, one multiply, one add) and
    * hash-replays raw. Registered slice: the 100 most predictable
    * continuations. */
  val q195BigramLm = QueryDef(
    "q195_bigram_lm",
    """WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
      |bg AS (SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
      |         i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS b
      |       FROM t WHERE len(ts) >= 2),
      |c12 AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
      |        FROM bg GROUP BY 1, 2),
      |st AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
      |         CAST(count(*) AS BIGINT) AS n_succ FROM c12 GROUP BY 1),
      |ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec
      |       FROM c12 GROUP BY 1),
      |ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c12)
      |SELECT c12.w1, c12.w2, c12.c12, st.c1, st.n_succ, ct.n_prec,
      |  CAST(4 * c12.c12 - 3 AS DOUBLE) / CAST(4 * st.c1 AS DOUBLE)
      |  + (CAST(3 * st.n_succ AS DOUBLE) / CAST(4 * st.c1 AS DOUBLE))
      |    * (CAST(ct.n_prec AS DOUBLE) / CAST(ty.n_types AS DOUBLE)) AS p_ad
      |FROM c12 JOIN st USING (w1) JOIN ct USING (w2), ty
      |ORDER BY p_ad DESC, w1, w2 LIMIT 100""".stripMargin) { (s, d) =>
    TextAnalysis.bigramLmTable(Tables.documents(s, d), "text")
      .orderBy(col("p_ad").desc, col("w1"), col("w2"))
      .limit(100)
  }

  /** Round-11: per-document cross-entropy under the corpus's own
    * AD-smoothed bigram LM ([[TextAnalysis.lmCrossEntropy]]) — the
    * perplexity-filter quality score itself, every value
    * hash-replayed: per pair-type log p is round(ln(p_ad), 6) as
    * DECIMAL (the BM25-idf discipline), the per-doc Σ k·logp is an
    * exact decimal sum, the score one IEEE division. */
  val q196LmCrossEntropy = QueryDef(
    "q196_lm_cross_entropy",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |bg AS (SELECT doc_id,
      |         unnest(list_transform(generate_series(1, len(ts) - 1),
      |           i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS b
      |       FROM t WHERE len(ts) >= 2),
      |dbg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2,
      |          CAST(count(*) AS BIGINT) AS k
      |        FROM bg GROUP BY 1, 2, 3),
      |c12 AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12
      |        FROM dbg GROUP BY 1, 2),
      |st AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
      |         CAST(count(*) AS BIGINT) AS n_succ FROM c12 GROUP BY 1),
      |ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec
      |       FROM c12 GROUP BY 1),
      |ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c12),
      |lm AS (SELECT c12.w1, c12.w2,
      |  CAST(round(ln(
      |    CAST(4 * c12.c12 - 3 AS DOUBLE) / CAST(4 * st.c1 AS DOUBLE)
      |    + (CAST(3 * st.n_succ AS DOUBLE) / CAST(4 * st.c1 AS DOUBLE))
      |      * (CAST(ct.n_prec AS DOUBLE) / CAST(ty.n_types AS DOUBLE))), 6)
      |    AS DECIMAL(18,6)) AS logp
      |  FROM c12 JOIN st USING (w1) JOIN ct USING (w2), ty),
      |agg AS (SELECT d.doc_id, CAST(sum(d.k) AS BIGINT) AS n_pairs,
      |          sum(CAST(d.k AS DECIMAL(20,0)) * lm.logp) AS sum_logp
      |        FROM dbg d JOIN lm ON lm.w1 = d.w1 AND lm.w2 = d.w2
      |        GROUP BY 1)
      |SELECT doc_id, n_pairs,
      |  CAST(-sum_logp AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS cross_entropy
      |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
    TextAnalysis.lmCrossEntropy(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Round-11: incremental bigram-LM sidecar
    * ([[TextAnalysis.writeBigramCountSidecar]] /
    * [[TextAnalysis.lmCrossEntropyFromSidecar]]) — the LM's corpus
    * statistics maintained as an additive sidecar (the token-count
    * discipline): build from two doc-disjoint appends + compaction,
    * then score every document WITHOUT re-reading the corpus to
    * train. Summed counts equal from-scratch counts, so the scores
    * are bit-equal to q196's and the oracle is the same SQL — the
    * incremental == one-shot proof, hash-checked. */
  val q204LmSidecar = QueryDef(
    "q204_lm_sidecar",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |bg AS (SELECT doc_id,
      |         unnest(list_transform(generate_series(1, len(ts) - 1),
      |           i -> {'w1': ts[i], 'w2': ts[i + 1]})) AS b
      |       FROM t WHERE len(ts) >= 2),
      |dbg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2,
      |          CAST(count(*) AS BIGINT) AS k
      |        FROM bg GROUP BY 1, 2, 3),
      |c12 AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12
      |        FROM dbg GROUP BY 1, 2),
      |st AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
      |         CAST(count(*) AS BIGINT) AS n_succ FROM c12 GROUP BY 1),
      |ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_prec
      |       FROM c12 GROUP BY 1),
      |ty AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM c12),
      |lm AS (SELECT c12.w1, c12.w2,
      |  CAST(round(ln(
      |    CAST(4 * c12.c12 - 3 AS DOUBLE) / CAST(4 * st.c1 AS DOUBLE)
      |    + (CAST(3 * st.n_succ AS DOUBLE) / CAST(4 * st.c1 AS DOUBLE))
      |      * (CAST(ct.n_prec AS DOUBLE) / CAST(ty.n_types AS DOUBLE))), 6)
      |    AS DECIMAL(18,6)) AS logp
      |  FROM c12 JOIN st USING (w1) JOIN ct USING (w2), ty),
      |agg AS (SELECT d.doc_id, CAST(sum(d.k) AS BIGINT) AS n_pairs,
      |          sum(CAST(d.k AS DECIMAL(20,0)) * lm.logp) AS sum_logp
      |        FROM dbg d JOIN lm ON lm.w1 = d.w1 AND lm.w2 = d.w2
      |        GROUP BY 1)
      |SELECT doc_id, n_pairs,
      |  CAST(-sum_logp AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS cross_entropy
      |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q204_lm_sidecar_$sf"
    }
    graft.sources.Sinks.wipeForRebuild(s, dir)
    val docs = Tables.documents(s, d)
    // batch-tagged appends (round 16, the q168 discipline): a
    // replayed batch is a detectable no-op; the oracle is unchanged
    // because reads collapse duplicates before summing
    TextAnalysis.writeBigramCountSidecar(
      docs.filter(col("doc_id") % 2 === 0), "text", dir, Some("even"))
    TextAnalysis.writeBigramCountSidecar(
      docs.filter(col("doc_id") % 2 === 1), "text", dir, Some("odd"))
    TextAnalysis.compactBigramSidecar(s, dir)
    TextAnalysis.lmCrossEntropyFromSidecar(s, dir, docs, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Round-11: per-document TF-IDF keyword extraction
    * ([[TextAnalysis.tfidfKeywords]]) — the top-3 terms per doc by
    * tf·idf with idf = round(ln(N/df), 6) as DECIMAL and exact
    * long×decimal scores; the rank ≤ k filter rides the
    * WindowGroupLimit rewrite. */
  val q199TfidfKeywords = QueryDef(
    "q199_tfidf_keywords",
    """WITH pd AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |            FROM documents),
      |tfq AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |        FROM pd GROUP BY 1, 2),
      |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df
      |        FROM tfq GROUP BY 1),
      |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
      |sc AS (SELECT tfq.doc_id, tfq.term, tfq.tf, dfs.df,
      |         tfq.tf * CAST(round(ln(
      |           CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)
      |           AS DECIMAL(18,6)) AS score
      |       FROM tfq JOIN dfs USING (term), nd)
      |SELECT doc_id, term, tf, df, CAST(score AS DOUBLE) AS score, rnk
      |FROM (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, term) AS INT) AS rnk FROM sc)
      |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
    TextAnalysis.tfidfKeywords(Tables.documents(s, d), "doc_id", "text", k = 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score").cast("double").as("score"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Round-11: windowed skip-gram PMI associations
    * ([[TextAnalysis.skipgramPmi]]) — the GloVe/word2vec co-occurrence
    * matrix with distance weighting (exact half-units) and PMI scored
    * through the shared round-ln-DECIMAL discipline; top-5 positive
    * associations per left word, min pair count 3. The oracle replays
    * the window as a position range join and the identical IEEE
    * expression tree. */
  val q207SkipgramPmi = QueryDef(
    "q207_skipgram_pmi",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |pos AS (SELECT doc_id,
      |          unnest(list_transform(generate_series(1, len(ts)),
      |            i -> {'i': i, 'term': ts[i]})) AS p
      |        FROM t),
      |pairs AS (SELECT a.p.term AS w1, b.p.term AS w2, b.p.i - a.p.i AS d
      |          FROM pos a JOIN pos b ON a.doc_id = b.doc_id
      |            AND b.p.i - a.p.i >= 1 AND b.p.i - a.p.i <= 2),
      |cd AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c,
      |              CAST(sum(2 // d) AS BIGINT) AS xw
      |       FROM pairs GROUP BY 1, 2),
      |lm AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cl FROM cd GROUP BY 1),
      |rm AS (SELECT w2, CAST(sum(c) AS BIGINT) AS cr FROM cd GROUP BY 1),
      |tt AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cd),
      |scored AS (SELECT w1, w2, c, xw,
      |    CAST(round(ln(CAST(c AS DOUBLE) * CAST(t AS DOUBLE) /
      |        (CAST(cl AS DOUBLE) * CAST(cr AS DOUBLE))), 6)
      |      AS DECIMAL(18,6)) AS pmi
      |  FROM cd JOIN lm USING (w1) JOIN rm USING (w2), tt
      |  WHERE c >= 3)
      |SELECT w1, w2, c, xw, CAST(pmi AS DOUBLE) AS pmi, rnk FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (
      |    PARTITION BY w1 ORDER BY pmi DESC, w2) AS INT) AS rnk
      |  FROM scored WHERE pmi > 0)
      |WHERE rnk <= 5 ORDER BY w1, w2""".stripMargin) { (s, d) =>
    // ranking/tiebreaks run on the DECIMAL pmi (order-stable); only
    // the OUTPUT column drops to double (the standing decimal-output
    // rule — a decimal cell reaches pandas as Decimal on one side and
    // float64 on the other and never hash-matches)
    TextAnalysis.skipgramPmi(Tables.documents(s, d), "doc_id", "text",
        window = 2, minCount = 3L, k = 5)
      .withColumn("pmi", col("pmi").cast("double"))
      .orderBy("w1", "w2")
  }

  val all: Seq[QueryDef] = Seq(
    q150SourceCap, q151TokenRarity, q152SemanticDecontam,
    q153NormalizedDedup, q154BpeMerges, q155BpeTokenCounts,
    q156CorpusDiff, q157RemoveDupSpans, q158KnnJoinPq,
    q159KnnJoinIvfPqStored, q160DsirSelect, q167RemoveDupSpansByQuality,
    q168TokenRaritySidecar, q190Collocations, q191NoveltyCurve,
    q224UnicodeNormalize,
    q194BigramCoherence, q195BigramLm, q196LmCrossEntropy,
    q199TfidfKeywords, q204LmSidecar, q207SkipgramPmi)
}
