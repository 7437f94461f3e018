package graft.queries

import graft.QueryDef
import graft.ops.{Dedup, Relational, Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 scale-path queries: the set-valued batch k-NN join (every
  * retrieval / semantic-dedup pipeline's core operation) in both its
  * exact broadcast form and its LSH-bucketed 100 TB form, plus
  * substring-level dedup (duplicated-chunk spans — the scalable proxy
  * for suffix-array dedup). All three carry DuckDB oracles: the LSH
  * oracle embeds the same deterministic hyperplanes the Spark path
  * uses (the q41/q54 generated-oracle pattern).
  */
object ScaleQueries {

  /** Query set for the batch k-NN joins: every 100th vector. */
  private val QueryFilter = "vec_id % 100 = 0"

  /** Probe batch for the SPLIT stored-index queries (q130/q132/q159):
    * [[QueryFilter]] restricted to ids below the ScaleBench copy
    * stride (2^33), i.e. copy 0 only. On the real testdata dirs every
    * id is below the stride, so the registered queries' outputs are
    * unchanged; on a blown corpus this pins the query COUNT while the
    * index still grows ×copies — without it the probe ratio compounds
    * query-batch growth (ids ≡ 0 mod 100 exist in every re-keyed
    * copy) with per-query candidate growth and stops measuring the
    * thing the split exists to certify (probe cost vs corpus size at
    * a fixed workload). Round-9 100× run: q159's probe read ×222 with
    * the compounded batch — ~2 000 queries × 100× cells, i.e. BETTER
    * than the naive quadratic 10 000×, but unreadable as a
    * flat-probe certificate. */
  private[graft] val ProbeBatchFilter =
    "vec_id % 100 = 0 AND vec_id < 8589934592"

  /** Batch EXACT k-NN join: top-5 corpus neighbors for every query
    * vector in one plan. Query side broadcasts (bounded batch); the
    * corpus streams once; per-query ranking is map-side-limited by
    * WindowGroupLimit before the shuffle. */
  val q122AnnJoinExact = QueryDef(
    "q122_knn_join_exact",
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv FROM e WHERE $QueryFilter
       |), s AS (
       |  SELECT q.query_id, e.vec_id AS neighbor_id,
       |         round(list_cosine_similarity(e.v, q.qv), 6) AS cos
       |  FROM e, q WHERE e.vec_id <> q.query_id
       |), r AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS INT) AS rnk
       |  FROM s
       |)
       |SELECT query_id, neighbor_id, cos, rnk FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.annJoinBruteForce(
        queries = emb.filter(expr(QueryFilter)), corpus = emb,
        idCol = "vec_id", vecCol = "embedding", k = 5)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** The same hyperplane-literal SQL builder as q41/q54: replays
    * sign-of-projection bucketing in DuckDB from the SAME deterministic
    * planes, so the oracle exercises identical bucket membership. */
  private val annJoinLshOracle: String = {
    val planes = Similarity.hyperplanes(bits = 4, dim = 64)
    def lit(p: Seq[Double]) = p.mkString("[", ",", "]::DOUBLE[]")
    val bits = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(v, ${lit(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH h AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
       |    CAST($bits AS BIGINT) AS bucket
       |  FROM embeddings
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv, bucket FROM h WHERE $QueryFilter
       |), s AS (
       |  SELECT q.query_id, h.vec_id AS neighbor_id,
       |         round(list_cosine_similarity(h.v, q.qv), 6) AS cos
       |  FROM q JOIN h ON h.bucket = q.bucket AND h.vec_id <> q.query_id
       |), r AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS INT) AS rnk
       |  FROM s
       |)
       |SELECT query_id, neighbor_id, cos, rnk FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Batch APPROXIMATE k-NN join — the 100 TB path: candidates come
    * from a bucket EQUALITY join (never a cross join; PlanQualitySpec
    * asserts no nested-loop in this plan), exact cosine re-ranks
    * within buckets. bits=4 here so buckets are populated at test SF;
    * the default bucketCap (10000) sits far above any test-SF bucket,
    * so the skew guard is exercised structurally (the count+anti-join
    * run) without dropping anything the oracle would keep. */
  val q120AnnJoinLsh = QueryDef("q120_knn_join_lsh", annJoinLshOracle) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    Similarity.annJoinLsh(
        queries = emb.filter(expr(QueryFilter)), corpus = emb,
        idCol = "vec_id", vecCol = "embedding", k = 5, bits = 4, dim = 64)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Substring-level dedup signal ([[Dedup.duplicateSpans]]):
    * per-document duplicated-chunk-span fraction at 10-token chunks.
    * Spark groups chunks by xxhash64 (8-byte shuffle keys); the oracle
    * groups by the chunk text itself — identical up to 64-bit
    * collisions, which can only over-count duplication. */
  val q121DupSpans = QueryDef(
    "q121_dup_spans",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |), chunks AS (
      |  SELECT doc_id, array_to_string(ts[i : i + 9], ' ') AS chunk_text,
      |         CAST(len(ts[i : i + 9]) AS BIGINT) AS chunk_tokens
      |  FROM toks, unnest(generate_series(1, greatest(len(ts), 1), 10)) AS g(i)
      |), occ AS (
      |  SELECT chunk_text, count(*) AS occ FROM chunks GROUP BY 1
      |), agg AS (
      |  SELECT c.doc_id,
      |    CAST(count(*) AS BIGINT) AS n_chunks,
      |    CAST(sum(CASE WHEN o.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_dup_chunks,
      |    CAST(sum(c.chunk_tokens) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN o.occ >= 2 THEN c.chunk_tokens ELSE 0 END)
      |      AS BIGINT) AS dup_tokens
      |  FROM chunks c JOIN occ o ON c.chunk_text = o.chunk_text
      |  GROUP BY c.doc_id
      |)
      |SELECT doc_id, n_chunks, n_dup_chunks, n_tokens, dup_tokens,
      |  CAST(dup_tokens AS DOUBLE) / n_tokens AS dup_span_frac
      |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
    Dedup.duplicateSpans(Tables.documents(s, d), "text", "doc_id",
        chunkTokens = 10)
      .orderBy(col("doc_id"))
  }

  /** Incremental dedup end-to-end ([[Dedup.writeFingerprintSidecar]] +
    * [[Dedup.dedupAgainstSidecar]]): the sidecar is seeded from the
    * even-doc_id half of the corpus, then the WHOLE corpus arrives as
    * a "new shard" — every even doc is already fingerprinted, every
    * odd doc whose text matches an even doc (or a smaller odd doc_id)
    * drops, and the min-id survivor of each remaining text wins. The
    * oracle replays the anti-join + min-id semantics directly on text
    * equality (md5 is injective here and cross-engine identical). The
    * sidecar dir is wiped per run — `dedupAgainstSidecar` APPENDS, so
    * a stale sidecar from a previous run would change the result. */
  val q123IncrementalDedup = QueryDef(
    "q123_incremental_dedup",
    """WITH seen AS (
      |  SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0
      |), cand AS (
      |  SELECT d.doc_id, d.text FROM documents d
      |  LEFT JOIN seen s ON d.text = s.text
      |  WHERE s.text IS NULL
      |), surv AS (
      |  SELECT min(doc_id) AS doc_id FROM cand GROUP BY text
      |)
      |SELECT s.doc_id, d.n_chars FROM surv s
      |JOIN documents d ON d.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q123_sidecar_$sf"
    }
    graft.sources.Sinks.wipeForRebuild(s, dir)
    val docs = Tables.documents(s, d)
    Dedup.writeFingerprintSidecar(
      docs.filter(col("doc_id") % 2 === 0), "text", dir)
    Dedup.dedupAgainstSidecar(docs, "text", "doc_id", dir)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Committed coarse-quantizer centroids
    * (`fixtures/q130_centroids.csv` — [[graft.FixtureDump]]), keyed by
    * the exact corpus checksum, parsed once per JVM. The q202/q208
    * "trust the fit ONCE" seam for the MLlib-KMeans ANN family. */
  private[graft] lazy val ivfFixture: Map[Long, Seq[(Int, Seq[Double])]] = {
    val src = scala.io.Source.fromFile(
      graft.QueryDef.fixturePath("q130_centroids.csv"), "UTF-8")
    try {
      src.getLines().drop(1).map(_.split(',')).toSeq
        .map(a => (a(0).toLong, a(1).toInt, a(2).toInt, a(3).toDouble))
        .groupBy(_._1)
        .map { case (key, rows) =>
          key -> rows.groupBy(_._2).toSeq.sortBy(_._1)
            .map { case (cell, cs) =>
              (cell, cs.sortBy(_._3).map(_._4)) }
        }
    } finally src.close()
  }

  /** The shared q124/q130 fixture oracle: select the corpus' centroid
    * rows by replaying the exact checksum, assign every vector by the
    * rounded-sqEuclidean argmin (ties to the lowest cell), pick probe
    * cells by rounded cosine DESC (ties to the lowest cell), rank
    * candidates by the standing rounded cosine — every step the
    * literal SQL twin of [[Similarity.annJoinIvfFixed]]'s
    * expressions. */
  private def ivfFixedOracle(queryFilter: String): String = {
    val fp = graft.QueryDef.fixturePath("q130_centroids.csv")
    s"""WITH cent AS (
       |  SELECT cell, list(x ORDER BY j) AS c
       |  FROM read_csv('$fp', header = true,
       |    columns = {'corpus_key': 'BIGINT', 'cell': 'INTEGER',
       |               'j': 'INTEGER', 'x': 'DOUBLE'})
       |  WHERE corpus_key = (SELECT CAST(sum(vec_id +
       |      CAST(floor(CAST(embedding AS DOUBLE[])[1] * 1000000.0)
       |        AS BIGINT)) AS BIGINT) FROM embeddings)
       |  GROUP BY cell
       |), e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), asg AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT e.vec_id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(list_sum(list_transform(generate_series(1, len(e.v)),
       |          jj -> (e.v[jj] - c.c[jj]) * (e.v[jj] - c.c[jj]))), 6),
       |        c.cell) AS rn
       |    FROM e, cent c)
       |  WHERE rn = 1
       |), q AS (
       |  SELECT vec_id AS query_id, v AS qv FROM e WHERE $queryFilter
       |), probes AS (
       |  SELECT query_id, qv, cell FROM (
       |    SELECT q.query_id, q.qv, c.cell,
       |      row_number() OVER (PARTITION BY q.query_id ORDER BY
       |        round(list_cosine_similarity(q.qv, c.c), 6) DESC, c.cell)
       |        AS prn
       |    FROM q, cent c)
       |  WHERE prn <= 4
       |), s AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    round(list_cosine_similarity(a.v, p.qv), 6) AS cos
       |  FROM probes p JOIN asg a ON a.cell = p.cell
       |    AND a.vec_id <> p.query_id
       |), r AS (
       |  SELECT query_id, neighbor_id, cos,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS INT) AS rnk
       |  FROM s
       |)
       |SELECT query_id, neighbor_id, cos, rnk FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** Batch k-NN join through the IVF (KMeans-cell) index: per-query
    * probe cells picked in-row against broadcast centroids — no
    * per-query driver work.
    *
    * HASH-ORACLED since round 17 (formerly rows-only "the KMeans fit
    * is not SQL-expressible" — the r16 verdict's #4 ask): the fit IS
    * the only non-replayable step, so it is committed ONCE as the
    * centroid fixture (the q202/q208 seam) and the query SERVES from
    * the frozen centroids with fully SQL-replayable arithmetic
    * ([[Similarity.annJoinIvfFixed]] — rounded-sqEuclidean argmin
    * assignment, rounded-cosine probe selection, rounded-cosine
    * ranking). Serving from frozen centroids is the production
    * stored-index shape; SimilaritySpec asserts the live MLlib fit
    * still reproduces the fixture, so a fit drift fails a test
    * instead of silently moving the answer. On corpora OUTSIDE the
    * fixture (the scale harness's blown dirs) the query falls back to
    * the live-fit [[Similarity.annJoinIvf]] — the pre-flip rows-only
    * behavior, which is also what the 10×/100× maps should measure. */
  val q124AnnJoinIvf = QueryDef(
    "q124_knn_join_ivf",
    ivfFixedOracle(QueryFilter)) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    (if (graft.QueryDef.liveFitForced) None
     else ivfFixture.get(Similarity.ivfCorpusKey(emb,
       cacheKey = Some(s"$d/embeddings")))) match {
      case Some(cents) =>
        Similarity.annJoinIvfFixed(
            queries = emb.filter(expr(QueryFilter)), corpus = emb,
            idCol = "vec_id", vecCol = "embedding", k = 5,
            centroids = cents, nprobe = 4)
          .orderBy(col("query_id"), col("rnk"))
      case None =>
        Similarity.annJoinIvf(
            queries = emb.filter(expr(QueryFilter)), corpus = emb,
            idCol = "vec_id", vecCol = "embedding", k = 5,
            nlist = 16, nprobe = 4, cacheKey = Some(s"$d/embeddings"))
          .orderBy(col("query_id"), col("rnk"))
    }
  }

  /** Batch k-NN join through the STORED IVF index
    * ([[Similarity.buildIvfIndex]] + [[Similarity.annJoinIvfStored]]):
    * the index is materialized cell-partitioned to parquet, then the
    * query batch runs against it with NO KMeans fit at query time —
    * probe cells picked in-row vs the broadcast centroid table, the
    * scan statically pruned to the probed cells. Rows-only (the KMeans
    * fit is not SQL-expressible); SimilaritySpec pins parity with the
    * in-memory [[Similarity.annJoinIvf]] and asserts the partition
    * pruning. The index dir is wiped per run (buildIvfIndex overwrites
    * but a stale layout from an older nlist would change cells). */
  /** q130 split into its two phases so the scale bench can time the
    * one-time index BUILD (corpus-linear by design) separately from
    * the per-batch PROBE (nprobe/nlist-pruned) — a probe-side
    * regression must not hide under the build number at 100×. */
  private[graft] def q130Parts(s: org.apache.spark.sql.SparkSession,
      d: String): (() => Unit, () => org.apache.spark.sql.DataFrame) = {
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q130_ivf_index_$sf"
    }
    val emb = Tables.embeddings(s, d)
    // fixture dispatch decided ONCE here, outside the thunks — the
    // probe phase must stay free of the corpus-checksum aggregation
    // (its scale certificate is probe cost vs corpus size)
    val fixed = if (graft.QueryDef.liveFitForced) None
      else ivfFixture.get(Similarity.ivfCorpusKey(emb,
        cacheKey = Some(s"$d/embeddings")))
    val build = () => {
      graft.sources.Sinks.wipeForRebuild(s, dir)
      fixed match {
        case Some(cents) => Similarity.buildIvfIndexFromCentroids(
          emb, "vec_id", "embedding", dir, cents)
        case None =>
          Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir,
            nlist = 16)
      }
    }
    val probe = () =>
      (if (fixed.isDefined)
        Similarity.annJoinIvfStoredFixed(s, dir,
          queries = emb.filter(expr(ProbeBatchFilter)),
          idCol = "vec_id", vecCol = "embedding", k = 5, nprobe = 4)
      else
        Similarity.annJoinIvfStored(s, dir,
          queries = emb.filter(expr(ProbeBatchFilter)),
          idCol = "vec_id", vecCol = "embedding", k = 5, nprobe = 4))
        .orderBy(col("query_id"), col("rnk"))
    (build, probe)
  }

  /** HASH-ORACLED since round 17, exactly like [[q124AnnJoinIvf]] (the
    * shared fixture + the shared oracle; the stored layout is built
    * FROM the frozen centroids via [[Similarity
    * .buildIvfIndexFromCentroids]] and served by the rounded probe
    * rule, so build → store → probe replays end-to-end in SQL; blown
    * corpora fall back to the live-fit path). */
  val q130AnnJoinIvfStored = QueryDef(
    "q130_knn_join_ivf_stored",
    ivfFixedOracle(ProbeBatchFilter)) { (s, d) =>
    val (build, probe) = q130Parts(s, d)
    build()
    probe()
  }

  /** Sequence packing ([[Relational.packSequences]]): documents
    * concatenated in doc_id order, the token stream cut every 512
    * tokens; each doc reports its landing sequence, offset, and span.
    * The global token cumsum is the DISTRIBUTED
    * `globalRankAndRunningSum` (no unpartitioned window); the oracle
    * replays it as a plain window cumsum — byte-identical by
    * construction, pure integer arithmetic end-to-end (no doubles). */
  val q125SeqPack = QueryDef(
    "q125_seq_pack",
    """WITH t AS (
      |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, n_toks,
      |    CAST(SUM(n_toks) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_tokens
      |  FROM t
      |)
      |SELECT doc_id, n_toks, cum_tokens,
      |  CAST((cum_tokens - n_toks) // 512 AS BIGINT) AS start_seq,
      |  CAST((cum_tokens - n_toks) % 512 AS BIGINT) AS start_offset,
      |  CAST((cum_tokens - 1) // 512 AS BIGINT) AS end_seq
      |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
    Relational.packSequences(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        order = Seq(col("doc_id")),
        nTokens = TextAnalysis.tokenCount(col("text")),
        seqTokens = 512L)
      .select(col("doc_id"), col("n_toks"), col("cum_tokens"),
        col("start_seq"), col("start_offset"), col("end_seq"))
      .orderBy(col("doc_id"))
  }

  /** Mixture-budget application — the sampler that ENFORCES q118's
    * temperature weights: docs rank inside their source by the
    * deterministic md5 order (cross-engine identical), accumulate
    * token counts through a PARTITIONED window (per-source — scalable
    * at any source count), and survive while the running total fits
    * the per-source budget. Output: per-source kept-doc/token counts
    * vs budget. Budgets mirror q118's exact-long arithmetic. */
  val q126MixtureApply = QueryDef(
    "q126_mixture_apply",
    """WITH src AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
      |    AS n_tokens
      |  FROM documents GROUP BY 1
      |), w AS (
      |  SELECT source,
      |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS iw
      |  FROM src
      |), b AS (
      |  SELECT source,
      |    CAST(floor(200000 * (CAST(iw AS DOUBLE)
      |      / CAST(SUM(iw) OVER () AS DOUBLE))) AS BIGINT) AS token_budget
      |  FROM w
      |), ranked AS (
      |  SELECT d.source, d.doc_id,
      |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
      |    md5(CAST(d.doc_id AS VARCHAR)) AS rk
      |  FROM documents d
      |), cum AS (
      |  SELECT source, doc_id, n_toks,
      |    CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY rk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_toks
      |  FROM ranked
      |)
      |SELECT c.source, b.token_budget,
      |  CAST(count(*) AS BIGINT) AS n_docs_kept,
      |  CAST(sum(c.n_toks) AS BIGINT) AS n_tokens_kept
      |FROM cum c JOIN b ON c.source = b.source
      |WHERE c.cum_toks <= b.token_budget
      |GROUP BY c.source, b.token_budget
      |ORDER BY c.source""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val toks = TextAnalysis.tokens(col("text"))
    val budgets = docs
      .groupBy(col("source"))
      .agg(sum(size(toks).cast("long")).as("n_tokens"))
      .withColumn("iw", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
      .withColumn("token_budget",
        floor(lit(200000) * (col("iw").cast("double") /
          sum(col("iw")).over(Window.partitionBy()).cast("double")))
          .cast("long"))
      .select(col("source"), col("token_budget"))
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs
      .select(col("source"), col("doc_id"), size(toks).cast("long").as("n_toks"))
      .withColumn("cum_toks",
        sum(col("n_toks")).over(wSrc.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .join(broadcast(budgets), "source")
      .filter(col("cum_toks") <= col("token_budget"))
      .groupBy(col("source"), col("token_budget"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("n_toks")).as("n_tokens_kept"))
      .orderBy(col("source"))
  }

  /** Deterministic stratified sampling
    * ([[Relational.stratifiedSampleByHash]]): per-language fractions
    * applied through md5-derived uniforms — fully oracle-able, unlike
    * the rand()-based `sampleBy` (q102, rows-only). The oracle builds
    * the SAME uniform from the same md5 prefix. */
  val q127StratifiedDet = QueryDef(
    "q127_stratified_det",
    """WITH u AS (
      |  SELECT doc_id, lang,
      |    (CAST(CAST('0x' || substring(
      |        md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 15) AS BIGINT)
      |      AS DOUBLE) + 1.0) / 1.152921504606847e18 AS uni
      |  FROM documents
      |)
      |SELECT doc_id, lang FROM u
      |WHERE uni < CASE lang WHEN 'en' THEN 0.5 WHEN 'es' THEN 0.25
      |                      WHEN 'de' THEN 0.1 ELSE 0.0 END
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Relational.stratifiedSampleByHash(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "lang", "doc_id",
        Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.1))
      .orderBy(col("doc_id"))
  }

  /** Mixture UP-sampling ([[Relational.replicateByWeight]]): per-source
    * epoch weights > 1 replicate rows, fractional parts resolve by the
    * q127 md5 uniform — the oracle replays floor+frac+generate_series
    * exactly. Completes the mixture story: q118 derives weights, q126
    * enforces a downsampling budget, this up-samples the
    * low-resource sources. */
  val q137MixtureUpsample = QueryDef(
    "q137_mixture_upsample",
    """WITH w AS (
      |  SELECT doc_id, source,
      |    CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.0
      |                WHEN 'src2' THEN 0.4 ELSE 1.2 END AS w,
      |    (CAST(CAST('0x' || substring(
      |        md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 15) AS BIGINT)
      |      AS DOUBLE) + 1.0) / 1.152921504606847e18 AS uni
      |  FROM documents
      |), n AS (
      |  SELECT doc_id, source,
      |    CAST(floor(w) AS BIGINT) +
      |      (CASE WHEN uni < w - floor(w) THEN 1 ELSE 0 END) AS n_copies
      |  FROM w
      |)
      |SELECT doc_id, source, g.copy
      |FROM n, unnest(generate_series(1, n_copies)) AS g(copy)
      |WHERE n_copies >= 1
      |ORDER BY doc_id, copy""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val w = when(col("source") === "src0", 2.5)
      .when(col("source") === "src1", 1.0)
      .when(col("source") === "src2", 0.4)
      .otherwise(1.2)
    Relational.replicateByWeight(docs, "doc_id", w)
      .orderBy(col("doc_id"), col("copy"))
  }

  /** Deterministic global shuffle ([[Relational.deterministicShuffle]]):
    * the training-data reorder as a pure function of (id, seed). The
    * oracle replays ROW_NUMBER over the same md5 sort key — hex md5
    * strings compare identically under both engines' binary collation.
    * Seed changes permute; the distributed rank is already proven
    * byte-identical to the single window (RelationalSpec). */
  val q138DetShuffle = QueryDef(
    "q138_det_shuffle",
    """SELECT doc_id, source,
      |  CAST(ROW_NUMBER() OVER (
      |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '|42')) AS BIGINT) AS pos
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Relational.deterministicShuffle(
        Tables.documents(s, d).select(col("doc_id"), col("source")),
        "doc_id")
      .select(col("doc_id"), col("source"), col("pos"))
      .orderBy(col("doc_id"))
  }

  /** Forward as-of join ([[graft.ops.AsOf.asOfJoinForward]]): each
    * error event picks up the NEXT purchase of the same user at or
    * after it. The oracle is an explicit row_number formulation
    * ordered by (ts, p_event) — the SAME deterministic tiebreak the
    * Spark path applies — rather than DuckDB's native ASOF, which
    * returns an ARBITRARY row when several purchases share the minimal
    * qualifying timestamp (a data-dependent flake the moment equal-ts
    * purchases per user appear). Completes the as-of family next to
    * the backward q42. */
  val q128AsofForward = QueryDef(
    "q128_asof_forward",
    """WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
      |     p AS (SELECT user_id, ts, event_id AS p_event, value AS p_value
      |           FROM events WHERE event_type = 'purchase'),
      |     m AS (
      |       SELECT e.event_id, p.p_event, p.p_value,
      |         ROW_NUMBER() OVER (PARTITION BY e.event_id
      |           ORDER BY p.ts, p.p_event) AS rn
      |       FROM e JOIN p ON e.user_id = p.user_id AND p.ts >= e.ts
      |     )
      |SELECT e.event_id, e.user_id, m.p_event AS asof_p_event,
      |       m.p_value AS asof_p_value
      |FROM e LEFT JOIN m ON m.event_id = e.event_id AND m.rn = 1
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("p_event"), col("value").as("p_value"))
    graft.ops.AsOf.asOfJoinForward(errors, purchases, Seq("user_id"),
        "ts", "ts", Seq("p_event", "p_value"), tiebreak = Some("p_event"))
      .select(col("event_id"), col("user_id"),
        col("asof_p_event"), col("asof_p_value"))
      .orderBy(col("event_id"))
  }

  /** Quality-aware dedup survivors: production dedup keeps the BEST
    * document of each near-dup cluster, not the lowest id. Clusters
    * come from the connected-components operator (q103's machinery);
    * the survivor is argmax(quality, then min doc_id) — expressed as
    * max-quality-per-component + min-id-among-maximal, which needs no
    * string-formatting argmax tricks: the quality doubles are the same
    * IEEE products in both engines (q22's proven expression), so the
    * equality filter selects the same rows. */
  /** The q22-proven composite quality expression (unrounded — both
    * engines compute the identical IEEE product), shared by q129 and
    * the composed q131 pipeline. */
  private def docQuality(t: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val nTokens = TextAnalysis.tokenCount(t)
    val nChars = length(t)
    val stopRatio = TextAnalysis.stopwordCount(t).cast("double") / nTokens
    val meanTokLen = (nChars - nTokens + 1).cast("double") / nTokens
    least(nTokens / 20.0, lit(1.0)) *
      when(meanTokLen.between(2.0, 12.0), 1.0).otherwise(0.3) *
      when(stopRatio.between(0.01, 0.6), 1.0).otherwise(0.5)
  }

  val q129QualityDedup = QueryDef(
    "q129_quality_dedup",
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ts,
      |         len(string_split(text, ' ')) AS n_toks
      |  FROM documents
      |), pairs AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM toks a JOIN toks b
      |    ON a.lang = b.lang AND (a.n_toks // 10) = (b.n_toks // 10)
      |       AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) /
      |        len(list_distinct(list_concat(a.ts, b.ts))) >= 0.7
      |), sym AS (
      |  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
      |), walk(node, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.node
      |), comp AS (
      |  SELECT node AS doc_id, min(label) AS component FROM walk GROUP BY node
      |), qual AS (
      |  SELECT doc_id,
      |    (CASE WHEN n_tokens / 20.0 < 1.0 THEN n_tokens / 20.0 ELSE 1.0 END)
      |      * (CASE WHEN CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens
      |               BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END)
      |      * (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens
      |               BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) AS quality
      |  FROM (
      |    SELECT doc_id, length(text) AS n_chars,
      |      len(string_split(text, ' ')) AS n_tokens,
      |      len(list_filter(string_split(text, ' '),
      |          t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop
      |    FROM documents)
      |), j AS (
      |  SELECT c.component, c.doc_id, q.quality
      |  FROM comp c JOIN qual q ON c.doc_id = q.doc_id
      |), best AS (
      |  SELECT component, max(quality) AS max_q,
      |         CAST(count(*) AS BIGINT) AS cluster_size
      |  FROM j GROUP BY component
      |)
      |SELECT b.component, b.cluster_size,
      |  min(j.doc_id) AS survivor_id, b.max_q
      |FROM best b JOIN j ON j.component = b.component AND j.quality = b.max_q
      |GROUP BY b.component, b.cluster_size, b.max_q
      |ORDER BY b.component""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val comp = graft.ops.Clustering.jaccardDedupClusters(docs,
        threshold = 0.7, lenBlock = 10)
      .select(col("doc_id"), col("component"))
    val j = comp.join(
      docs.select(col("doc_id"), docQuality(col("text")).as("quality")),
      "doc_id")
    val best = j.groupBy(col("component"))
      .agg(max(col("quality")).as("max_q"),
        count(lit(1)).as("cluster_size"))
    j.join(best, "component")
      .filter(col("quality") === col("max_q"))
      .groupBy(col("component"), col("cluster_size"), col("max_q"))
      .agg(min(col("doc_id")).as("survivor_id"))
      .select(col("component"), col("cluster_size"), col("survivor_id"),
        col("max_q"))
      .orderBy(col("component"))
  }

  /** Bloom-prefiltered incremental dedup: q123's exact pipeline with
    * membership routed through the sidecar's Bloom companion —
    * definitely-new rows bypass the anti-join, might-contain rows
    * still confirm exactly, so the SAME oracle must hash-match. The
    * query that proves the 100 TB prefilter is pure routing, under
    * the driver's gate rather than a spec assertion. */
  val q133IncrementalDedupBloom = QueryDef(
    "q133_incremental_dedup_bloom",
    """WITH seen AS (
      |  SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0
      |), cand AS (
      |  SELECT d.doc_id, d.text FROM documents d
      |  LEFT JOIN seen s ON d.text = s.text
      |  WHERE s.text IS NULL
      |), surv AS (
      |  SELECT min(doc_id) AS doc_id FROM cand GROUP BY text
      |)
      |SELECT s.doc_id, d.n_chars FROM surv s
      |JOIN documents d ON d.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q133_sidecar_$sf"
    }
    graft.sources.Sinks.wipeForRebuild(s, dir, s"$dir.bloom")
    val docs = Tables.documents(s, d)
    Dedup.writeFingerprintSidecar(
      docs.filter(col("doc_id") % 2 === 0), "text", dir)
    Dedup.writeSidecarBloom(s, dir)
    Dedup.dedupAgainstSidecar(docs, "text", "doc_id", dir,
        bloomPrefilter = true)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** The q41/q54 hyperplane-literal replay for the semantic-dedup
    * oracle: identical bucket membership, pair generation, cosine
    * threshold, then a recursive-CTE component closure (the q129
    * pattern) and min-id survivor per component. */
  private val semanticDedupOracle: String = {
    val planes = Similarity.hyperplanes(bits = 4, dim = 64)
    def pl(p: Seq[Double]) = p.mkString("[", ",", "]::DOUBLE[]")
    val bits = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(v, ${pl(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH RECURSIVE e0 AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |), corpus AS (
       |  SELECT vec_id, v FROM e0
       |  UNION ALL
       |  SELECT vec_id + 100000, list_transform(v, x -> x * 2.0) FROM e0
       |  UNION ALL
       |  SELECT vec_id + 200000, list_transform(v, x -> x * 0.5) FROM e0
       |  WHERE vec_id % 2 = 0
       |), h AS (
       |  SELECT vec_id, v, CAST($bits AS BIGINT) AS bucket FROM corpus
       |), ok AS (
       |  SELECT bucket FROM h GROUP BY bucket
       |  HAVING COUNT(*) BETWEEN 2 AND 1000
       |), pairs AS (
       |  SELECT x.vec_id AS src, y.vec_id AS dst
       |  FROM h x JOIN h y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |  WHERE x.bucket IN (SELECT bucket FROM ok)
       |    AND list_cosine_similarity(x.v, y.v) >= 0.9
       |), sym AS (
       |  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
       |), walk(node, label) AS (
       |  SELECT vec_id, vec_id FROM corpus
       |  UNION
       |  SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.node
       |), comp AS (
       |  SELECT node, min(label) AS component FROM walk GROUP BY node
       |)
       |SELECT component, CAST(count(*) AS BIGINT) AS group_size,
       |  min(node) AS survivor_id
       |FROM comp GROUP BY component ORDER BY component""".stripMargin
  }

  /** SemDeDup ([[Similarity.semanticDedupClusters]]): semantic
    * duplicate groups over embeddings, min-id survivor per group. The
    * synthetic embeddings are near-orthogonal (no natural semantic
    * dups), so the corpus plants them deterministically: every vector
    * gains a ×2.0-scaled copy and every even-id vector a ×0.5-scaled
    * copy (power-of-two scaling is EXACT in IEEE doubles — same
    * direction, cosine ≈ 1, same LSH bucket as the original in both
    * engines, since sign(p·2v) = sign(p·v) term-by-term exactly).
    * Expected groups: {v, 2v} for odd ids, {v, 2v, v/2} for even —
    * original ids always survive. Threshold 0.9 sits far above every
    * natural pair (max natural cosine < 0.7 at test SF) and far below
    * the planted ≈1.0, so the decision margin swamps any cross-engine
    * cosine ULP. */
  val q134SemanticDedup = QueryDef(
    "q134_semantic_dedup", semanticDedupOracle) { (s, d) =>
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val x2 = base.select(
      (col("vec_id") + lit(100000L)).as("vec_id"),
      transform(col("v"), x => x * lit(2.0)).as("v"))
    val x05 = base.filter(col("vec_id") % 2 === 0).select(
      (col("vec_id") + lit(200000L)).as("vec_id"),
      transform(col("v"), x => x * lit(0.5)).as("v"))
    val corpus = base.unionByName(x2).unionByName(x05)
    Similarity.semanticDedupClusters(corpus, "vec_id", "v",
        threshold = 0.9, bits = 4, dim = 64, bucketCap = 1000)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("group_size"),
        min(col("vec_id")).as("survivor_id"))
      .select(col("component"), col("group_size"), col("survivor_id"))
      .orderBy(col("component"))
  }

  /** Mergeable sketch sidecar end-to-end ([[graft.ops.Sketches]]): two
    * shard ingests append per-source HLL sketch rows, the merge
    * answers per-source distinct-text counts from the sidecar alone
    * (no corpus rescan). Estimates are deterministic (hash-based,
    * order/partitioning-independent) but engine-specific — DuckDB's
    * HLL is a different implementation — so rows-only. Exact n_rows
    * rides along; the lossless-union equality (incremental ==
    * from-scratch) is asserted in SketchesSpec. */
  val q135SketchSidecar = QueryDef.rowsOnly("q135_sketch_sidecar") { (s, d) =>
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q135_sketches_$sf"
    }
    graft.sources.Sinks.wipeForRebuild(s, dir)
    val docs = Tables.documents(s, d)
    graft.ops.Sketches.writeSketchSidecar(
      docs.filter(col("doc_id") % 2 === 0), Seq("source"), "text", dir)
    graft.ops.Sketches.writeSketchSidecar(
      docs.filter(col("doc_id") % 2 === 1), Seq("source"), "text", dir)
    graft.ops.Sketches.mergedDistinct(s, dir, Seq("source"))
      .orderBy(col("source"))
  }

  /** Incremental NEAR-dup dedup end-to-end ([[Dedup
    * .writeMinhashSidecar]] + [[Dedup.nearDupAgainstSidecar]]): the
    * even-doc_id half of the corpus is signature-indexed, the odd half
    * arrives as a new shard, and every odd doc whose estimated Jaccard
    * to an indexed doc reaches the threshold drops — without the
    * corpus text ever being re-read. Deterministic (xxhash64-derived
    * signatures) but unreplayable in DuckDB (q25's reason) →
    * rows-only; the semantics are spec-proven in DedupSpec. */
  val q136NearDupSidecar = QueryDef.rowsOnly("q136_neardup_sidecar") { (s, d) =>
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q136_mh_sidecar_$sf"
    }
    graft.sources.Sinks.wipeForRebuild(s, dir)
    val docs = Tables.documents(s, d)
    Dedup.writeMinhashSidecar(
      docs.filter(col("doc_id") % 2 === 0), "text", "doc_id", dir)
    Dedup.nearDupAgainstSidecar(
        docs.filter(col("doc_id") % 2 === 1), "text", "doc_id", dir,
        threshold = 0.8)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source overlap matrix from the sketch sidecar
    * ([[graft.ops.Sketches.overlapMatrix]]): HLL inclusion–exclusion
    * estimates |A∩B| per source pair from KB-sized sketches — the
    * decontamination screening question answered without rescanning
    * any text. Deterministic but engine-specific (q135's reason) →
    * rows-only; accuracy and the lossless shard-merge equality are
    * spec-proven. */
  val q139OverlapMatrix = QueryDef.rowsOnly("q139_overlap_matrix") { (s, d) =>
    val docs = Tables.documents(s, d)
    graft.ops.Sketches.overlapMatrix(
        graft.ops.Sketches.distinctSketches(docs, Seq("source"), "text"),
        "source")
      .orderBy(col("group_a"), col("group_b"))
  }

  /** Quality-budget cut ([[graft.ops.Curation.qualityBudgetCut]]):
    * the best 10k tokens of the corpus by the q22-proven quality
    * expression, exact-integer running total, strict fit. The oracle
    * replays the quality product (IEEE-identical, q129's CTE) and the
    * SUM OVER (ORDER BY quality DESC, doc_id) cumsum. */
  val q140QualityBudget = QueryDef(
    "q140_quality_budget",
    """WITH qual AS (
      |  SELECT doc_id, n_tokens,
      |    (CASE WHEN n_tokens / 20.0 < 1.0 THEN n_tokens / 20.0 ELSE 1.0 END)
      |      * (CASE WHEN CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens
      |               BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END)
      |      * (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens
      |               BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) AS quality
      |  FROM (
      |    SELECT doc_id, length(text) AS n_chars,
      |      len(string_split(text, ' ')) AS n_tokens,
      |      len(list_filter(string_split(text, ' '),
      |          t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop
      |    FROM documents)
      |), c AS (
      |  SELECT doc_id, quality,
      |    CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_tokens
      |  FROM qual
      |)
      |SELECT doc_id, quality, cum_tokens FROM c
      |WHERE cum_tokens <= 10000
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .withColumn("__q", docQuality(col("text")))
    graft.ops.Curation.qualityBudgetCut(docs, col("__q"), "doc_id",
        TextAnalysis.tokenCount(col("text")), budget = 10000L)
      .select(col("doc_id"), col("__q").as("quality"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Time-rolled distinct rollup ([[graft.ops.Sketches
    * .periodSketches]] + [[rollingDistinct]]): daily distinct users
    * plus the trailing-7-period distinct from one pass over
    * day-grain sketch rows — the pre-aggregated answer to "distinct
    * over any date range" that plain distinct counts (non-additive)
    * can't give. Deterministic but HLL-engine-specific → rows-only;
    * exact equality with direct computation is spec-proven. */
  val q141RollingDistinct = QueryDef.rowsOnly("q141_rolling_distinct") { (s, d) =>
    val ev = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = graft.ops.Sketches.periodSketches(ev, col("day"), "user_id")
    graft.ops.Sketches.rollingDistinct(daily, periods = 7)
      .select(date_format(col("period"), "yyyy-MM-dd").as("day"),
        col("n_rows"), col("approx_distinct"), col("approx_distinct_7p"))
      .orderBy(col("day"))
  }

  /** Exact class balancing ([[Relational.balanceClasses]]): every
    * language downsampled to exactly the rarest language's count,
    * keeping each class's md5-ordered prefix. The oracle replays the
    * per-class ROW_NUMBER over the same md5 key against the global
    * min count. */
  val q142BalanceClasses = QueryDef(
    "q142_balance_classes",
    """WITH n AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
      |m AS (SELECT min(cnt) AS mn FROM n),
      |r AS (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR) || '|42')) AS rn
      |  FROM documents)
      |SELECT doc_id, lang FROM r, m WHERE rn <= mn
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Relational.balanceClasses(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "lang", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Incremental IVF index maintenance ([[Similarity.appendToIvfIndex]]):
    * the index is built from the even-vec_id half, the odd half is
    * APPENDED (nearest-stored-centroid assignment, no refit), and the
    * full query batch runs through the appended index — the nightly
    * embedding-ingest shape. Rows-only (KMeans fit); SimilaritySpec
    * pins the assignment rule and stored-path visibility. */
  /** q132 split (the q130Parts pattern): build = initial fit over the
    * even half + incremental APPEND of the odd half; probe = the
    * pruned batch query. The append is the nightly-ingest cost — it
    * belongs on the build side of the ratio. */
  private[graft] def q132Parts(s: org.apache.spark.sql.SparkSession,
      d: String): (() => Unit, () => org.apache.spark.sql.DataFrame) = {
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q132_ivf_index_$sf"
    }
    val emb = Tables.embeddings(s, d)
    val build = () => {
      graft.sources.Sinks.wipeForRebuild(s, dir)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", dir, nlist = 16)
      Similarity.appendToIvfIndex(s, dir, emb.filter(col("vec_id") % 2 === 1),
        "vec_id", "embedding")
      ()
    }
    val probe = () => Similarity.annJoinIvfStored(s, dir,
        queries = emb.filter(expr(ProbeBatchFilter)),
        idCol = "vec_id", vecCol = "embedding", k = 5, nprobe = 4)
      .orderBy(col("query_id"), col("rnk"))
    (build, probe)
  }

  val q132IvfAppend = QueryDef.rowsOnly("q132_ivf_append") { (s, d) =>
    val (build, probe) = q132Parts(s, d)
    build()
    probe()
  }

  /** The composed post-sidecar curation plan — every round-5 operator
    * chained in one lazy DataFrame: incremental sidecar dedup →
    * substring dup-span filter → near-dup cluster quality survivors →
    * per-source mixture budget → sequence packing. Split out so the
    * plan-quality spec can assert its shuffle budget and window shapes
    * directly. The only materialization points inside it are the ones
    * the component operators own for crash safety / iteration
    * (sidecar survivors, connected-components rounds, range-partition
    * offsets) — each bounded and documented at its operator. */
  private[graft] def curationPipeline(
      docs: org.apache.spark.sql.DataFrame,
      sidecarDir: String,
      totalBudget: Long = 2000L,
      seqTokens: Long = 256L): org.apache.spark.sql.DataFrame = {
    // 1. incremental dedup vs the persisted fingerprint sidecar
    val surv = Dedup.dedupAgainstSidecar(docs, "text", "doc_id", sidecarDir)
    // 2. substring-level dup-span filter WITHIN the surviving corpus
    val spans = Dedup.duplicateSpans(surv, "text", "doc_id", chunkTokens = 10)
      .select(col("doc_id"), col("dup_span_frac"))
    val fdocs = surv.join(spans, "doc_id")
      .filter(col("dup_span_frac") < 0.5)
      .drop("dup_span_frac")
    // 3. quality-aware near-dup cluster survivors (q129 machinery).
    //    collapseExact=false: stage 1's sidecar dedup already
    //    guarantees distinct texts, so the clusterer's own
    //    exact-duplicate collapse would be a no-op paid in shuffles.
    val comp = graft.ops.Clustering.jaccardDedupClusters(fdocs,
        threshold = 0.7, lenBlock = 10, collapseExact = false)
      .select(col("doc_id"), col("component"))
    val j = comp.join(
      fdocs.select(col("doc_id"), docQuality(col("text")).as("quality")),
      "doc_id")
    val best = j.groupBy(col("component")).agg(max(col("quality")).as("max_q"))
    val keep = j.join(best, "component")
      .filter(col("quality") === col("max_q"))
      .groupBy(col("component")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val kdocs = fdocs.join(keep, "doc_id")
    // 4. per-source mixture budget (q126 machinery): sqrt-temperature
    //    weights over the CURATED corpus, md5-ranked admission
    val toks = TextAnalysis.tokens(col("text"))
    val budgets = kdocs
      .groupBy(col("source"))
      .agg(sum(size(toks).cast("long")).as("n_tokens"))
      .withColumn("iw", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
      .withColumn("token_budget",
        floor(lit(totalBudget) * (col("iw").cast("double") /
          sum(col("iw")).over(Window.partitionBy()).cast("double")))
          .cast("long"))
      .select(col("source"), col("token_budget"))
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val mdocs = kdocs
      .select(col("source"), col("doc_id"), size(toks).cast("long").as("n_toks"))
      .withColumn("cum_toks",
        sum(col("n_toks")).over(wSrc.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .join(broadcast(budgets), "source")
      .filter(col("cum_toks") <= col("token_budget"))
      .select(col("doc_id"), col("n_toks"))
    // 5. sequence packing over the admitted stream (distributed cumsum)
    Relational.packSequences(mdocs, order = Seq(col("doc_id")),
        nTokens = col("n_toks"), seqTokens = seqTokens)
      .select(col("doc_id"), col("n_toks"), col("cum_tokens"),
        col("start_seq"), col("start_offset"), col("end_seq"))
  }

  /** The full round-5 curation pipeline in ONE composition — proves
    * the new operators chain without engine-level materialization
    * barriers: sidecar dedup (q123) → dup-span filter (q121) →
    * quality cluster survivors (q129) → mixture budget (q126) →
    * sequence packing (q125). The oracle replays every stage in
    * DuckDB as one CTE chain; each stage's cross-engine parity was
    * proven in isolation by its own query, so a mismatch here could
    * only come from the COMPOSITION (the property this query pins).
    * Budget 2000 binds at every test SF (sources carry 280-600
    * curated tokens each), so the mixture stage genuinely drops
    * documents rather than passing everything through. */
  val q131CurationPipeline = QueryDef(
    "q131_curation_pipeline",
    """WITH RECURSIVE seen AS (
      |  SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0
      |), cand AS (
      |  SELECT d.doc_id, d.text FROM documents d
      |  LEFT JOIN seen s ON d.text = s.text WHERE s.text IS NULL
      |), surv AS (
      |  SELECT min(doc_id) AS doc_id FROM cand GROUP BY text
      |), sdocs AS (
      |  SELECT d.* FROM surv s JOIN documents d USING (doc_id)
      |), toksp AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM sdocs
      |), chunks AS (
      |  SELECT doc_id, array_to_string(ts[i : i + 9], ' ') AS chunk_text,
      |         CAST(len(ts[i : i + 9]) AS BIGINT) AS chunk_tokens
      |  FROM toksp, unnest(generate_series(1, greatest(len(ts), 1), 10)) AS g(i)
      |), occ AS (
      |  SELECT chunk_text, count(*) AS occ FROM chunks GROUP BY 1
      |), spanagg AS (
      |  SELECT c.doc_id, sum(c.chunk_tokens) AS n_tokens,
      |    sum(CASE WHEN o.occ >= 2 THEN c.chunk_tokens ELSE 0 END) AS dup_tokens
      |  FROM chunks c JOIN occ o USING (chunk_text) GROUP BY 1
      |), fdocs AS (
      |  SELECT s.* FROM sdocs s JOIN spanagg a USING (doc_id)
      |  WHERE CAST(a.dup_tokens AS DOUBLE) / a.n_tokens < 0.5
      |), toks AS (
      |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ts,
      |         len(string_split(text, ' ')) AS n_toks
      |  FROM fdocs
      |), pairs AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM toks a JOIN toks b
      |    ON a.lang = b.lang AND (a.n_toks // 10) = (b.n_toks // 10)
      |       AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) /
      |        len(list_distinct(list_concat(a.ts, b.ts))) >= 0.7
      |), sym AS (
      |  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
      |), walk(node, label) AS (
      |  SELECT doc_id, doc_id FROM fdocs
      |  UNION
      |  SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.node
      |), comp AS (
      |  SELECT node AS doc_id, min(label) AS component FROM walk GROUP BY node
      |), qual AS (
      |  SELECT doc_id,
      |    (CASE WHEN n_tokens / 20.0 < 1.0 THEN n_tokens / 20.0 ELSE 1.0 END)
      |      * (CASE WHEN CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens
      |               BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END)
      |      * (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens
      |               BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) AS quality
      |  FROM (
      |    SELECT doc_id, length(text) AS n_chars,
      |      len(string_split(text, ' ')) AS n_tokens,
      |      len(list_filter(string_split(text, ' '),
      |          t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop
      |    FROM fdocs)
      |), jq AS (
      |  SELECT c.component, c.doc_id, q.quality
      |  FROM comp c JOIN qual q USING (doc_id)
      |), best AS (
      |  SELECT component, max(quality) AS max_q FROM jq GROUP BY component
      |), keep AS (
      |  SELECT min(jq.doc_id) AS doc_id
      |  FROM best b JOIN jq ON jq.component = b.component AND jq.quality = b.max_q
      |  GROUP BY b.component
      |), kdocs AS (
      |  SELECT d.* FROM keep k JOIN fdocs d USING (doc_id)
      |), srctok AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
      |    AS n_tokens
      |  FROM kdocs GROUP BY 1
      |), iw AS (
      |  SELECT source,
      |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS iw
      |  FROM srctok
      |), bud AS (
      |  SELECT source,
      |    CAST(floor(2000 * (CAST(iw AS DOUBLE)
      |      / CAST(SUM(iw) OVER () AS DOUBLE))) AS BIGINT) AS token_budget
      |  FROM iw
      |), ranked AS (
      |  SELECT d.source, d.doc_id,
      |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks,
      |    md5(CAST(d.doc_id AS VARCHAR)) AS rk
      |  FROM kdocs d
      |), cum AS (
      |  SELECT source, doc_id, n_toks,
      |    CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY rk, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_toks
      |  FROM ranked
      |), mdocs AS (
      |  SELECT c.doc_id, c.n_toks FROM cum c JOIN bud USING (source)
      |  WHERE c.cum_toks <= bud.token_budget
      |), packed AS (
      |  SELECT doc_id, n_toks,
      |    CAST(SUM(n_toks) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_tokens
      |  FROM mdocs
      |)
      |SELECT doc_id, n_toks, cum_tokens,
      |  CAST((cum_tokens - n_toks) // 256 AS BIGINT) AS start_seq,
      |  CAST((cum_tokens - n_toks) % 256 AS BIGINT) AS start_offset,
      |  CAST((cum_tokens - 1) // 256 AS BIGINT) AS end_seq
      |FROM packed ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q131_sidecar_$sf"
    }
    graft.sources.Sinks.wipeForRebuild(s, dir)
    val docs = Tables.documents(s, d)
    Dedup.writeFingerprintSidecar(
      docs.filter(col("doc_id") % 2 === 0), "text", dir)
    curationPipeline(docs, dir).orderBy(col("doc_id"))
  }

  /** The incremental curation pipeline's per-batch body
    * ([[graft.ops.Curation.curateBatch]]), oracled: one
    * batch over a fresh pipeline dir runs near-dup signature
    * computation + sidecar append (a no-drop stage against the empty
    * sidecar — the cross-batch drop semantics are spec-proven by
    * CurationSpec's two-batch == one-shot equality), the per-row
    * quality gate, the per-source rolling token budget (the
    * running-cum-≤-budget rule — rejected rows still count), and
    * packing from the persisted zero offset. DuckDB replays the
    * quality product (q22's proven expression — the 4-decimal rounding
    * can't flip a ≥ 0.5 decision at this product granularity, so the
    * oracle compares unrounded), the per-source cumsum admission, and
    * the packing arithmetic. Budget 300/source binds at sf ≥ 0.01. */
  val q143StreamingCuration = QueryDef(
    "q143_streaming_curation",
    """WITH base AS (
      |  SELECT doc_id, source, length(text) AS n_chars,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_filter(string_split(text, ' '),
      |        t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop
      |  FROM documents
      |), kept AS (
      |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_toks
      |  FROM base
      |  WHERE (CASE WHEN n_tokens / 20.0 < 1.0 THEN n_tokens / 20.0 ELSE 1.0 END)
      |      * (CASE WHEN CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens
      |               BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END)
      |      * (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens
      |               BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) >= 0.5
      |), adm AS (
      |  SELECT doc_id, source, n_toks FROM (
      |    SELECT doc_id, source, n_toks,
      |      CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |        AS cum_src
      |    FROM kept)
      |  WHERE cum_src <= 300
      |), packed AS (
      |  SELECT doc_id, source, n_toks,
      |    CAST(SUM(n_toks) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_tokens
      |  FROM adm
      |)
      |SELECT doc_id, source, n_toks, cum_tokens,
      |  CAST((cum_tokens - n_toks) // 256 AS BIGINT) AS start_seq,
      |  CAST((cum_tokens - n_toks) % 256 AS BIGINT) AS start_offset,
      |  CAST((cum_tokens - 1) // 256 AS BIGINT) AS end_seq
      |FROM packed ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q143_pipeline_$sf"
    }
    graft.sources.Sinks.wipeForRebuild(s, dir)
    graft.ops.Curation.curateBatch(
      Tables.documents(s, d), "text", "doc_id", "source", dir,
      shingleK = 2, numHashes = 64, bands = 8, nearDupThreshold = 0.7,
      minQuality = 0.5, tokensPerSource = 300L, seqTokens = 256L)
    s.read.parquet(s"$dir/packed").orderBy(col("doc_id"))
  }

  /** q143's body with the round-8 per-source DOC CAP binding instead
    * of the token budget ([[graft.ops.Curation.curateBatch]]
    * `docsPerSource`): the budget is loose (10k tokens) so every cut
    * in the output is the arrival-prefix doc cap's (rn ≤ 10 within
    * source, rejected rows still counted — the same running-prefix
    * rule). DuckDB replays the quality gate, BOTH admission windows,
    * and the packing arithmetic. */
  val q169StreamingCurationCap = QueryDef(
    "q169_streaming_curation_cap",
    """WITH base AS (
      |  SELECT doc_id, source, length(text) AS n_chars,
      |    len(string_split(text, ' ')) AS n_tokens,
      |    len(list_filter(string_split(text, ' '),
      |        t -> t IN ('the','a','of','and','to','in','is'))) AS n_stop
      |  FROM documents
      |), kept AS (
      |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_toks
      |  FROM base
      |  WHERE (CASE WHEN n_tokens / 20.0 < 1.0 THEN n_tokens / 20.0 ELSE 1.0 END)
      |      * (CASE WHEN CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens
      |               BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END)
      |      * (CASE WHEN CAST(n_stop AS DOUBLE) / n_tokens
      |               BETWEEN 0.01 AND 0.6 THEN 1.0 ELSE 0.5 END) >= 0.5
      |), adm AS (
      |  SELECT doc_id, source, n_toks FROM (
      |    SELECT doc_id, source, n_toks,
      |      CAST(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |        AS cum_src,
      |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn_src
      |    FROM kept)
      |  WHERE cum_src <= 10000 AND rn_src <= 10
      |), packed AS (
      |  SELECT doc_id, source, n_toks,
      |    CAST(SUM(n_toks) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_tokens
      |  FROM adm
      |)
      |SELECT doc_id, source, n_toks, cum_tokens,
      |  CAST((cum_tokens - n_toks) // 256 AS BIGINT) AS start_seq,
      |  CAST((cum_tokens - n_toks) % 256 AS BIGINT) AS start_offset,
      |  CAST((cum_tokens - 1) // 256 AS BIGINT) AS end_seq
      |FROM packed ORDER BY doc_id""".stripMargin) { (s, d) =>
    val dir = {
      val sf = d.replaceAll("[^A-Za-z0-9.]", "_")
      s"target/tmp/q169_pipeline_$sf"
    }
    graft.sources.Sinks.wipeForRebuild(s, dir)
    graft.ops.Curation.curateBatch(
      Tables.documents(s, d), "text", "doc_id", "source", dir,
      shingleK = 2, numHashes = 64, bands = 8, nearDupThreshold = 0.7,
      minQuality = 0.5, tokensPerSource = 10000L, seqTokens = 256L,
      docsPerSource = 10L)
    s.read.parquet(s"$dir/packed").orderBy(col("doc_id"))
  }

  /** Diversity-preserving subset selection
    * ([[Similarity.diversitySample]]): 100 vectors picked
    * coverage-first — every occupied hyperplane bucket contributes its
    * md5-ranked first pick before any bucket repeats. The oracle
    * replays the SAME deterministic planes (the q120/q134 literal
    * builder), the same md5(id|seed) within-bucket order, and the same
    * (rank, bucket) global order. bits=4 so buckets are populated at
    * test SF. */
  private val diversityOracle: String = {
    val planes = Similarity.hyperplanes(bits = 4, dim = 64)
    def plit(p: Seq[Double]) = p.mkString("[", ",", "]::DOUBLE[]")
    val bits = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_inner_product(v, ${plit(p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH h AS (
       |  SELECT vec_id, CAST($bits AS BIGINT) AS bucket
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |        FROM embeddings)
       |), r AS (
       |  SELECT vec_id, bucket,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY bucket
       |      ORDER BY md5(CAST(vec_id AS VARCHAR) || '|' || '42'), vec_id)
       |      AS INT) AS rank_in_bucket
       |  FROM h
       |)
       |SELECT vec_id, bucket, rank_in_bucket FROM r
       |ORDER BY rank_in_bucket, bucket LIMIT 100""".stripMargin
  }
  val q144DiversitySample = QueryDef(
    "q144_diversity_sample", diversityOracle) { (s, d) =>
    Similarity.diversitySample(Tables.embeddings(s, d), "vec_id",
        "embedding", k = 100, bits = 4, dim = 64)
      .select(col("vec_id"), col("bucket"), col("rank_in_bucket"))
      .orderBy(col("rank_in_bucket"), col("bucket"))
  }

  /** Leakage-safe group-aware split ([[Relational.groupAwareSplit]]):
    * the side is a pure function of (md5(text), seed), so exact
    * duplicates NEVER straddle train/eval — the oracle replays the
    * md5-uniform construction (q109's) on the group digest and the
    * same double comparison. */
  val q145GroupSplit = QueryDef(
    "q145_group_split",
    """SELECT doc_id,
      |  (CAST('0x' || substring(md5(md5(text) || '|' || '42'), 1, 15)
      |     AS BIGINT) + 1.0) / 1.152921504606847e18 < 0.3 AS is_test
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    Relational.groupAwareSplit(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        group = md5(col("text")), testFraction = 0.3)
      .select(col("doc_id"), col("is_test"))
      .orderBy(col("doc_id"))
  }

  /** Content-defined chunking ([[TextAnalysis.cdcChunk]], target 5
    * tokens — the synthetic corpus has a 31-token vocabulary, so a
    * larger modulus leaves too few boundary tokens to split anything):
    * boundaries are a pure function of token content (md5 hash ≡ 0 mod
    * target), so the oracle replays the exact boundary set, the end
    * positions, and the joined chunk text. */
  val q146CdcChunks = QueryDef(
    "q146_cdc_chunks",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |), s AS (
      |  SELECT doc_id, ts,
      |    list_filter(generate_series(1, len(ts)), i -> i = 1 OR
      |      CAST('0x' || substring(md5(ts[i]), 1, 15) AS BIGINT) % 5 = 0)
      |      AS starts
      |  FROM t
      |), c AS (
      |  SELECT doc_id, ts, starts,
      |    CAST(o - 1 AS BIGINT) AS chunk_idx,
      |    starts[CAST(o AS INT)] AS start_pos,
      |    coalesce(starts[CAST(o AS INT) + 1] - 1, len(ts)) AS end_pos
      |  FROM s, unnest(generate_series(1, len(starts))) AS g(o)
      |)
      |SELECT doc_id, chunk_idx,
      |  CAST(end_pos - start_pos + 1 AS BIGINT) AS chunk_tokens,
      |  array_to_string(ts[start_pos : end_pos], ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
    TextAnalysis.cdcChunk(Tables.documents(s, d), "text", 5, "doc_id")
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Insertion-robust dup-span signal ([[Dedup.duplicateSpansCdc]]):
    * q121's per-doc duplicated-span fraction over CONTENT-DEFINED
    * chunks. The oracle replays the CDC boundary set (q146's builder)
    * and groups occurrences by chunk TEXT (Spark groups by xxhash64 —
    * identical up to 64-bit collisions, which only over-count). */
  val q147CdcDupSpans = QueryDef(
    "q147_cdc_dup_spans",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      |), s AS (
      |  SELECT doc_id, ts,
      |    list_filter(generate_series(1, len(ts)), i -> i = 1 OR
      |      CAST('0x' || substring(md5(ts[i]), 1, 15) AS BIGINT) % 5 = 0)
      |      AS starts
      |  FROM t
      |), chunks AS (
      |  SELECT doc_id,
      |    array_to_string(
      |      ts[starts[CAST(o AS INT)] :
      |         coalesce(starts[CAST(o AS INT) + 1] - 1, len(ts))], ' ')
      |      AS chunk_text,
      |    CAST(coalesce(starts[CAST(o AS INT) + 1] - 1, len(ts))
      |      - starts[CAST(o AS INT)] + 1 AS BIGINT) AS chunk_tokens
      |  FROM s, unnest(generate_series(1, len(starts))) AS g(o)
      |), occ AS (
      |  SELECT chunk_text, count(*) AS occ FROM chunks GROUP BY 1
      |), agg AS (
      |  SELECT c.doc_id,
      |    CAST(count(*) AS BIGINT) AS n_chunks,
      |    CAST(sum(CASE WHEN o.occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_dup_chunks,
      |    CAST(sum(c.chunk_tokens) AS BIGINT) AS n_tokens,
      |    CAST(sum(CASE WHEN o.occ >= 2 THEN c.chunk_tokens ELSE 0 END)
      |      AS BIGINT) AS dup_tokens
      |  FROM chunks c JOIN occ o ON c.chunk_text = o.chunk_text
      |  GROUP BY c.doc_id
      |)
      |SELECT doc_id, n_chunks, n_dup_chunks, n_tokens, dup_tokens,
      |  CAST(dup_tokens AS DOUBLE) / n_tokens AS dup_span_frac
      |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
    Dedup.duplicateSpansCdc(Tables.documents(s, d), "text", "doc_id",
        targetTokens = 5)
      .orderBy(col("doc_id"))
  }

  /** NEAR-dup-safe train/eval split: [[Relational.groupAwareSplit]]
    * with the near-dup CLUSTER component (q103's machinery) as the
    * group — near-copies of a training document can never land in
    * eval, the contamination the exact-group split (q145) can't catch.
    * The oracle replays the recursive-CTE closure (q103's) and the
    * md5-uniform side decision on the component id. */
  val q148ClusterSplit = QueryDef(
    "q148_cluster_split",
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ts,
      |         len(string_split(text, ' ')) AS n_toks
      |  FROM documents
      |), pairs AS (
      |  SELECT a.doc_id AS src, b.doc_id AS dst
      |  FROM toks a JOIN toks b
      |    ON a.lang = b.lang AND (a.n_toks // 10) = (b.n_toks // 10)
      |       AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) /
      |        len(list_distinct(list_concat(a.ts, b.ts))) >= 0.7
      |), sym AS (
      |  SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs
      |), walk(node, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.node
      |), comp AS (
      |  SELECT node AS doc_id, min(label) AS component FROM walk GROUP BY node
      |)
      |SELECT doc_id, component,
      |  (CAST('0x' || substring(md5(CAST(component AS VARCHAR) || '|' || '42'),
      |     1, 15) AS BIGINT) + 1.0) / 1.152921504606847e18 < 0.3 AS is_test
      |FROM comp ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val comp = graft.ops.Clustering.jaccardDedupClusters(docs,
        threshold = 0.7, lenBlock = 10)
      .select(col("doc_id"), col("component"))
    Relational.groupAwareSplit(comp, col("component"), 0.3)
      .select(col("doc_id"), col("component"), col("is_test"))
      .orderBy(col("doc_id"))
  }

  /** Banded MinHash-LSH near-dup pairs, ORACLED END TO END
    * ([[Dedup.minhashDedupPairsMd5]]): md5-derived signatures (16
    * hashes), raw-chunk band keys (4 bands × 4 rows), bucket cap,
    * candidate pairs, exact Jaccard ≥ 0.5 — DuckDB replays EVERY stage
    * value-for-value, closing the one family (banded LSH) whose
    * production form (q25, xxhash64) is rows-only by construction. */
  val q149MinhashPairsMd5 = QueryDef(
    "q149_minhash_pairs_md5",
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |      generate_series(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i+1])) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
      |  WHERE len(ts) >= 2
      |), sig AS (
      |  SELECT doc_id, list_transform(generate_series(0, 15), h ->
      |      list_min(list_transform(s, x ->
      |        CAST('0x' || substring(md5(x || '|' || CAST(h AS VARCHAR)),
      |          1, 15) AS BIGINT)))) AS sig
      |  FROM sh WHERE len(s) > 0
      |), bnd AS (
      |  SELECT doc_id, b, array_to_string(
      |      list_transform(sig[b*4+1 : b*4+4], v -> CAST(v AS VARCHAR)), ',')
      |      AS chunk
      |  FROM sig, unnest([0, 1, 2, 3]) AS t(b)
      |), grp AS (
      |  SELECT b, chunk FROM bnd GROUP BY 1, 2
      |  HAVING count(*) BETWEEN 2 AND 200
      |), pairs AS (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM bnd x JOIN bnd y ON x.b = y.b AND x.chunk = y.chunk
      |    AND x.doc_id < y.doc_id
      |  JOIN grp g ON g.b = x.b AND g.chunk = x.chunk
      |)
      |SELECT p.id_a, p.id_b,
      |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |    len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      |FROM pairs p
      |JOIN sh a ON a.doc_id = p.id_a
      |JOIN sh b ON b.doc_id = p.id_b
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |    len(list_distinct(list_concat(a.s, b.s))) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin) { (s, d) =>
    Dedup.minhashDedupPairsMd5(Tables.documents(s, d), "text", "doc_id",
        shingleK = 2, numHashes = 16, bands = 4, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Dedup-quality audit ([[Dedup.nearDupEval]], NEW round 10): the
    * banded md5-LSH candidate generator evaluated against the
    * df-capped inverted-index reference at the same bigram space and
    * 0.5 threshold — candidate precision, reference recall, and the
    * count of verified pairs the reference's cap blinds it to, in one
    * hash-compared summary row. Both constituent pipelines already
    * replay (q149/q27); this composes their oracles and checks the
    * METRIC VALUES, the q186 idea applied to dedup. */
  val q187NearDupEval = QueryDef(
    "q187_neardup_eval",
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |      generate_series(1, len(ts) - 1),
      |      i -> ts[i] || ' ' || ts[i+1])) AS s
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
      |  WHERE len(ts) >= 2
      |), sig AS (
      |  SELECT doc_id, list_transform(generate_series(0, 15), h ->
      |      list_min(list_transform(s, x ->
      |        CAST('0x' || substring(md5(x || '|' || CAST(h AS VARCHAR)),
      |          1, 15) AS BIGINT)))) AS sig
      |  FROM sh WHERE len(s) > 0
      |), bnd AS (
      |  SELECT doc_id, b, array_to_string(
      |      list_transform(sig[b*4+1 : b*4+4], v -> CAST(v AS VARCHAR)), ',')
      |      AS chunk
      |  FROM sig, unnest([0, 1, 2, 3]) AS t(b)
      |), grp AS (
      |  SELECT b, chunk FROM bnd GROUP BY 1, 2
      |  HAVING count(*) BETWEEN 2 AND 200
      |), cpairs AS (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM bnd x JOIN bnd y ON x.b = y.b AND x.chunk = y.chunk
      |    AND x.doc_id < y.doc_id
      |  JOIN grp g ON g.b = x.b AND g.chunk = x.chunk
      |), cand AS (
      |  SELECT p.id_a, p.id_b,
      |    (CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |       len(list_distinct(list_concat(a.s, b.s)))) >= 0.5 AS verified
      |  FROM cpairs p
      |  JOIN sh a ON a.doc_id = p.id_a
      |  JOIN sh b ON b.doc_id = p.id_b
      |), inv AS (
      |  SELECT doc_id, unnest(s) AS g FROM sh
      |), rare AS (
      |  SELECT g FROM inv GROUP BY g HAVING count(*) BETWEEN 2 AND 20
      |), rpairs AS (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
      |  JOIN rare r ON r.g = x.g
      |), ref AS (
      |  SELECT p.id_a, p.id_b, true AS in_ref
      |  FROM rpairs p
      |  JOIN sh a ON a.doc_id = p.id_a
      |  JOIN sh b ON b.doc_id = p.id_b
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |      len(list_distinct(list_concat(a.s, b.s))) >= 0.5
      |), agg AS (
      |  SELECT
      |    CAST(sum(CASE WHEN c.verified IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_candidates,
      |    CAST(sum(CASE WHEN c.verified THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_verified,
      |    CAST(sum(CASE WHEN r.in_ref THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_reference,
      |    CAST(sum(CASE WHEN r.in_ref AND c.verified THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_common,
      |    CAST(sum(CASE WHEN c.verified AND r.in_ref IS NULL THEN 1 ELSE 0
      |      END) AS BIGINT) AS n_extra
      |  FROM cand c FULL OUTER JOIN ref r
      |    ON c.id_a = r.id_a AND c.id_b = r.id_b
      |)
      |SELECT n_candidates, n_verified, n_reference, n_common, n_extra,
      |  CASE WHEN n_candidates > 0
      |    THEN round(CAST(n_verified AS DOUBLE) /
      |               CAST(n_candidates AS DOUBLE), 6) ELSE 0.0 END
      |    AS candidate_precision,
      |  CASE WHEN n_reference > 0
      |    THEN round(CAST(n_common AS DOUBLE) /
      |               CAST(n_reference AS DOUBLE), 6) ELSE 0.0 END
      |    AS reference_recall
      |FROM agg""".stripMargin) { (s, d) =>
    Dedup.nearDupEval(Tables.documents(s, d), "text", "doc_id",
      shingleK = 2, numHashes = 16, bands = 4, threshold = 0.5,
      dfCap = 20, bucketCap = 200)
  }

  val all: Seq[QueryDef] = Seq(
    q120AnnJoinLsh, q121DupSpans, q122AnnJoinExact, q123IncrementalDedup,
    q124AnnJoinIvf, q125SeqPack, q126MixtureApply, q127StratifiedDet,
    q128AsofForward, q129QualityDedup, q130AnnJoinIvfStored,
    q131CurationPipeline, q132IvfAppend, q133IncrementalDedupBloom,
    q134SemanticDedup, q135SketchSidecar, q136NearDupSidecar,
    q137MixtureUpsample, q138DetShuffle, q139OverlapMatrix,
    q140QualityBudget, q141RollingDistinct, q142BalanceClasses,
    q143StreamingCuration, q144DiversitySample, q145GroupSplit,
    q146CdcChunks, q147CdcDupSpans, q148ClusterSplit,
    q149MinhashPairsMd5, q169StreamingCurationCap, q187NearDupEval)
}
