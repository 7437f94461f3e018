package graft.ops

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  *
  *  - brute-force cosine top-k — the exact baseline: one projection
  *    computing the score + TakeOrderedAndProject for the top-k (no
  *    global sort, no collect);
  *  - hyperplane-LSH bucketed ANN — the scale path: deterministic
  *    pseudo-random hyperplanes give every vector a small bucket
  *    signature; candidates come from the query's bucket only, then
  *    exact cosine re-ranks. At 100 TB the bucket join touches a
  *    ~2^bits-th of the data instead of all of it.
  *
  * Vector math is `zip_with` + `aggregate` over the array column —
  * codegen'd, no UDFs, no VectorUDT conversion.
  */
object Similarity {

  /** Dot product of two array<double> columns (HOF formulation; kept
    * for reference and property tests — interpreted lambdas). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** HOF cosine similarity — bit-identical to [[cosine]] but runs the
    * lambdas interpreted; use only where the custom expression is
    * unavailable. */
  def cosineHof(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Cosine similarity via the engine's native codegen'd expression
    * ([[graft.functions.CosineSimilarity]]): one fused loop inside
    * whole-stage codegen, same left-fold accumulation order as
    * [[cosineHof]] so results are bit-identical. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosine_sim(a, b)

  /** Squared euclidean distance via the engine's native codegen'd
    * expression ([[graft.functions.SqEuclideanDistance]]) — the IVF
    * cell-assignment metric, fused. Bit-identical to [[sqEuclideanHof]]
    * (same left-fold order), so the argmin tie rule is unchanged. */
  def sqEuclidean(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.sq_euclidean(a, b)

  /** HOF squared euclidean (reference formulation; interpreted
    * lambdas) — kept as the property-test twin of [[sqEuclidean]]. */
  def sqEuclideanHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** Brute-force exact top-k by cosine against the vector with id
    * `queryId` (taken from the same table and broadcast). Scores are
    * rounded to `roundTo` decimals before ranking so the ranking is
    * reproducible across engines/partitionings; ties break by id. */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
                 queryId: Long, k: Int, roundTo: Int = 6): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val q = df.filter(col(idCol) === queryId)
      .select(v.as("qvec"))
    df.filter(col(idCol) =!= queryId)
      .select(col(idCol), v.as("vec"))
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosine(col("vec"), col("qvec")), roundTo).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random ±1 hyperplanes (seeded Scala RNG —
    * fixed at build time, identical on every executor/run). */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(bits, dim)(if (rng.nextBoolean()) 1.0 else -1.0)
  }

  /** Sign-of-projection LSH bucket id: bit i = (v · plane_i) >= 0.
    * Runs as the fused codegen expression
    * ([[graft.functions.HyperplaneBucket]]) — one loop per plane
    * inside whole-stage codegen instead of interpreted zip_with/
    * aggregate lambdas per plane per row; [[lshBucketHof]] is the
    * property-test twin. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    graft.functions.GraftFunctions.hyperplane_bucket(vec, planes)

  /** Interpreted-HOF bucket id (reference formulation, bit-identical
    * to the fused expression). */
  def lshBucketHof(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val bitCols = planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(lit): _*)
      when(dot(vec, plane) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bitCols.reduce((a, b) => a.bitwiseOR(b))
  }

  /** IVF (inverted-file) approximate top-k: partition the corpus into
    * `nlist` KMeans cells ([[fitIvfCentroids]]), then answer the query
    * by exact-cosine ranking inside only the `nprobe` cells whose
    * centroids are nearest it. The scan touches ~nprobe/nlist of the
    * data — at 100 TB the cell assignment is a stored column and the
    * probe set is a partition-pruned filter. Cells come from
    * [[assignCells]]; probe selection is a driver-side computation
    * over nlist tiny vectors (centroid cosine desc, ties to the
    * lowest cell id).
    *
    * @param cacheKey when set (e.g. the table path), the centroid fit
    *   is memoized per JVM — queries after the first skip the KMeans
    *   fit, which is how a stored IVF index behaves. */
  def ivfCosineTopK(df: DataFrame, idCol: String, vecCol: String,
                    queryId: Long, k: Int, nlist: Int = 16, nprobe: Int = 4,
                    seed: Long = 42L, roundTo: Int = 6,
                    cacheKey: Option[String] = None): DataFrame = {
    val centroids = fitIvfCentroids(df, idCol, vecCol, nlist, seed, cacheKey)
    val q = df.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>").as("qvec"))
    val qVec = q.head().getSeq[Double](0).toArray
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val probed = centroids
      .sortBy { case (_, c) => -cos(c.toArray, qVec) }
      .take(nprobe).map(_._1)

    // materialized before the `cell IN (...)` filter, which would
    // otherwise inline the assignment fold a second time, past the
    // JIT limit (the [[annJoinIvf]] barrier)
    assignCells(df, idCol, vecCol, centroids, roundTo)
      .localCheckpoint()
      .filter(col("cell").isin(probed.map(Integer.valueOf): _*))
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosine(col("vec"), col("qvec")), roundTo).as("cos"),
        col("cell"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Exact integer checksum of an embeddings corpus — the KEY the
    * committed centroid fixture is selected by (one fixture file
    * serves every registered SF; row counts alone cannot distinguish
    * corpora that share ids — sf0.001/sf0.01 do). Σ (vec_id +
    * floor(v[0]·10⁶)) over exact doubles: floor of an IEEE product is
    * deterministic, the long sum is order-independent, and the same
    * expression replays verbatim in DuckDB
    * (`vec_id + CAST(floor(CAST(embedding AS DOUBLE[])[1] * 1000000.0)
    * AS BIGINT)`). */
  private val corpusKeyCache =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  def ivfCorpusKey(emb: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding",
                   cacheKey: Option[String] = None): Long = {
    def compute(): Long =
      emb.select((col(idCol) +
          floor(element_at(col(vecCol).cast("array<double>"), 1) * 1e6)
            .cast("long")).as("k"))
        .agg(sum(col("k"))).head().getLong(0)
    // memoized per JVM for immutable registered/blown corpora (the
    // fitPq cacheKey pattern): the checksum is a fixture-DISPATCH
    // step, and paying one agg job per bench run per dispatching
    // query is pure overhead on never-changing inputs. The memo key
    // carries a cheap CONTENT fingerprint of the backing directory
    // (file count + total bytes + max mtime — one driver-side
    // listStatus, no Spark job) alongside the caller's string
    // (ADVICE r17: a path-only key mis-picks fixture vs live-fit
    // artifacts if a dir's contents are rewritten within one JVM —
    // regenerated testdata, a reused blown dir; the fingerprint turns
    // that stale-cache hazard into a cache miss).
    cacheKey match {
      case Some(key) =>
        corpusKeyCache.computeIfAbsent(
          s"$key@${dirFingerprint(emb.sparkSession, key)}", _ => compute())
      case None => compute()
    }
  }

  /** Best-effort content fingerprint of the corpus behind a cache key:
    * (files, Σ bytes, max mtime) over `key.parquet` or `key` —
    * whichever exists — as one string; "static" when neither resolves
    * (non-path keys keep the plain memoization). */
  private def dirFingerprint(spark: org.apache.spark.sql.SparkSession,
                             key: String): String =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      Seq(s"$key.parquet", key).iterator
        .map(new org.apache.hadoop.fs.Path(_))
        .flatMap { p =>
          val fs = p.getFileSystem(conf)
          if (fs.exists(p)) {
            val it = fs.listFiles(p, true)
            var (n, bytes, mtime) = (0L, 0L, 0L)
            while (it.hasNext) {
              val f = it.next()
              n += 1; bytes += f.getLen
              mtime = math.max(mtime, f.getModificationTime)
            }
            Iterator.single(s"$n:$bytes:$mtime")
          } else Iterator.empty
        }
        .nextOption().getOrElse("static")
    } catch { case _: java.io.IOException => "static" }

  private val ivfCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Long),
      Seq[(Int, Seq[Double])]]()

  /** The coarse-quantizer fit: MLlib KMeans (k = `nlist`) over the
    * corpus, centroids returned as plain (cell, coordinates) rows in
    * cell order. The only coarse KMeans fit in the engine: every
    * IVF/IVFPQ operator takes centroids as an argument, either this
    * fit's or the committed `fixtures/q130_centroids.csv`, which
    * [[graft.FixtureDump]] writes with this fit and SimilaritySpec
    * checks against it. A coarse quantizer doesn't need full
    * convergence: cell BOUNDARIES shift slightly with more iterations
    * but recall is governed by nprobe, and 10 iterations is the
    * standard IVF training budget.
    *
    * @param cacheKey when set (e.g. the table path), the fit is
    *   memoized per JVM on (key, nlist, seed) — the [[fitPq]]
    *   pattern: centroids are a training ARTIFACT every later query
    *   on the same corpus reuses. The key carries the backing
    *   directory's content fingerprint, as [[ivfCorpusKey]]'s does,
    *   so a corpus rewritten in place within one JVM is refitted. */
  def fitIvfCentroids(df: DataFrame, idCol: String, vecCol: String,
                      nlist: Int = 16, seed: Long = 42L,
                      cacheKey: Option[String] = None)
      : Seq[(Int, Seq[Double])] = {
    def fit(): Seq[(Int, Seq[Double])] = {
      val v = col(vecCol).cast("array<double>")
      val base = df.select(col(idCol).as("vec_id"), v.as("vec"))
        .withColumn("fv", array_to_vector(col("vec")))
      val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(10)
        .setFeaturesCol("fv").setPredictionCol("cell").fit(base)
      model.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
    }
    cacheKey match {
      case Some(key) =>
        ivfCentroidCache.computeIfAbsent(
          (s"$key@${dirFingerprint(df.sparkSession, key)}", nlist, seed),
          _ => fit())
      case None => fit()
    }
  }

  /** Append new vectors to a materialized IVF index WITHOUT refitting
    * — the incremental-ingest half of index maintenance (a nightly
    * embedding batch must not re-cluster the whole corpus): each new
    * vector is assigned to its nearest STORED centroid — exact
    * squared-euclidean argmin, ties to the lowest cell id, the
    * rule `KMeans.transform` applies (unrounded, unlike the build's
    * [[assignCells]]) — and appended to the
    * cell-partitioned layout, where [[annJoinIvfStored]] sees it on
    * its next scan with no other change.
    *
    * Shape at scale: candidates come from a broadcast nested loop
    * against the nlist-row centroid table (bounded build side), the
    * per-vector × per-centroid distance is the FUSED codegen
    * [[sqEuclidean]] expression (no interpreted HOF lambdas in the
    * ingest hot path), and the argmin is a map-side-combining `min_by`
    * — one narrow shuffle row per vector. Centroids drift as the
    * corpus grows; rebuild with [[buildIvfIndex]] when cell-size skew
    * warrants, serving reads from the appended index meanwhile. Same
    * single-writer contract as
    * the dedup sidecar ([[graft.ops.Dedup.dedupAgainstSidecar]]),
    * ENFORCED by the `.lock` marker ([[graft.sources.Sinks
    * .withDirLock]]) — a concurrent second appender fails loud.
    * Appends are NOT idempotent — replaying a batch appends duplicate
    * (vec_id, vec) rows; dedup replays upstream (the sidecar pattern)
    * or drop duplicates by vec_id when rebuilding. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String, df: DataFrame,
                       idCol: String, vecCol: String): Unit =
    graft.sources.Sinks.withDirLock(spark, indexDir, "appendToIvfIndex") {
      val centroids = broadcast(spark.read.parquet(s"$indexDir/centroids"))
      val v = col(vecCol).cast("array<double>")
      df.select(col(idCol).as("vec_id"), v.as("vec"))
        .crossJoin(centroids) // bounded: build side is nlist rows
        .select(col("vec_id"), col("vec"), col("cell"),
          sqEuclidean(col("vec"), col("centroid")).as("dist2"))
        .groupBy(col("vec_id"))
        .agg(min_by(struct(col("cell"), col("vec")),
          struct(col("dist2"), col("cell"))).as("__r"))
        .select(col("vec_id"), col("__r.vec").as("vec"),
          col("__r.cell").as("cell"))
        .write.mode("append").partitionBy("cell")
        .parquet(s"$indexDir/vectors")
    }

  /** Embedding-cosine near-duplicate pairs: hyperplane-LSH bucket all
    * vectors (projection), generate candidate pairs only within
    * buckets (equality join on the bucket id — never a cross join),
    * verify with exact cosine. The embedding-space twin of
    * [[graft.ops.Dedup.minhashDedupPairs]]: fewer bits → bigger
    * buckets → higher recall; `bucketCap` drops degenerate buckets. */
  def embeddingDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double = 0.9, bits: Int = 8,
                          dim: Int = 64, bucketCap: Int = 1000): DataFrame = {
    val planes = hyperplanes(bits, dim)
    val v = col(vecCol).cast("array<double>")
    val bucketed = df.select(col(idCol).as("id"), v.as("vec"),
      lshBucket(v, planes).as("bucket"))
    val buckets = bucketed.groupBy(col("bucket"))
      .agg(collect_list(col("id")).as("ids"), count(lit(1)).as("n"))
      .filter(col("n").between(2, bucketCap))
    val pairs = buckets
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()
    val va = bucketed.select(col("id").as("id_a"), col("vec").as("vec_a"))
    val vb = bucketed.select(col("id").as("id_b"), col("vec").as("vec_b"))
    pairs.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        cosine(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic duplicate clusters (Abbas et al. 2023,
    * arXiv:2303.09540 — "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): partition the
    * embedding space, generate candidate pairs only WITHIN a
    * partition, connect pairs whose exact cosine clears `threshold`,
    * and label each connected group. Returns (idCol, component) for
    * EVERY input row — singletons label themselves — so callers can
    * either drop duplicates (keep one row per component) or
    * weight/inspect the groups.
    *
    * Two deliberate deviations from the paper, both scale-motivated:
    * the space partition is the engine's deterministic hyperplane-LSH
    * bucketing rather than a fitted KMeans clustering (same candidate
    * -bounding role, but reproducible across runs/engines — a fitted
    * partition makes results solver-dependent; the KMeans form exists
    * at [[annJoinIvf]] for callers who want it), and within a
    * duplicate group the kept representative is chosen by the CALLER
    * (min id here; the quality-argmax selection the paper's
    * "farthest from centroid" heuristic approximates is exactly the
    * q129 composition over these components).
    *
    * Scale shape: pairs come from [[embeddingDedupPairs]] (bucket
    * EQUALITY join, `bucketCap` drops degenerate buckets, fused
    * codegen bucketing/cosine); components from
    * [[Clustering.connectedComponents]] (map-side union-find
    * contraction + bounded local finish). Nothing in the chain holds
    * unbounded driver state. */
  def semanticDedupClusters(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double = 0.95, bits: Int = 8,
                            dim: Int = 64, bucketCap: Int = 1000)
      : DataFrame = {
    val pairs = embeddingDedupPairs(df, idCol, vecCol, threshold, bits,
      dim, bucketCap).select(col("id_a"), col("id_b"))
    Clustering.connectedComponents(pairs, "id_a", "id_b",
        nodes = Some(df.select(col(idCol).cast("long").as("id_a"))))
      .select(col("node").as(idCol), col("component"))
  }

  /** Diversity-preserving subset selection — coverage-first sampling
    * over the embedding space: pick `k` rows such that every occupied
    * hyperplane-LSH bucket contributes its first (deterministic) pick
    * before any bucket contributes a second, then round-robin. A
    * uniform sample of a 90 %-near-duplicate corpus is 90 % near-dups;
    * this spreads the budget across semantic regions instead of
    * following density — the KEEP-side complement of
    * [[semanticDedupClusters]] (which finds duplicates; this allocates
    * a budget).
    *
    * Deterministic end-to-end: buckets are sign-of-projection on the
    * fixed seeded planes ([[lshBucket]] — fused codegen), within-bucket
    * order is md5(id, seed) (the engine's deterministic-uniform
    * construction — partitioning-invariant and externally replayable,
    * q144's oracle), and the global order (rank-in-bucket, bucket) is a
    * total order, so the same k rows come back at any parallelism.
    *
    * Scale shape: one projection + ONE window partitioned by bucket
    * (2^bits partition keys — raise `bits` so reducer parallelism
    * scales, the [[annJoinLsh]] guidance) + an ascending
    * LIMIT k that plans as TakeOrderedAndProject (per-partition k-heaps
    * + one k-row merge — no global sort, no driver state). Output =
    * input columns + (bucket, rank_in_bucket). */
  def diversitySample(df: DataFrame, idCol: String, vecCol: String, k: Int,
                      bits: Int = 8, dim: Int = 64,
                      seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(bits, dim)
    val v = col(vecCol).cast("array<double>")
    val key = md5(concat_ws("|", col(idCol), lit(seed)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(key, col(idCol))
    df.withColumn("bucket", lshBucket(v, planes))
      .withColumn("rank_in_bucket", row_number().over(w))
      .orderBy(col("rank_in_bucket"), col("bucket"))
      .limit(k)
  }

  /** LSH-bucketed approximate top-k: hash all vectors (projection),
    * keep only the query's bucket (an equality filter the optimizer
    * can push/partition on), exact-cosine re-rank inside the bucket.
    * Recall is tuned by `bits` (fewer bits → bigger buckets → higher
    * recall, more compute). */
  def lshCosineTopK(df: DataFrame, idCol: String, vecCol: String,
                    queryId: Long, k: Int, bits: Int = 4,
                    dim: Int = 64, roundTo: Int = 6): DataFrame = {
    val planes = hyperplanes(bits, dim)
    val v = col(vecCol).cast("array<double>")
    val bucketed = df.select(col(idCol), v.as("vec"),
      lshBucket(v, planes).as("bucket"))
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col("vec").as("qvec"), col("bucket").as("qbucket"))
    bucketed.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .filter(col("bucket") === col("qbucket"))
      .select(col(idCol),
        round(cosine(col("vec"), col("qvec")), roundTo).as("cos"),
        col("bucket"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Batch exact k-NN join (brute-force baseline): the top-k corpus
    * neighbors for EVERY row of a query set in one plan — the
    * set-valued generalization of [[cosineTopK]] that retrieval and
    * semantic-dedup pipelines actually run (one query at a time does
    * not scale past debugging).
    *
    * Shape at scale: the QUERY side of a retrieval batch is KBs–MBs
    * (a batch of prompts/eval rows), so it broadcasts; the corpus
    * streams through scan → broadcast nested-loop (bounded: |batch|
    * rows on the build side) → fused-codegen cosine → per-query top-k.
    * The ranking is the row_number idiom, so Spark's WindowGroupLimit
    * caps each map partition at k rows per query BEFORE the shuffle —
    * only |queries|·k·partitions candidate rows ever move — and the
    * engine's [[graft.plans.TopKRewriteRule]] can replace the window
    * with the heap operator outright. Corpus rows whose id appears in
    * the query set are excluded as self-matches only for their own
    * query, not for other queries.
    */
  def annJoinBruteForce(queries: DataFrame, corpus: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        roundTo: Int = 6): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qvec")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("vec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("vec"), col("qvec")), roundTo).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Hard-negative mining for contrastive / embedding-model training:
    * per anchor, the k nearest WRONG-LABEL vectors by cosine — the
    * negatives that sit closest to the decision boundary and carry the
    * training signal random negatives don't — plus the triplet margin
    * against the anchor's best same-label positive
    * (`margin = pos_cos − cos`; a negative margin marks an anchor
    * whose hardest negative is already closer than its best positive,
    * the "violating triplet" a trainer mines first).
    *
    * Determinism discipline (the q40/q134 idiom): cosines are rounded
    * to `roundTo` decimals BEFORE ranking, ties break by id, and the
    * margin is one IEEE subtraction of two rounded values — so the
    * mined triplet set replays exactly in any engine (q193's oracle).
    * Anchors lacking any same-label peer drop with their positives
    * join (no NULL margins in the contract).
    *
    * Shape at scale: the anchor batch is a training micro-batch —
    * bounded, BROADCAST; the corpus streams ONCE through the
    * broadcast join computing |anchors| fused-codegen cosines per
    * row in-row; the per-anchor top-k and the positives max are
    * anchor-keyed aggregations whose width is |anchors|·k. Nothing
    * corpus-sized shuffles on a skewable key. For web-scale corpora
    * swap the exhaustive scan for the stored-IVF shortlist
    * ([[annJoinIvfStored]]) and re-rank the shortlist exactly — the
    * ranking/margin contract here is unchanged. */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, anchorPred: Column, k: Int,
                    roundTo: Int = 6): DataFrame = {
    val base = df.filter(col(labelCol).isNotNull)
      .select(col(idCol).as("vec_id_"),
        col(vecCol).cast("array<double>").as("vec"),
        col(labelCol).as("lbl"))
    val anchors = broadcast(df.filter(anchorPred && col(labelCol).isNotNull)
      .select(col(idCol).as("anchor_id"),
        col(vecCol).cast("array<double>").as("avec"),
        col(labelCol).as("albl")))
    val cand = base.join(anchors, col("vec_id_") =!= col("anchor_id"))
      .select(col("anchor_id"), col("albl"), col("vec_id_"), col("lbl"),
        round(cosine(col("vec"), col("avec")), roundTo).as("cos"))
    val pos = cand.filter(col("lbl") === col("albl"))
      .groupBy(col("anchor_id")).agg(max(col("cos")).as("pos_cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("vec_id_"))
    cand.filter(col("lbl") =!= col("albl"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .join(pos, "anchor_id")
      .select(col("anchor_id"), col("vec_id_").as("neg_id"), col("rnk"),
        col("cos"), (col("pos_cos") - col("cos")).as("margin"))
  }

  /** Semantic decontamination — the embedding-space twin of
    * [[graft.ops.Curation.decontaminate]]: flag every training item
    * whose embedding is cosine-close to ANY held-out eval item.
    * Exact n-gram overlap misses paraphrased benchmark leakage
    * (reworded questions embed next to their originals but share no
    * 8-gram); this closes that hole. Per training item the output
    * carries its nearest eval neighbor (`nearest_eval_id`, cosine
    * tiebreak by eval id), the rounded `max_cos`, and the
    * `contaminated` flag (`max_cos` ≥ threshold — compared on the
    * ROUNDED value, so the decision replays exactly cross-engine).
    *
    * Shape at scale: the eval side is a benchmark suite — thousands
    * of vectors, not billions — so it BROADCASTS; the training corpus
    * streams once through a broadcast nested-loop join (|eval|
    * fused-codegen cosines per row, in-row), then ONE aggregation
    * shuffle on the training id whose map-side max/max_by partials
    * reduce each task's output to one row per training row. Nothing
    * about the big side is collected, re-partitioned beyond that agg,
    * or joined on a skewable key. The argmax rides an exact struct
    * ordering (cos desc, eval id asc via negated id), not a
    * nondeterministic max_by tie. */
  def semanticDecontaminate(train: DataFrame, evalVecs: DataFrame,
                            idCol: String, vecCol: String,
                            threshold: Double,
                            roundTo: Int = 6): DataFrame = {
    val ev = broadcast(evalVecs.select(
      col(idCol).cast("long").as("__eval_id"),
      col(vecCol).cast("array<double>").as("__evec")))
    train.select(col(idCol), col(vecCol).cast("array<double>").as("__vec"))
      .crossJoin(ev)
      .select(col(idCol),
        round(cosine(col("__vec"), col("__evec")), roundTo).as("__cos"),
        col("__eval_id"))
      .groupBy(col(idCol))
      .agg(max(struct(col("__cos"), (-col("__eval_id")).as("__negid")))
        .as("__best"))
      .select(col(idCol),
        col("__best.__negid").unary_-.as("nearest_eval_id"),
        col("__best.__cos").as("max_cos"),
        (col("__best.__cos") >= threshold).as("contaminated"))
  }

  /** Batch approximate k-NN join — the 100 TB path: both sides get the
    * same deterministic hyperplane-LSH bucket signature; candidates
    * come from an EQUALITY join on the bucket id (hash-partitioned,
    * never a cross join, regardless of how large either side is);
    * exact cosine re-ranks within buckets and a per-query row_number
    * keeps rank ≤ k. Queries whose bucket holds fewer than k corpus
    * vectors return fewer rows (recall is tuned by `bits` — fewer bits
    * → bigger buckets → higher recall, more re-rank compute), which is
    * the standard ANN contract. The generalization of
    * [[embeddingDedupPairs]] from pairs-above-threshold to
    * (query_id, neighbor_id, rank ≤ k).
    *
    * Skew guard (real embedding corpora cluster): corpus buckets
    * holding more than `bucketCap` vectors are dropped before the join
    * — the [[embeddingDedupPairs]] mechanism. One hot bucket would
    * otherwise make the re-rank quadratic in that bucket's share of
    * the corpus AND serialize it on a single reducer (a bucket id is
    * one join key). Recall impact: a query landing in a dropped bucket
    * returns NO rows — an oversized bucket at a sane `bits` setting
    * means heavy near-duplicate mass (a dedup problem, handled by the
    * dedup operators), so for retrieval raise `bits` until buckets are
    * informative rather than raising `bucketCap`. The default `bits` =
    * 12 keeps join-key cardinality at 4096 — enough distinct keys that
    * join parallelism scales with the cluster, not the signature. */
  def annJoinLsh(queries: DataFrame, corpus: DataFrame,
                 idCol: String, vecCol: String, k: Int,
                 bits: Int = 12, dim: Int = 64,
                 roundTo: Int = 6, bucketCap: Int = 10000): DataFrame = {
    val planes = hyperplanes(bits, dim)
    val c0 = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("vec"))
      .withColumn("bucket", lshBucket(col("vec"), planes))
    // occupied-bucket counts: ≤ min(2^bits, |corpus|) rows after one
    // map-side-combined aggregate over bucket ids only — broadcastable
    val oversized = c0.groupBy(col("bucket"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > bucketCap)
      .select(col("bucket"))
    val c = c0.join(broadcast(oversized), Seq("bucket"), "left_anti")
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("bucket", lshBucket(col("qvec"), planes))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    c.join(q, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("vec"), col("qvec")), roundTo).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  // ------------------------------------------------------------------
  // IVF serving from GIVEN centroids. Every IVF/IVFPQ operator below
  // takes its centroids (and, for PQ, its codebooks) as an argument,
  // so a fit only produces artifacts and serving is one code path
  // whether they come from a live fit ([[fitIvfCentroids]],
  // [[fitPq]]) or from a committed fixture. The fixtures are the
  // q202/q208 seam: the MLlib fit is engine-seeded (k-means||
  // sampling depends on partition layout, centroid updates on float
  // reduction order), so q124/q130/q158/q159 serve frozen artifacts
  // and spec-assert the live fit still reproduces them. Serving from
  // frozen centroids is also the production shape — a stored index's
  // centroids do not drift between fits, and [[appendToIvfIndex]]
  // assigns against stored centroids. The serving rules replay in
  // ANSI SQL: cell assignment = argmin of round(sqEuclidean, roundTo)
  // with ties to the LOWEST cell id; probe selection = top-nprobe by
  // round(cosine, roundTo) DESC with ties to the lowest cell id. Both
  // are IN-ROW folds over nlist literal centroid arrays — no shuffle,
  // no driver loop; candidate ranking is the standing rounded-cosine
  // rule.

  /** In-row deterministic cell assignment against given centroids:
    * adds `cell` to (idCol, vec). One codegen'd projection — nlist
    * [[sqEuclidean]] distances per row, no shuffle, no join.
    *
    * JIT hazard: the fold is nlist inlined distance/round/struct terms
    * (~4 KB of bytecode at nlist 16). A filter on `cell` — an explicit
    * one or the `isnotnull` a join on `cell` infers — is pushed below
    * the projection and inlines it again, and the doubled method
    * exceeds HotSpot's 8000-byte JIT limit, so the stage runs
    * interpreted. Callers that filter or join on `cell` materialize
    * the assignment first ([[annJoinIvf]], [[ivfCosineTopK]]). */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
                  centroids: Seq[(Int, Seq[Double])],
                  roundTo: Int = 6): DataFrame = {
    require(centroids.nonEmpty, "assignCells: empty centroid set")
    val sorted = centroids.sortBy(_._1)
    val v = col(vecCol).cast("array<double>")
    val base = df.select(col(idCol), v.as("vec"))
    // array_min over (d, cell) structs: struct ordering compares d
    // first, then cell — argmin with ties to the LOWEST cell id (the
    // SQL row_number ORDER BY d, cell replay). Linear expression
    // size; a when-chain fold would reference its accumulator twice
    // per level and blow the plan up 2^nlist.
    val pairs = array(sorted.map { case (cell, c) =>
      struct(round(sqEuclidean(col("vec"), array(c.map(lit): _*)), roundTo)
        .as("d"), lit(cell).as("cell"))
    }: _*)
    base.withColumn("cell", array_min(pairs).getField("cell"))
  }

  /** In-row probe-cell array for a query vector: the `nprobe` cells
    * nearest by round(cosine, roundTo) DESC, ties to the lowest cell
    * id — as a sortable struct array (negated rounded cosine sorts
    * ascending), sliced and ready to explode. */
  private def probeCells(qvec: Column,
                         centroids: Seq[(Int, Seq[Double])],
                         nprobe: Int, roundTo: Int): Column =
    slice(sort_array(array(centroids.sortBy(_._1).map { case (cell, c) =>
      struct(
        (-round(cosine(qvec, array(c.map(lit): _*)), roundTo)).as("negcos"),
        lit(cell).as("cell"))
    }: _*)), 1, nprobe)

  /** Batch approximate k-NN join through the IVF cells — the
    * cell-pruned twin of [[annJoinLsh]]: the corpus is assigned
    * in-row ([[assignCells]]); each QUERY row picks its `nprobe` probe
    * cells in-row ([[probeCells]] — no per-query driver loop, unlike
    * the single-query [[ivfCosineTopK]], which is the point of the
    * batch form); the probe explosion joins the corpus on cell
    * EQUALITY (each query reads ~nprobe/nlist of the corpus); rounded
    * cosine ranks. Every step replays in ANSI SQL (the q124
    * oracle). */
  def annJoinIvf(queries: DataFrame, corpus: DataFrame,
                 idCol: String, vecCol: String, k: Int,
                 centroids: Seq[(Int, Seq[Double])],
                 nprobe: Int = 4, roundTo: Int = 6): DataFrame = {
    // materialized: the join's inferred `isnotnull(cell)` filter would
    // inline the assignment fold a second time, past the JIT limit
    // ([[assignCells]]; 10x sf0.1 corpus, 4 cores: 4.1 s → 0.9 s).
    // Bounded: |corpus| rows; [[annJoinPq]]'s cluster-mode caveat
    // applies.
    val assigned = assignCells(corpus, idCol, vecCol, centroids, roundTo)
      .select(col(idCol).as("neighbor_id"), col("vec"), col("cell"))
      .localCheckpoint()
    val probes = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .select(col("query_id"), col("qvec"),
        explode(probeCells(col("qvec"), centroids, nprobe, roundTo)
          .getField("cell")).as("cell"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes.join(assigned, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("vec"), col("qvec")), roundTo).as("cos"))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
  }

  /** Materialized IVF index: cell assignments ([[assignCells]] against
    * the given centroids) written as parquet PARTITIONED BY cell,
    * centroids as a tiny side table. At query time the probe-set
    * filter `cell IN (...)` prunes whole directories — the scan
    * touches ~nprobe/nlist of the stored bytes with zero
    * index-structure code, which is exactly how a stored ANN index
    * should behave on an object store. [[annJoinIvfStored]] and
    * [[appendToIvfIndex]] both serve the layout. */
  def buildIvfIndex(df: DataFrame, idCol: String,
                    vecCol: String, indexDir: String,
                    centroids: Seq[(Int, Seq[Double])],
                    roundTo: Int = 6): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.sources.Sinks.withDirLock(spark, indexDir, "buildIvfIndex") {
      assignCells(df, idCol, vecCol, centroids, roundTo)
        .select(col(idCol).as("vec_id"), col("vec"), col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexDir/vectors")
      centroids.sortBy(_._1)
        .toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$indexDir/centroids")
    }
  }

  /** Batch k-NN join through the MATERIALIZED IVF index
    * ([[buildIvfIndex]]) — the production retrieval shape: a query
    * TABLE against a persisted, cell-partitioned index, no fit at
    * query time. Probe selection replays [[probeCells]]'s rounded rule
    * from the stored centroid table (collected — nlist tiny rows, the
    * bounded driver class) and rounded cosine ranks, so the result
    * equals [[annJoinIvf]]'s over the same centroids.
    *
    * Partition pruning is GUARANTEED, not heuristic: the union of all
    * probed cells (≤ nlist values) becomes a literal `cell IN (...)`
    * filter on the scan, so only the probed directories are read —
    * statically, independent of the DPP cost heuristic; the per-query
    * cell equality join then narrows each query to ITS nprobe
    * cells. */
  def annJoinIvfStored(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       nprobe: Int = 4, roundTo: Int = 6): DataFrame = {
    val centroids = spark.read.parquet(s"$indexDir/centroids")
      .collect().map(r =>
        (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq
    val probes = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .select(col("query_id"), col("qvec"),
        explode(probeCells(col("qvec"), centroids, nprobe, roundTo)
          .getField("cell")).as("cell"))
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0))  // ≤ nlist values
    val vectors = spark.read.parquet(s"$indexDir/vectors")
      .filter(col("cell").isin(probedCells.map(Integer.valueOf): _*))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes.join(vectors, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("vec"), col("qvec")), roundTo).as("cos"))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
  }

  /** Per-vector int8 symmetric-quantization statistics: the scale a
    * quantizer would store (127 / max|x|) and the worst-case
    * reconstruction error of round-to-nearest int8 at that scale —
    * the audit query run before shipping a quantized embedding index
    * (4× smaller than f32, memory-bound ANN gets ~4× faster).
    *
    * Everything is a per-row projection (no shuffle) built from
    * exactly-rounded IEEE ops (mul/add/floor/div/sub/abs and an
    * order-independent max), so results are bit-identical across
    * engines and cluster sizes. Quantized values use floor(x·s + 0.5)
    * — explicit round-half-up — because engine-native `round` differs
    * (half-even vs half-away) across implementations.
    */
  def int8QuantStats(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val xd = transform(col(vecCol), x => x.cast("double"))
    df.select(col(idCol), xd.as("__v"))
      .withColumn("dim", size(col("__v")).cast("long"))
      .withColumn("scale",
        lit(127.0) / greatest(array_max(transform(col("__v"), x => abs(x))),
          lit(1e-12)))
      .withColumn("max_abs_err",
        array_max(transform(col("__v"), x =>
          abs(x - greatest(least(floor(x * col("scale") + lit(0.5)), lit(127L)),
            lit(-127L)).cast("double") / col("scale")))))
      .drop("__v")
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ) — lossy vector compression for ANN.
  // ------------------------------------------------------------------

  private val pqCodebookCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int, Long),
      Array[Array[Array[Double]]]]()

  /** Train PQ codebooks: split every vector into `m` equal subvectors
    * and fit an independent `ksub`-center KMeans per subspace. The
    * returned m × ksub × dsub array is the whole "index structure" —
    * m·ksub·dsub doubles (KBs), broadcast with the plan, never a
    * shuffle participant.
    *
    * Shape at scale: the fit reads the (optionally sampled) corpus
    * ONCE into a cached projection, then runs m KMeans fits over
    * in-memory slices; PQ codebooks are trained on a sample in
    * practice (quantizer quality needs thousands of points per
    * centroid, not the full corpus — set `sampleFraction` accordingly
    * at real scale). `cacheKey` memoizes the fit per JVM (the
    * [[fitIvfCentroids]] pattern): codebooks are a training ARTIFACT
    * every downstream encode/query reuses byte-identically.
    *
    * Cosine metric (`normalize = true`, the default — every consumer
    * in this engine ranks by cosine): vectors are L2-normalized
    * before slicing, putting the quantizer on the unit sphere where
    * euclidean rank equals cosine rank; the query-time expressions
    * apply the same normalization inside their fused loops. Subspace
    * seeds are `seed + j` so subspaces draw distinct (but
    * reproducible) initializations. */
  def fitPq(df: DataFrame, vecCol: String, m: Int = 8, ksub: Int = 16,
            seed: Long = 42L, maxIter: Int = 10,
            sampleFraction: Double = 1.0, normalize: Boolean = true,
            cacheKey: Option[String] = None): Array[Array[Array[Double]]] = {
    def fit(): Array[Array[Array[Double]]] = {
      val sampled = if (sampleFraction < 1.0) df.sample(sampleFraction, seed)
                    else df
      val raw = col(vecCol).cast("array<double>")
      // the interpreted normalization HOF is fine HERE: training runs
      // once over a sample; the per-row hot paths (encode, LUT) do the
      // same normalization inside their fused loops
      val unit = {
        val n = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
        transform(raw, x => x / when(n === 0.0, 1.0).otherwise(n))
      }
      val base = sampled
        .select((if (normalize) unit else raw).as("vec"))
        .filter(col("vec").isNotNull)
        .cache()
      try {
        val dim = base.select(size(col("vec"))).head().getInt(0)
        require(dim % m == 0, s"vector dim $dim not divisible by m=$m")
        val dsub = dim / m
        (0 until m).map { j =>
          val sub = base.select(
            array_to_vector(slice(col("vec"), j * dsub + 1, dsub)).as("fv"))
          new KMeans().setK(ksub).setSeed(seed + j).setMaxIter(maxIter)
            .setFeaturesCol("fv").setPredictionCol("c").fit(sub)
            .clusterCenters.map(_.toArray)
        }.toArray
      } finally { base.unpersist(); () }
    }
    cacheKey match {
      case Some(key) =>
        pqCodebookCache.computeIfAbsent(
          (s"$key@${dirFingerprint(df.sparkSession, key)}|norm=$normalize",
            m, ksub, seed), _ => fit())
      case None => fit()
    }
  }

  /** Encode a corpus to PQ codes: (id, codes array<int> of length m).
    * Per-row fused-codegen projection ([[graft.functions.PqEncode]]),
    * no shuffle. At scale THIS is the stored ANN column — m small ints
    * (m bytes at ksub ≤ 256) scanned per candidate instead of d
    * floats, a 32× IO cut at d=64/m=8/f32. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]],
               normalize: Boolean = true, quantRound: Int = -1): DataFrame =
    df.select(col(idCol),
      graft.functions.GraftFunctions.pq_encode(
        col(vecCol).cast("array<double>"), codebooks, normalize, quantRound)
        .as("codes"))

  /** Batch k-NN join under asymmetric PQ distance (ADC): the query
    * batch broadcasts with a per-query LUT of subspace distances
    * ([[graft.functions.PqLut]], m·ksub doubles per query), the
    * corpus streams through its CODES — scoring a candidate is m
    * array reads + m adds ([[graft.functions.PqAdcDistance]]), the
    * original floats never leave storage. Per-query ranking is the
    * row_number idiom (WindowGroupLimit caps map output at k rows per
    * query before the shuffle, the [[annJoinBruteForce]] shape).
    *
    * Distances are approximate (quantization error), ascending
    * squared-euclidean to the RECONSTRUCTED corpus vector; ties break
    * by neighbor id, so results are deterministic at any parallelism
    * for fixed codebooks. Compose [[annJoinPqRerank]] when exact
    * final ranks matter (the production two-stage shape). */
  def annJoinPq(queries: DataFrame, corpus: DataFrame,
                idCol: String, vecCol: String, k: Int,
                codebooks: Array[Array[Array[Double]]],
                normalize: Boolean = true,
                roundTo: Int = 6, quantRound: Int = -1): DataFrame = {
    val ksub = codebooks(0).length
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      graft.functions.GraftFunctions.pq_lut(
        col(vecCol).cast("array<double>"), codebooks, normalize, quantRound)
        .as("__qlut")))
    val encoded = pqEncode(corpus, idCol, vecCol, codebooks, normalize,
      quantRound)
    // In the rounded fixture-serving mode, MATERIALIZE the codes
    // before the join (the [[annJoinIvfPqStored]] LUT barrier, same
    // hazard): whole-stage codegen collapses the encode projection
    // into the join's matched-row loop, re-running the per-row encode
    // — now carrying m·ksub BigDecimal roundings — PER CANDIDATE PAIR
    // (measured: 0.53 s → 8.0 s at bench SF). Bounded: |corpus| rows
    // of m small ints, and the rounded mode only ever serves the
    // registered fixture corpora; the live-fit path keeps its
    // stream-through-codes shape.
    // CLUSTER-MODE CAVEAT (ADVICE r17): localCheckpoint truncates
    // lineage — on a real cluster an executor/block loss AFTER the
    // checkpoint fails the job unrecoverably (lost partitions cannot
    // recompute), and |corpus| code rows pin block-manager memory.
    // Acceptable here because the rounded mode is BY CONSTRUCTION
    // bench-corpus-only (the committed-fixture dispatch never matches
    // a production corpus); external callers wanting rounded serving
    // at cluster scale should persist the codes to storage (the
    // [[buildIvfPqIndex]] stored layout) instead of this
    // in-memory barrier.
    val c = (if (quantRound >= 0) encoded.localCheckpoint() else encoded)
      .withColumnRenamed(idCol, "neighbor_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc"), col("neighbor_id"))
    c.join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.GraftFunctions.pq_adc(
          col("codes"), col("__qlut"), ksub), roundTo).as("adc"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Two-stage PQ retrieval — the production shape: ADC over the
    * compressed codes proposes `k × refine` candidates per query
    * (cheap, code-only scan), then ONLY those candidates' true
    * vectors are fetched (a candidate-bounded equality join — at most
    * |queries|·k·refine rows of the corpus, never the corpus itself)
    * and exact cosine re-ranks the final top-k. Refinement recovers
    * the recall ADC loses to quantization error while keeping the
    * full-precision reads proportional to the answer size, not the
    * corpus. */
  def annJoinPqRerank(queries: DataFrame, corpus: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      codebooks: Array[Array[Array[Double]]],
                      normalize: Boolean = true,
                      refine: Int = 4, roundTo: Int = 6,
                      quantRound: Int = -1): DataFrame = {
    val cand = annJoinPq(queries, corpus, idCol, vecCol, k * refine,
        codebooks, normalize, roundTo = 9, quantRound = quantRound)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__vec"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qvec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(cv, "neighbor_id")
      .join(qv, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("__vec"), col("__qvec")), roundTo).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Materialized IVFPQ index — [[buildIvfIndex]]'s layout plus the
    * PQ compression layer: cell-partitioned CODES next to the
    * cell-partitioned vectors, PQ codebooks and IVF centroids as tiny
    * side tables. A query then reads ~nprobe/nlist of the index AND
    * reads it as m-int codes instead of d-float vectors — the two
    * multiplicative IO cuts of the FAISS IVFPQ architecture — pulling
    * full-precision vectors only for the final re-rank candidates.
    *
    * Cells come from [[assignCells]] over the given centroids, codes
    * from the [[pqEncode]] expression over the given codebooks with
    * `quantRound`-rounded subspace distances (`-1` leaves them
    * unrounded, the live-fit setting; the committed fixtures serve
    * with 6, so build → store → probe replays in ANSI SQL — the q159
    * oracle). Codes quantize the NORMALIZED vector directly
    * (non-residual PQ; residual encoding would couple every code to
    * its cell centroid, complicating append/rebalance for accuracy
    * this corpus shape doesn't need — the re-rank stage recovers it).
    * Layout: `centroids` (cell, centroid), `codebooks` (j, c,
    * centroid), `vectors/` and `codes/` both partitioned by cell. Same
    * single-writer lock and overwrite semantics as
    * [[buildIvfIndex]]. */
  def buildIvfPqIndex(df: DataFrame, idCol: String,
                      vecCol: String, indexDir: String,
                      centroids: Seq[(Int, Seq[Double])],
                      codebooks: Array[Array[Array[Double]]],
                      quantRound: Int = 6,
                      roundTo: Int = 6): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.sources.Sinks.withDirLock(spark, indexDir, "buildIvfPqIndex") {
      // one assignment+encode pass feeds both partitioned writes
      val assigned = assignCells(df, idCol, vecCol, centroids, roundTo)
        .select(col(idCol).as("vec_id"), col("vec"),
          graft.functions.GraftFunctions.pq_encode(col("vec"), codebooks,
            normalize = true, roundTo = quantRound).as("codes"),
          col("cell"))
        .localCheckpoint(true)
      assigned.select(col("vec_id"), col("vec"), col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexDir/vectors")
      assigned.select(col("vec_id"), col("codes"), col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexDir/codes")
      centroids.sortBy(_._1)
        .toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$indexDir/centroids")
      codebooks.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (cent, c) => (j, c, cent.toSeq) }
      }.toSeq
        .toDF("j", "c", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$indexDir/codebooks")
    }
  }

  /** Batch k-NN join through the stored IVFPQ index
    * ([[buildIvfPqIndex]]): probe cells by ROUNDED centroid cosine
    * (the [[annJoinIvfStored]] rule) become a literal partition filter
    * on the CODES scan; within probed cells, ADC over the per-query
    * broadcast LUT (`quantRound`-rounded entries, `-1` = unrounded —
    * pass the build's value) proposes `k × refine` candidates ranked
    * by the ADC sum rounded to 9 decimals (m array reads + m adds per
    * row, no float IO; sums of identically-rounded doubles in
    * ascending j are bit-identical cross-engine); only those
    * candidates' rows of `vectors/` are fetched — a candidate-bounded
    * join, itself pruned to the probed cells — for the exact
    * rounded-cosine re-rank. Served from the committed fixtures, every
    * step replays in ANSI SQL (the q159 oracle).
    *
    * The centroid and codebook collects are bounded (nlist and m·ksub
    * rows, KBs). Output: (query_id, neighbor_id, cos, rnk ≤ k),
    * deterministic for a fixed stored index. */
  def annJoinIvfPqStored(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, queries: DataFrame,
                         idCol: String, vecCol: String, k: Int,
                         nprobe: Int = 4, refine: Int = 4,
                         quantRound: Int = 6,
                         roundTo: Int = 6): DataFrame = {
    val centroids = spark.read.parquet(s"$indexDir/centroids")
      .collect().map(r =>
        (r.getInt(0), r.getSeq[Double](1).toSeq)).toSeq  // ≤ nlist rows
    val codebooks = spark.read.parquet(s"$indexDir/codebooks")
      .collect()  // bounded: m × ksub tiny rows
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray).toArray
      }.toArray
    val ksub = codebooks(0).length
    val probes = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"))
      .select(col("query_id"), col("qvec"),
        graft.functions.GraftFunctions.pq_lut(col("qvec"), codebooks,
          normalize = true, roundTo = quantRound).as("__qlut"),
        explode(probeCells(col("qvec"), centroids, nprobe, roundTo)
          .getField("cell")).as("cell"))
      // MATERIALIZE the LUTs before the codes join: the probe side
      // feeds the join inside one whole-stage-codegen pipeline, where
      // a projected expression is evaluated lazily AT USE — and the
      // use site (pq_adc) is inside the join's matched-row loop, so
      // without a barrier the m·ksub·dsub LUT is recomputed PER
      // CANDIDATE PAIR instead of per probe row. Invisible at bench
      // SF; the round-8 100× scalebench caught one task burning 15+
      // minutes in exactly this loop. The checkpoint is bounded:
      // |queries|·nprobe rows of m·ksub doubles.
      .localCheckpoint()
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0))  // ≤ nlist values
    val cellLit = probedCells.map(Integer.valueOf)
    val codes = spark.read.parquet(s"$indexDir/codes")
      .filter(col("cell").isin(cellLit: _*))
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc"), col("neighbor_id"))
    val cand = probes.join(codes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qvec"),
        col("vec_id").as("neighbor_id"),
        round(graft.functions.GraftFunctions.pq_adc(
          col("codes"), col("__qlut"), ksub), 9).as("adc"))
      .withColumn("arn", row_number().over(wAdc))
      .filter(col("arn") <= k * refine)
      .select(col("query_id"), col("qvec"), col("neighbor_id"))
    val vectors = spark.read.parquet(s"$indexDir/vectors")
      .filter(col("cell").isin(cellLit: _*))
      .select(col("vec_id").as("neighbor_id"), col("vec"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand.join(vectors, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("vec"), col("qvec")), roundTo).as("cos"))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
  }
}
