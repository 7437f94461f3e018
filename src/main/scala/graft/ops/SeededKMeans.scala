package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic, externally-replayable KMeans — the oracled twin of
  * the MLlib fits behind the ANN index family ([[Similarity]]).
  *
  * The MLlib `KMeans` the production paths use is engine-seeded
  * (kmeans|| init, solver-internal RNG) and float-summed
  * (order-dependent partial aggregation), so no external engine can
  * replay its centroids and every query built on it is limited to the
  * driver's rows-only check. This variant makes the WHOLE fit a pure
  * function of the corpus, the way [[Bpe.train]] is (exact counts,
  * lexicographic tiebreaks — the q154 discipline that flipped BPE from
  * rows-only to hash-oracled):
  *
  *  1. '''Micro-grid quantization''': every component is mapped ONCE to
  *     an integer micro-unit grid, `q_i = floor(x_i · 10^6 + 0.5)`
  *     (explicit round-half-up — engine-native `round` differs
  *     half-even vs half-away across implementations, the
  *     [[Similarity.int8QuantStats]] lesson). float→double is exact,
  *     one IEEE multiply + add + floor is bit-identical everywhere;
  *     after this line there is NO floating point anywhere in the fit.
  *  2. '''md5-rank init''': the k initial centroids are the quantized
  *     vectors of the k ids ranking smallest under
  *     `md5(id || '|' || seed)` (ties by id) — deterministic,
  *     engine-independent, and replayable as one ORDER BY.
  *  3. '''Integer Lloyd iterations''': assignment is argmin of the
  *     EXACT integer squared distance Σ(q_i − c_i)², ties to the
  *     lowest cell id; the new centroid coordinate is the exact long
  *     sum over the cell divided by its count with one explicit
  *     half-up rounding, `floor(sum/n + 0.5)` (sum and n are exact
  *     below 2^53, so the one double division is IEEE-identical in
  *     every engine — and [[fitQuantized]] enforces that envelope
  *     LOUDLY via [[ExactSumBound]] rather than letting an extreme
  *     cell silently diverge from the oracle). Empty cells keep their
  *     previous centroid.
  *
  * Every decision in the fit is therefore integer-exact and
  * order-independent — partition layout, shuffle parallelism, and
  * engine cannot change a single centroid — and a DuckDB recursive CTE
  * replays the full training loop for the hash-compared oracle
  * (q173–q176, [[graft.queries.SeededAnnQueries]]).
  *
  * Scale shape: the fit is iters passes over the corpus; per pass,
  * assignment is a per-row projection (NO join — centroids travel as a
  * k×d literal inside the expression), and the per-(cell, coordinate)
  * sums are one map-side-combined aggregation collapsing each task to
  * ≤ k·d rows; the driver collects k·d longs per iteration (bounded by
  * the model size, the [[Similarity.annJoinIvfStored]] centroid-collect
  * class, never by data volume). Production fits stay on MLlib (faster
  * convergence per pass); this variant exists where external
  * replayability is worth a slightly cruder quantizer — and its cell
  * BOUNDARIES differ from MLlib's only in which ties/rounding they
  * pick, so recall behavior is the same nprobe-governed story.
  */
object SeededKMeans {

  /** Micro-units per 1.0 — 10^6 keeps |q| ≤ ~10^6·max|x| and every
    * distance/sum far inside exact long/double-integer range:
    * dist ≤ d·(2·10^6·max|x|)², cell sums ≤ n·10^6·max|x|. */
  val GridScale = 1000000L

  /** The exactness envelope of the fit's single double division: a
    * per-(cell, coordinate) long sum at or beyond 2^53 is no longer
    * exactly representable as a double, so `floor(s/n + 0.5)` could
    * silently diverge from the oracle's identical IEEE computation.
    * [[fitQuantized]] enforces this loudly per iteration. */
  val ExactSumBound: Long = 1L << 53

  /** Quantize a float/double vector column to the micro-grid:
    * `floor(x · 10^6 + 0.5)` per component (see object doc, point 1). */
  def quantize(vec: Column): Column =
    transform(vec.cast("array<double>"),
      x => floor(x * lit(GridScale.toDouble) + lit(0.5)).cast("long"))

  /** Exact integer squared euclidean distance between two long-array
    * COLUMNS — fused codegen loop
    * ([[graft.functions.SqEuclideanLong]]); used where both sides are
    * data (the stored-index probe join). */
  def dist2(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.sq_euclidean_long(a, b)

  /** The interpreted-HOF distance (reference formulation, bit-identical
    * to [[dist2]] — integer sums have no accumulation-order caveat):
    * kept as the property-test twin, the [[TextAnalysis.cdcStartsHof]]
    * convention. */
  def dist2Hof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L),
      (acc, x) => acc + x)

  private def centsLit(cents: Array[Array[Long]]): Column =
    array(cents.map(c => array(c.map(lit): _*)): _*)

  /** Argmin cell for a quantized vector column against constant
    * centroids (ties → lowest cell): one fused codegen loop
    * ([[graft.functions.ArgminCellLong]]), the centroid table riding
    * the plan as a reference object (KBs). Per-row projection, no
    * join — assignment adds zero shuffles. */
  def assignCell(q: Column, cents: Array[Array[Long]]): Column =
    graft.functions.GraftFunctions.argmin_cell_long(q, cents)

  /** The interpreted-HOF argmin (reference formulation): k (dist,
    * cell) structs sorted lexicographically — the first element IS
    * (min dist, lowest cell on ties). Bit-identical to [[assignCell]]
    * by construction (exact integers, same tie rule); kept as the
    * property-test twin. Its ~k·d-literal tree re-analyzed per Lloyd
    * iteration is why the fused form exists (38 s → sub-second fits
    * at bench SF). */
  def assignCellHof(q: Column, cents: Array[Array[Long]]): Column = {
    val lit0 = centsLit(cents)
    // aliases inside lambda bodies are erased (fields come out col1/
    // col2), so name the fields via a positional struct cast
    val scored = transform(sequence(lit(0), lit(cents.length - 1)),
      i => struct(dist2Hof(q, element_at(lit0, i + 1)), i.cast("int"))
        .cast("struct<d:bigint,cell:int>"))
    array_sort(scored).getItem(0).getField("cell")
  }

  /** A fitted model: k centroids on the micro-grid. */
  final case class Model(k: Int, iters: Int, seed: Long,
                         centroids: Array[Array[Long]]) {
    /** Add the argmin `cell` column for a raw float/double vector
      * column (quantized in-row; see [[assignCell]]). */
    def assign(df: DataFrame, vecCol: String): DataFrame =
      df.withColumn("cell", assignCell(quantize(col(vecCol)), centroids))

    /** Driver-side argmin for one quantized vector (probe selection). */
    def nearestCells(q: Array[Long], n: Int): Seq[Int] =
      centroids.zipWithIndex
        .map { case (c, i) => (localDist2(q, c), i) }
        .sortBy(identity).take(n).map(_._2).toSeq
  }

  private[ops] def localDist2(a: Array[Long], b: Array[Long]): Long = {
    var s = 0L; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** The Lloyd loop over an already-quantized base (`idCol`,
    * `qCol: array<long>`). Exposed for the PQ per-subspace fits. */
  def fitQuantized(base: DataFrame, idCol: String, qCol: String,
                   k: Int, iters: Int, seed: Long): Array[Array[Long]] = {
    // md5-rank init (object doc, point 2): one TakeOrdered of k rows
    var cents: Array[Array[Long]] = base
      .orderBy(md5(concat(col(idCol).cast("string"), lit("|" + seed))),
        col(idCol))
      .limit(k)
      .select(col(qCol))
      .collect()
      .map(_.getSeq[Long](0).toArray)
    require(cents.length == k,
      s"seeded KMeans needs >= k=$k rows, got ${cents.length}")
    var it = 0
    while (it < iters) {
      // per-(cell, coordinate) exact long sums: map-side combine
      // collapses each task to <= k*d rows; the collect is k*d longs
      // (bounded by model size, not data volume)
      val sums = base
        .select(assignCell(col(qCol), cents).as("__cell"),
          posexplode(col(qCol)).as(Seq("__j", "__v")))
        .groupBy(col("__cell"), col("__j"))
        .agg(sum(col("__v")).as("__s"), count(lit(1)).as("__n"))
        .collect()
      val next = cents.map(_.clone()) // empty cells keep their centroid
      sums.foreach { r =>
        val cell = r.getInt(0); val j = r.getInt(1)
        val s = r.getLong(2); val n = r.getLong(3)
        // LOUD exactness-envelope guard (round-9 verdict #3): the one
        // double division below is IEEE-identical to the DuckDB oracle
        // only while the cell sum is exactly representable as a double
        // (|s| < 2^53). At genuine 100 TB cell sizes that envelope can
        // be exceeded — and without this check the fit would silently
        // stop matching its oracle. Remediation when it fires: shrink
        // GridScale, shard the corpus, or raise k so cells shrink.
        require(math.abs(s) < ExactSumBound,
          s"seeded KMeans cell sum |$s| (cell=$cell, coord=$j, n=$n) " +
            s"exceeds the 2^53 double-exact envelope; the floor(s/n + " +
            "0.5) mean would silently diverge from the recursive-CTE " +
            "oracle. Reduce GridScale, shard the fit, or raise k.")
        // one explicit half-up rounded division (object doc, point 3)
        next(cell)(j) = math.floor(s.toDouble / n + 0.5).toLong
      }
      cents = next
      it += 1
    }
    cents
  }

  /** Deterministic-fit memoization (the [[Similarity.fitPq]] /
    * [[Bpe.trainCached]] precedent): the fit is a pure artifact of
    * (corpus, k, iters, seed), so queries sharing one corpus (q173–
    * q175 all fit the same embeddings) reuse one fit per JVM instead
    * of re-running the Lloyd loop. Keyed by an explicit caller token —
    * never inferred from the plan. */
  private val fitCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int, Long),
      Array[Array[Long]]]()

  /** Fit on a raw float/double vector column. Null vectors are
    * excluded (they have no cell; [[Similarity.fitPq]] filters the
    * same way). `cacheKey` opts into per-JVM memoization of the
    * centroids (timings then reflect the memoized-artifact behavior,
    * like q30's cached model / q154's merge table).
    *
    * CONTRACT on `cacheKey` (round-10 ADVICE): the key must uniquely
    * identify the EXACT input rows for the lifetime of the JVM — the
    * cache is keyed by (key, k, iters, seed) only, so reusing a key
    * across different row sets (a regenerated dataset dir, a filtered
    * view of the same dir) silently returns the other set's centroids
    * and the downstream query hash-mismatches rather than erroring.
    * Derive the key from the dataset dir plus any filter token (the
    * q182 convention: `"$d/embeddings#even"` for the even-id half). */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int,
          iters: Int = 5, seed: Long = 42L,
          cacheKey: Option[String] = None): Model = {
    def compute(): Array[Array[Long]] = {
      val base = df
        .select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
        .filter(col("__q").isNotNull)
        .cache() // iters+1 passes over the quantized projection
      try fitQuantized(base, "__id", "__q", k, iters, seed)
      finally { base.unpersist(); () }
    }
    val cents = cacheKey match {
      case Some(key) =>
        fitCache.computeIfAbsent((key, k, iters, seed), _ => compute())
      case None => compute()
    }
    Model(k, iters, seed, cents)
  }

  // ------------------------------------------------------------------
  // Product quantization on the micro-grid — the seeded twin of
  // Similarity.fitPq (non-normalized: the raw grid IS the metric
  // space here, so ADC ranks are exact integers end to end).
  // ------------------------------------------------------------------

  /** m per-subspace codebooks, each ksub × dsub on the micro-grid.
    * Subspace j fits with seed `seed + j` (distinct but reproducible
    * inits — the [[Similarity.fitPq]] convention). */
  final case class PqModel(m: Int, ksub: Int, dim: Int, iters: Int,
                           seed: Long,
                           codebooks: Array[Array[Array[Long]]]) {
    val dsub: Int = dim / m
  }

  private val pqFitCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int, Int, Long),
      (Int, Array[Array[Array[Long]]])]()

  /** m per-subspace seeded fits; `cacheKey` memoizes like [[fit]] and
    * carries the same contract: it must uniquely identify the exact
    * input rows for the JVM lifetime (see [[fit]]). */
  def fitPq(df: DataFrame, idCol: String, vecCol: String, m: Int,
            ksub: Int, iters: Int = 5, seed: Long = 42L,
            cacheKey: Option[String] = None): PqModel = {
    def compute(): (Int, Array[Array[Array[Long]]]) = {
      val base = df
        .select(col(idCol).as("__id"), quantize(col(vecCol)).as("__q"))
        .filter(col("__q").isNotNull)
        .cache() // m fits slice the same quantized projection
      try {
        val dim = base.select(size(col("__q"))).head().getInt(0)
        require(dim % m == 0, s"vector dim $dim not divisible by m=$m")
        val dsub = dim / m
        val books = (0 until m).map { j =>
          val sub = base.select(col("__id"),
            slice(col("__q"), j * dsub + 1, dsub).as("__q"))
          fitQuantized(sub, "__id", "__q", ksub, iters, seed + j)
        }.toArray
        (dim, books)
      } finally { base.unpersist(); () }
    }
    val (dim, books) = cacheKey match {
      case Some(key) =>
        pqFitCache.computeIfAbsent((key, m, ksub, iters, seed), _ => compute())
      case None => compute()
    }
    PqModel(m, ksub, dim, iters, seed, books)
  }

  /** PQ-encode a quantized vector column: array of m argmin codes,
    * subspace j scored against codebook j (ties to the lowest code —
    * the [[assignCell]] rule per subspace). One fused codegen loop
    * ([[graft.functions.PqEncodeLong]]); per-row projection. */
  def pqEncode(q: Column, model: PqModel): Column =
    graft.functions.GraftFunctions.pq_encode_long(q, model.codebooks)

  /** Exact-integer asymmetric distance (ADC): Σ_j dist²(query slice j,
    * codebook_j[code_j]) — the neighbor contributes only its m codes,
    * the query its quantized slices. One fused codegen loop
    * ([[graft.functions.PqAdcLong]]); all-long arithmetic, so ranks
    * are bit-deterministic at any parallelism and in any engine. */
  def pqAdc(q: Column, codes: Column, model: PqModel): Column =
    graft.functions.GraftFunctions.pq_adc_long(q, codes, model.codebooks)

  /** Interpreted-HOF PQ twins (reference formulations, bit-identical
    * to the fused forms — exact integers, same lowest-code tie rule):
    * the property-test pair for [[pqEncode]] / [[pqAdc]]. */
  def pqEncodeHof(q: Column, model: PqModel): Column =
    array((0 until model.m).map { j =>
      assignCellHof(slice(q, j * model.dsub + 1, model.dsub),
        model.codebooks(j))
    }: _*)

  def pqAdcHof(q: Column, codes: Column, model: PqModel): Column =
    (0 until model.m).map { j =>
      val bookLit = array(model.codebooks(j).map(c =>
        array(c.map(lit): _*)): _*)
      dist2Hof(slice(q, j * model.dsub + 1, model.dsub),
        element_at(bookLit, element_at(codes, j + 1) + 1))
    }.reduce(_ + _)

  /** Batch k-NN join under seeded-PQ ADC — the [[Similarity.annJoinPq]]
    * shape (broadcast query batch, corpus streams through codes, per-
    * query row_number capped map-side by WindowGroupLimit), with exact
    * integer distances: the output is a pure corpus function, hash-
    * oracled as q176. */
  def annJoinPqSeeded(queries: DataFrame, corpus: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      model: PqModel): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      pqEncode(quantize(col(vecCol)), model).as("__codes"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("__qq")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc"), col("neighbor_id"))
    c.join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        pqAdc(col("__qq"), col("__codes"), model).as("adc"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  // ------------------------------------------------------------------
  // Seeded IVF — in-memory and stored, mirroring Similarity's
  // ivfCosineTopK / buildIvfIndex / annJoinIvfStored.
  // ------------------------------------------------------------------

  /** Single-query IVF top-k under the seeded quantizer
    * ([[Similarity.ivfCosineTopK]] twin, q174): probe cells are the
    * nprobe centroids nearest the query by EXACT integer distance
    * (ties to the lowest cell — replayable, unlike the float-cosine
    * probe rule of the MLlib path), exact cosine re-ranks within the
    * probed cells (round 6, the q122 convention). */
  def ivfCosineTopKSeeded(df: DataFrame, idCol: String, vecCol: String,
                          queryId: Long, k: Int, nlist: Int,
                          nprobe: Int, iters: Int = 5, seed: Long = 42L,
                          roundTo: Int = 6,
                          cacheKey: Option[String] = None): DataFrame = {
    val model = fit(df, idCol, vecCol, nlist, iters, seed, cacheKey)
    val assigned = df
      .select(col(idCol), col(vecCol).cast("array<double>").as("vec"),
        quantize(col(vecCol)).as("__q"))
      .withColumn("cell", assignCell(col("__q"), model.centroids))
    val qRow = assigned.filter(col(idCol) === queryId)
      .select(col("__q"), col("vec")).head()
    val qq = qRow.getSeq[Long](0).toArray
    val probe = model.nearestCells(qq, nprobe)
    val q = assigned.filter(col(idCol) === queryId)
      .select(col("vec").as("qvec"))
    assigned
      .filter(col("cell").isin(probe.map(Integer.valueOf): _*))
      .filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(Similarity.cosine(col("vec"), col("qvec")), roundTo).as("cos"),
        col("cell"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Materialized seeded-IVF index — [[Similarity.buildIvfIndex]]'s
    * cell-partitioned layout (vectors partitioned by cell; centroids
    * as a tiny side table, here on the micro-grid) with the
    * deterministic fit: rebuilding the index from the same corpus
    * yields byte-identical files, so the stored layout itself is a
    * replayable artifact (q175). */
  def buildIvfIndexSeeded(df: DataFrame, idCol: String, vecCol: String,
                          indexDir: String, nlist: Int,
                          iters: Int = 5, seed: Long = 42L,
                          cacheKey: Option[String] = None,
                          batchId: Option[String] = None): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.sources.Sinks.withDirLock(spark, indexDir, "buildIvfIndexSeeded") {
      val model = fit(df, idCol, vecCol, nlist, iters, seed, cacheKey)
      val base = df.select(col(idCol).as("vec_id"),
          col(vecCol).cast("array<double>").as("vec"),
          quantize(col(vecCol)).as("__q"))
        .withColumn("cell", assignCell(col("__q"), model.centroids))
        .select(col("vec_id"), col("vec"), col("cell"))
      // batchId opts the index into the TAGGED lifecycle (round 18):
      // the base rows carry the tag so every later append can be
      // schema-checked consistent, and replayed append batches
      // collapse at read/compaction. Untagged (legacy) indexes keep
      // the at-least-once append caveat and the round-9 byte-identical
      // rebuild property (q175) byte-for-byte.
      batchId.foldLeft(base)((d, id) => d.withColumn("batch_id", lit(id)))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexDir/vectors")
      model.centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$indexDir/centroids")
    }
  }

  /** Incremental append to a stored seeded index — the
    * [[Similarity.appendToIvfIndex]] contract on the micro-grid: new
    * vectors go to the nearest STORED centroid (exact integer argmin,
    * ties to the lowest cell — [[assignCell]]'s rule, computed here as
    * a broadcast join + min_by because the centroid table is data, not
    * a plan constant), appended under the index lock; no refit, stored
    * queries see appends on next scan. Because assignment against
    * stored centroids is the SAME pure function the fit uses, an index
    * built on a prefix and appended with the rest answers queries
    * IDENTICALLY to one full assignment under the prefix-fit centroids
    * — which is exactly what q182's oracle replays (unlike q132, where
    * the MLlib fit keeps the maintenance op rows-only).
    *
    * Replay safety (round 18 — the exactly-once rollout reaching the
    * incremental ANN ingest): an UNTAGGED append keeps the historical
    * at-least-once caveat — a crash-recovery replay appends the
    * batch's vectors twice, and a duplicated vector can occupy TWO of
    * the k neighbor slots in stored-index answers. Passing `batchId`
    * (unique per logical batch; requires an index built with a
    * `batchId` so the vectors table is tagged — the schema-consistency
    * assert fails loud on a mismatch) retires it: rows carry the tag,
    * and [[annJoinIvfSeededStored]] / [[compactIvfVectorsSeeded]] keep
    * ONE row per (batch_id, vec_id) before use. Replicas of a replayed
    * append are bit-identical deterministic recomputes (the assignment
    * is a pure argmin against STORED centroids), so keeping one is
    * exact. */
  def appendToIvfIndexSeeded(spark: SparkSession, indexDir: String,
                             df: DataFrame, idCol: String,
                             vecCol: String,
                             batchId: Option[String] = None): Unit =
    graft.sources.Sinks.withDirLock(spark, indexDir,
      "appendToIvfIndexSeeded") {
      graft.sources.Sinks.assertBatchTagConsistent(
        spark, s"$indexDir/vectors", batchId.isDefined,
        "appendToIvfIndexSeeded")
      val centroids = broadcast(spark.read.parquet(s"$indexDir/centroids"))
      val assigned = df.select(col(idCol).as("vec_id"),
          col(vecCol).cast("array<double>").as("vec"),
          quantize(col(vecCol)).as("__q"))
        .crossJoin(centroids) // bounded: build side is nlist rows
        .select(col("vec_id"), col("vec"), col("cell"),
          dist2(col("__q"), col("centroid")).as("d2"))
        .groupBy(col("vec_id"))
        .agg(min_by(struct(col("cell"), col("vec")),
          struct(col("d2"), col("cell"))).as("__r"))
        .select(col("vec_id"), col("__r.vec").as("vec"),
          col("__r.cell").as("cell"))
      batchId.foldLeft(assigned)((d, id) => d.withColumn("batch_id", lit(id)))
        .write.mode("append").partitionBy("cell")
        .parquet(s"$indexDir/vectors")
    }

  /** Duplicate-replay collapse for a tagged seeded-IVF vectors table:
    * one row per (batch_id, vec_id) survives; untagged (legacy)
    * indexes pass through. The tag is dropped after the collapse so
    * probe plans see the legacy shape. */
  private def dedupedVectors(raw: DataFrame): DataFrame =
    if (raw.schema.fieldNames.contains("batch_id"))
      raw.dropDuplicates("batch_id", "vec_id").drop("batch_id")
    else raw

  /** Physically collapse replayed append duplicates and the
    * small-files tax of many appends: one file set per cell,
    * one row per (batch_id, vec_id) — re-tagged with the
    * `__compacted__` sentinel — via the shared backup-swap compaction,
    * cell partitioning preserved (probe plans keep pruning). Untagged
    * indexes just get the file compaction. Run it on the ingest
    * cadence, after in-flight batches are resolved (the
    * standing tagged-sidecar discipline). */
  def compactIvfVectorsSeeded(spark: SparkSession, indexDir: String): Unit =
    graft.sources.Sinks.compactParquetDir(spark, s"$indexDir/vectors",
      partitionCols = Seq("cell"),
      transform = Some { raw =>
        if (raw.schema.fieldNames.contains("batch_id"))
          dedupedVectors(raw).withColumn("batch_id",
            lit(graft.ops.LinearProbe.CompactedBatchId))
        else raw
      })

  /** Batch k-NN join through the stored seeded-IVF index
    * ([[Similarity.annJoinIvfStored]] twin, q175): probe cells picked
    * in-row against the broadcast micro-grid centroid table by exact
    * integer distance (asc, ties by cell), the scan statically pruned
    * to the probed cells, exact cosine re-ranking. The same stored
    * layout and pruned-scan shape as the MLlib-backed path — only the
    * (deterministic) fit and the probe metric differ. */
  def annJoinIvfSeededStored(spark: SparkSession, indexDir: String,
                             queries: DataFrame, idCol: String,
                             vecCol: String, k: Int, nprobe: Int,
                             roundTo: Int = 6): DataFrame = {
    val vectors = dedupedVectors(spark.read.parquet(s"$indexDir/vectors"))
    val centroids = broadcast(spark.read.parquet(s"$indexDir/centroids"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cdist"), col("cell"))
    val probes = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qvec"),
        quantize(col(vecCol)).as("__qq"))
      .crossJoin(centroids) // bounded: |queries| × nlist, build side nlist rows
      .select(col("query_id"), col("qvec"), col("cell"),
        dist2(col("__qq"), col("centroid")).as("cdist"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cell"))
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)) // ≤ nlist values
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes
      .join(vectors.filter(
        col("cell").isin(probedCells.map(Integer.valueOf): _*)), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(Similarity.cosine(col("vec"), col("qvec")), roundTo).as("cos"))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= k)
  }
}
