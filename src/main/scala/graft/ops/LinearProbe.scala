package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained linear quality probe — the step that turns the composed
  * quality-signal feature table (q209) into an actual quality FILTER:
  * fit a least-squares linear classifier against a weak label (the
  * CCNet/fastText move — "target-language or curated-source docs are
  * the positives, score everything, keep the top"), then score every
  * document with the learned weights. The reference fits its
  * classifier with MLlib LR (`spark.py:63-67`) whose solver state is
  * engine-internal; this operator is the engine's deterministic
  * counterpart — EVERY arithmetic step is exact scaled-integer, so
  * the trained weights and all scores hash-replay externally.
  *
  * Two-phase shape, both 100 TB-sane:
  *
  *  1. GRAM PASS (distributed, ONE aggregation): features are scaled
  *     to exact longs F_i = round(f_i · featScale) and the d×d Gram
  *     moments G_ij = ΣF_i·F_j, B_i = ΣF_i·y, n accumulate as
  *     DECIMAL(38,0) — exact and order-independent, map-side
  *     combined, one ~d² row to the driver regardless of corpus
  *     size (the bounded-collect class of the IVF centroid fetch).
  *  2. GD LOOP (driver, exact integers): full-batch gradient descent
  *     on ½n⁻¹·Σ(x·θ−y)² in scaled-integer arithmetic over the Gram
  *     matrix alone — θ lives as T_i = θ_i·thetaScale, and each
  *     iteration is
  *       U_i   = (Σ_j G_ij·T_j) div featScale² − (thetaScale div
  *               featScale)·B_i
  *       T_i'  = T_i − (lrNum·U_i) div (lrDen·n)
  *     BigInt division truncates toward zero exactly like Spark's
  *     `div` and DuckDB's `//` (verified on negatives: −7 div 2 = −3
  *     in all three), so the loop replays verbatim as a recursive
  *     CTE. No data-sized state ever revisits the driver: the loop
  *     touches d(d+1)/2+d+1 numbers however large the corpus is.
  *
  * Scoring is one codegen'd projection: score_fp = (ΣF_j·T_j) div
  * featScale — scale thetaScale, i.e. 1e-9 resolution.
  *
  * Convergence contract (documented, not silently assumed): features
  * must lie in [0,1] (callers clamp/normalize — every q209 signal
  * used is a ratio by construction) so the Hessian spectrum is
  * bounded by trace(A) ≤ d and any lr < 2/d descends; the default
  * lr=1/4 with d ≤ 8 follows. Divergence cannot be silent: the loop
  * REQUIREs |T_i| ≤ 32·thetaScale every iteration (the loud-guard
  * discipline), which simultaneously pins the DECIMAL(38,0)
  * envelope: |Σ_j G_ij·T_j| ≤ d·featScale²·n·32·thetaScale < 10^38
  * for n up to 10^12 documents at the default scales.
  *
  * NULL contract: rows with any NULL feature or label are EXCLUDED
  * up front (the groupedOls discipline — n must equal the rows whose
  * moments were summed; a silent n/Σ mismatch would train wrong
  * weights without tripping any guard).
  */
object LinearProbe {

  val FeatScale = 1000000L          // features: 6 decimal places
  val ThetaScale = 1000000000L      // weights: 9 decimal places
  val ThetaBound = 32L              // loud divergence guard, |θ| ≤ 32

  /** Scaled exact-long feature columns `__f0..__fd` (f0 = intercept
    * = featScale) + `__y` 0/1 long.
    *
    * NULL contract (the groupedOls discipline, enforced WITHOUT a row
    * filter): a row with ANY null feature or label gets ALL of
    * `__f0..__fd`/`__y` nulled in the one projection, so every Gram
    * moment skips it consistently ([[gramAggDf]] counts n as
    * count(__y)) and [[scoreFp]] null-propagates its score — n always
    * equals the rows actually summed, and an invalid row can never
    * contribute partial moments. A `df.filter(allNotNull)` would be
    * semantically identical but catastrophically slower when the
    * feature columns are computed expressions: Catalyst pushes the
    * inferred isnotnull constraints below joins and aggregations all
    * the way into the parquet scan as INTERPRETED DataFilters, where
    * the full expression trees (tokenization, bigram arrays) re-run
    * per input row without codegen or subexpression elimination —
    * measured 9× on the q210 chain. Nulling inside the projection
    * keeps the whole contract in one codegen'd Project. */
  def scaled(df: DataFrame, featureCols: Seq[String], labelCol: Column,
             featScale: Long = FeatScale): DataFrame = {
    require(featureCols.nonEmpty && featureCols.size <= 7,
      s"LinearProbe: 1..7 features (+intercept) keep the decimal " +
        s"envelope provable, got ${featureCols.size}")
    // reserved-name guard: appending __f*/__y onto a frame that
    // already carries them would produce ambiguous duplicate columns
    // that surface only as a confusing downstream resolution error
    val reserved = df.schema.fieldNames
      .filter(n => n == "__y" || n.matches("__f\\d+"))
    require(reserved.isEmpty,
      s"LinearProbe: input already contains reserved column(s) " +
        s"${reserved.mkString(", ")} — rename or drop them first")
    val valid = featureCols.map(col(_).isNotNull)
      .reduce(_ && _) && labelCol.isNotNull
    val fs = when(valid, lit(featScale)).as("__f0") +:
      featureCols.zipWithIndex.map { case (c, i) =>
        when(valid, round(col(c) * featScale).cast("long"))
          .as(s"__f${i + 1}")
      }
    df.select(col("*") +: fs :+
      when(valid, labelCol.cast("long")).as("__y"): _*)
  }

  /** The one-row Gram aggregation frame of a [[scaled]] frame —
    * columns n (long), g_i_j for i ≤ j and b_i (DECIMAL(38,0)). This
    * IS the probe's sufficient statistic: additive over row-disjoint
    * batches, so it is also the sidecar row format. */
  def gramAggDf(scaledDf: DataFrame, d: Int): DataFrame = {
    val cols = gramAggCols(d)
    scaledDf.agg(cols.head, cols.tail: _*)
  }

  /** [[gramAggDf]]'s aggregate columns, in its column order — for a
    * caller that collects the moments as OBSERVED metrics of a pass it
    * already runs ([[graft.ops.CurationPipeline]]'s shard
    * materialization) instead of a separate job over the same rows. */
  private[graft] def gramAggCols(d: Int): Seq[Column] = {
    val dec = "decimal(38,0)"
    val prods = for (i <- 0 until d; j <- i until d) yield
      sum((col(s"__f$i").cast(dec) * col(s"__f$j").cast(dec)).cast(dec))
        .as(s"g_${i}_$j")
    val bs = (0 until d).map(i =>
      sum((col(s"__f$i").cast(dec) * col("__y").cast(dec)).cast(dec))
        .as(s"b_$i"))
    // count(__y), not count(1): rows nulled by [[scaled]]'s validity
    // projection must be excluded from n exactly as the null sums
    // exclude them from every moment
    count(col("__y")).as("n") +: (prods ++ bs)
  }

  /** Append one PRECOMPUTED moment row to the sidecar — the
    * decide-phase twin of [[writeGramSidecar]] (optimization round 18):
    * callers that already hold the [[gramAggDf]] row from their
    * read-only decide phase (the [[graft.ops.CurationPipeline]] ingest
    * protocol) write the literal row back instead of re-evaluating the
    * full batch lineage (scan + feature join + aggregation) a second
    * time inside the durable-write step. The row/schema must be
    * exactly [[gramAggDf]]'s output — the deterministic decimal
    * recompute guarantee that makes replayed appends collapsible holds
    * because the row IS the aggregation's output. Written DRIVER-SIDE
    * ([[graft.sources.Sinks.appendRowDriverSide]]): the file reads
    * back with the schema a Spark write of `gramAggDf` plus `batch_id`
    * produces, without a Spark job for one row. Same tag/lock
    * discipline as [[writeGramSidecar]]. */
  private[graft] def appendGramMomentRow(
      spark: org.apache.spark.sql.SparkSession,
      row: org.apache.spark.sql.Row,
      schema: org.apache.spark.sql.types.StructType,
      sidecarDir: String, batchId: Option[String]): Unit = {
    graft.sources.Sinks.assertBatchTagConsistent(
      spark, sidecarDir, batchId.isDefined, "writeGramSidecar")
    graft.sources.Sinks.withDirLock(
      spark, sidecarDir, "writeGramSidecar") {
      // the tag is a non-null string column, as `lit(id)` makes it
      val (taggedRow, taggedSchema) = batchId.fold((row, schema)) { id =>
        (org.apache.spark.sql.Row.fromSeq(row.toSeq :+ id),
          schema.add("batch_id", org.apache.spark.sql.types.StringType,
            nullable = false))
      }
      graft.sources.Sinks.appendRowDriverSide(
        spark, sidecarDir, taggedSchema, taggedRow)
    }
  }

  private def parseGramRow(row: org.apache.spark.sql.Row, d: Int):
      (Array[Array[BigInt]], Array[BigInt], Long) = {
    val n = row.getAs[Long]("n")
    // zero valid rows → every sum is legitimately NULL (sum of an
    // all-null column), not an envelope breach: return the zero Gram
    // and let callers raise their own "no rows" message
    if (n == 0L) return (Array.fill(d, d)(BigInt(0)),
      Array.fill(d)(BigInt(0)), 0L)
    val g = Array.ofDim[BigInt](d, d)
    for (i <- 0 until d; j <- i until d) {
      val v = row.getAs[java.math.BigDecimal](s"g_${i}_$j")
      require(v != null,
        "LinearProbe: Gram moment exceeds DECIMAL(38,0) envelope")
      g(i)(j) = BigInt(v.toBigInteger); g(j)(i) = g(i)(j)
    }
    val b = (0 until d).map { i =>
      val v = row.getAs[java.math.BigDecimal](s"b_$i")
      require(v != null,
        "LinearProbe: label moment exceeds DECIMAL(38,0) envelope")
      BigInt(v.toBigInteger)
    }.toArray
    (g, b, n)
  }

  /** One-pass Gram moments of a [[scaled]] frame: G(i)(j) for i ≤ j,
    * B(i), n — all exact BigInt via DECIMAL(38,0) sums. */
  def gram(scaledDf: DataFrame, d: Int): (Array[Array[BigInt]], Array[BigInt], Long) = {
    val res = parseGramRow(gramAggDf(scaledDf, d).collect()(0), d)
    require(res._3 > 0, "LinearProbe: no complete rows to fit")
    res
  }

  /** Append one feature-row batch's Gram moments to a persisted
    * sidecar — the trainer state of a CONTINUOUSLY-RETRAINED quality
    * probe: the Gram is the probe's complete sufficient statistic
    * and is ADDITIVE over row-disjoint feature batches, so the
    * compacted sidecar equals a from-scratch Gram over everything
    * ingested and the weights fitted from it are BIT-EQUAL to a
    * from-scratch fit (q212 hash-proves it against q210's oracle).
    * Contract (the standing sidecar discipline): batches must
    * partition the FEATURE TABLE by row — at-least-once replays
    * double-count, key batches externally when that matters. Note
    * the unit is feature ROWS, not raw documents: corpus-relative
    * signals (percentile calibration, rarity) are computed by the
    * upstream feature pipeline; this sidecar accumulates the trainer
    * state over its output. Single writer via the dir lock. One row
    * (~d² decimals) per append — sidecar IO is O(batches), never
    * data-sized.
    *
    * `batchId` (round 16) retires the at-least-once caveat above for
    * callers that can name their batches: the moment row carries a
    * `batch_id` column, and every summed read ([[fitFromSidecar]],
    * [[compactGramSidecar]]) first collapses duplicate batch ids to
    * one row — a crash-replayed append of the same batch (identical
    * moments, deterministic recompute) becomes a detectable no-op, so
    * the contract is EXACTLY-ONCE by construction. Ids must be unique
    * per logical batch and never reused for different rows; a tagged
    * sidecar is tagged from its first append
    * ([[graft.sources.Sinks.assertBatchTagConsistent]]). */
  def writeGramSidecar(scaledBatch: DataFrame, d: Int,
                       sidecarDir: String,
                       batchId: Option[String] = None): Unit = {
    graft.sources.Sinks.assertBatchTagConsistent(
      scaledBatch.sparkSession, sidecarDir, batchId.isDefined,
      "writeGramSidecar")
    graft.sources.Sinks.withDirLock(
      scaledBatch.sparkSession, sidecarDir, "writeGramSidecar") {
      batchId.foldLeft(gramAggDf(scaledBatch, d))(
          (df, id) => df.withColumn("batch_id", lit(id)))
        .write.mode("append").parquet(sidecarDir)
    }
  }

  /** Exact unlearning append — the DELETION twin of
    * [[writeGramSidecar]] (the takedown / right-to-erasure lifecycle
    * a long-lived training corpus needs): appends the batch's moment
    * row NEGATED, so every summed read of the sidecar (fit,
    * compaction) sees total − batch from then on. Gram moments are
    * additive over row-disjoint batches, so subtraction is EXACT in
    * the decimal envelope: θ fitted from the sidecar after the
    * deletion is BIT-EQUAL to a from-scratch fit over the remaining
    * corpus (q223 hash-proves it against an oracle that replays the
    * whole training loop on corpus-minus-batch) — the trainer state
    * "forgets" the rows without the retained corpus ever being
    * re-read. Contract: the deleted batch must be EXACTLY rows
    * previously ingested, at the same feature values
    * (delete-what-you-inserted). Empty/all-invalid batches are a
    * no-op (an n = 0 row carries NULL sums — the ADVICE-r14 trap —
    * and deletes nothing anyway). Single writer via the dir lock; one
    * ~d²-decimal row per deletion, IO never data-sized.
    *
    * Retry safety (the ADVICE-r15 item — deletions are LIKELIER to be
    * retried than appends; takedown tooling re-invokes on any
    * ambiguous failure): untagged deletions are AT-MOST-ONCE by
    * contract — a caller that re-invokes after a failure between the
    * parquet write's partial commit and its acknowledgement appends
    * the negation twice and silently over-forgets. Passing `batchId`
    * (a unique id per LOGICAL deletion, conventionally
    * `"__del__:<what>"` and distinct from every append id) retires
    * the caveat: duplicate deletion rows collapse at read exactly
    * like duplicate appends, so retrying the same deletion is a
    * no-op and the lifecycle is exactly-once by construction. */
  def writeGramDeletion(scaledBatch: DataFrame, d: Int,
                        sidecarDir: String,
                        batchId: Option[String] = None): Unit = {
    graft.sources.Sinks.assertBatchTagConsistent(
      scaledBatch.sparkSession, sidecarDir, batchId.isDefined,
      "writeGramDeletion")
    graft.sources.Sinks.withDirLock(
      scaledBatch.sparkSession, sidecarDir, "writeGramDeletion") {
      val agg = gramAggDf(scaledBatch, d)
      val neg = agg.schema.fieldNames.map {
        case "n" => (-col("n")).cast("long").as("n")
        case c => (-col(c)).cast("decimal(38,0)").as(c)
      }
      val negDf0 = agg.select(neg.toSeq: _*)
      val negDf = batchId.foldLeft(negDf0)(
        (df, id) => df.withColumn("batch_id", lit(id)))
      // ONE row by construction (a global aggregate) — collect it
      // once, gate on n, and write the literal row back: one job,
      // not an isEmpty probe plus a recompute
      val row = negDf.collect()(0)
      if (row.getAs[Long]("n") < 0L)
        scaledBatch.sparkSession
          .createDataFrame(java.util.List.of(row), negDf.schema)
          .write.mode("append").parquet(sidecarDir)
    }
  }

  /** Sentinel batch id of a compacted moment row. There is at most
    * one such row at a time (compaction rewrites the whole dir), so
    * the duplicate-collapse at read never merges two generations. */
  val CompactedBatchId = "__compacted__"

  /** Duplicate-append collapse for TAGGED sidecars: one row per
    * batch_id (replicas of a replayed append are bit-identical —
    * deterministic decimal recompute — so keeping any one is exact).
    * Untagged sidecars pass through unchanged (the pre-round-16
    * at-least-once contract). */
  private def dedupedMoments(raw: DataFrame): DataFrame =
    if (raw.schema.fieldNames.contains("batch_id"))
      raw.dropDuplicates("batch_id")
    else raw

  /** Batch ids currently present in a TAGGED Gram sidecar (empty for
    * untagged/missing dirs) — the in-flight-shard probe
    * [[graft.ops.CurationPipeline.compactState]] guards compaction
    * with: compacting an UNCOMMITTED batch's row would merge away the
    * per-batch identity its crash-replay depends on. Bounded driver
    * collect: one short string per append ever made. */
  def gramBatchIds(spark: org.apache.spark.sql.SparkSession,
                   sidecarDir: String): Seq[String] = {
    // driver-side read (optimization round 18): the sidecar holds one
    // short row per append ever made, and this probe runs before every
    // compaction/finalize — a Spark job (scan + distinct + collect)
    // paid whole-job overhead for KBs of metadata. An untagged sidecar
    // (no batch_id in the schema, fixed at first append) stays Nil
    // exactly as before.
    val p = new org.apache.hadoop.fs.Path(sidecarDir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Nil
    val out = scala.collection.mutable.HashSet[String]()
    // _temporary/dot-prefixed components skipped at EVERY level, and
    // taggedness decided from the FIRST data file with every later
    // file REQUIRED to agree (both ADVICE r18): the old mid-scan
    // `return Nil` on any untagged file silently disabled the
    // in-flight/uncommitted-shard guard on exactly the mixed-schema
    // dir the tag guard exists to catch.
    val files = graft.sources.Sinks.listDataFiles(fs, p)
    var tagged: Option[Boolean] = None
    for (f <- files) {
      val (schema, rows) = graft.sources.Sinks.readParquetRows(spark, f.getPath)
      val hasTag = schema.containsField("batch_id")
      tagged match {
        case None => tagged = Some(hasTag)
        case Some(t) => require(t == hasTag,
          s"LinearProbe.gramBatchIds: $sidecarDir mixes tagged and " +
            s"untagged parquet files (${f.getPath} is " +
            s"${if (hasTag) "tagged" else "untagged"}) — a sidecar " +
            "carries batch_id from its first append or never")
      }
      if (hasTag) out ++= rows.map(_.getString("batch_id", 0))
    }
    out.toSeq
  }

  /** Sentinel prefix of a DELETION append's batch id (the
    * [[writeGramDeletion]] convention, shared with
    * [[graft.ops.CurationPipeline]]'s manifest markers). */
  val DeletionBatchPrefix = "__del__:"

  /** Many appended moment rows → one summed row via the shared
    * backup-swap compaction; summation makes compaction idempotent
    * over its own output. Tagged sidecars collapse duplicate batch
    * ids first and the output row carries [[CompactedBatchId]], so
    * replayed appends stay harmless across compactions — PROVIDED no
    * uncommitted batch is merged away (callers that can still replay
    * a batch must gate on [[gramBatchIds]]; the pipeline's
    * [[graft.ops.CurationPipeline.compactState]] does). Untagged
    * sidecars keep the pre-round-16 contract: idempotent over
    * compaction's own output, NOT over a replayed append.
    *
    * `__del__:`-tagged DELETION rows are preserved UNMERGED (ADVICE
    * r16): a retraction's advertised idempotency is "run it again
    * after a crash", and deletions are exactly the appends retries
    * are LIKELIEST to follow a cadenced compaction (takedown tooling
    * re-invokes on any ambiguous failure). Merging a negation into
    * the [[CompactedBatchId]] sentinel would destroy the batch-id
    * evidence a retried [[writeGramDeletion]] collapses against —
    * silent double-subtraction. Kept rows are bounded at ONE ~d²-
    * decimal row per deletion ever made; the summed READ is unchanged
    * (compacted row = Σ non-deletion rows, deletions ride beside it,
    * total identical by additivity). */
  def compactGramSidecar(spark: org.apache.spark.sql.SparkSession,
                         sidecarDir: String, d: Int): Unit = {
    val sums = (for (i <- 0 until d; j <- i until d)
      yield sum(col(s"g_${i}_$j")).as(s"g_${i}_$j")) ++
      (0 until d).map(i => sum(col(s"b_$i")).as(s"b_$i"))
    graft.sources.Sinks.compactParquetDir(spark, sidecarDir,
      sortCol = None,
      transform = Some { raw =>
        if (raw.schema.fieldNames.contains("batch_id")) {
          val deduped = dedupedMoments(raw)
          val isDel = col("batch_id").startsWith(DeletionBatchPrefix)
          val summed = deduped.filter(!isDel)
            .agg(sum(col("n")).as("n"), sums: _*)
            .withColumn("batch_id", lit(CompactedBatchId))
          // column order must match for the union; deletions keep
          // their own batch ids
          summed.unionByName(
            deduped.filter(isDel).select(summed.columns.map(col).toSeq: _*))
        } else raw.agg(sum(col("n")).as("n"), sums: _*)
      })
  }

  /** Fit FROM the sidecar — the corpus is never re-read: the summed
    * moment rows (compacted or not, duplicate tagged appends
    * collapsed) are the exact total Gram.
    *
    * Read DRIVER-SIDE (optimization round 18): the sidecar holds one
    * ~d²-decimal row per append ever made — pure metadata — and the
    * old Spark job (scan + decimal aggregation + collect) paid
    * whole-job overhead per fit for KBs of IO. Summation is exact
    * BigInt (duplicate tags collapsed first, deletion rows netted by
    * additivity, per-row NULL moments of n=0 rows skipped — the same
    * SQL-sum semantics), and the DECIMAL(38,0) envelope guard is
    * re-applied to every summed moment so an overflow fails with the
    * identical message the aggregated read raised. */
  def fitFromSidecar(spark: org.apache.spark.sql.SparkSession,
                     sidecarDir: String, d: Int, iters: Int,
                     lrNum: Long = 1L, lrDen: Long = 4L): Array[BigInt] = {
    val (g, b, n) = sidecarGram(spark, sidecarDir, d)
    require(n > 0, "LinearProbe: empty sidecar")
    fitFromGram(g, b, n, iters, lrNum, lrDen)
  }

  /** Driver-side exact Gram totals of a moment sidecar (the
    * [[fitFromSidecar]] read half): one parquet footer+page read per
    * file, rows bounded by appends-ever. */
  private[graft] def sidecarGram(spark: org.apache.spark.sql.SparkSession,
                                 sidecarDir: String, d: Int)
      : (Array[Array[BigInt]], Array[BigInt], Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(sidecarDir)
    val fs = p.getFileSystem(conf)
    require(fs.exists(p), s"LinearProbe: no Gram sidecar at $sidecarDir")
    val gNames = for (i <- 0 until d; j <- i until d) yield s"g_${i}_$j"
    val bNames = (0 until d).map(i => s"b_$i")
    val sums = scala.collection.mutable.HashMap[String, BigInt]()
    var nTotal = 0L
    val seen = scala.collection.mutable.HashSet[String]()
    def decodeUnscaled(grp: org.apache.parquet.example.data.Group,
                       field: String): Option[BigInt] = {
      if (grp.getType.getType(grp.getType.getFieldIndex(field))
          .asPrimitiveType().getPrimitiveTypeName.name() == "INT64")
        Some(BigInt(grp.getLong(field, 0)))
      else
        // decimal(38,0): unscaled big-endian two's-complement bytes
        // (FIXED_LEN_BYTE_ARRAY / BINARY both surface as Binary)
        Some(BigInt(new java.math.BigInteger(
          grp.getBinary(field, 0).getBytes)))
    }
    // _temporary/dot-prefixed components skipped at EVERY level
    // (ADVICE r18 — crashed Spark appends leave task files under
    // `_temporary/...` whose leaves look like ordinary parts)
    for (f <- graft.sources.Sinks.listDataFiles(fs, p);
         grp <- graft.sources.Sinks.readParquetRows(spark, f.getPath)._2) {
      val tagged = grp.getType.containsField("batch_id")
      // duplicate-tag collapse: replicas of a replayed append are
      // bit-identical, so keeping the first seen is exact
      val skip = tagged && !seen.add(grp.getString("batch_id", 0))
      if (!skip) {
        nTotal += grp.getLong("n", 0)
        (gNames ++ bNames).foreach { name =>
          // n=0 rows carry NULL moments — skipped exactly as SQL sum
          // skips nulls
          if (grp.getFieldRepetitionCount(name) > 0)
            sums(name) = sums.getOrElse(name, BigInt(0)) +
              decodeUnscaled(grp, name).get
        }
      }
    }
    if (nTotal == 0L)
      return (Array.fill(d, d)(BigInt(0)), Array.fill(d)(BigInt(0)), 0L)
    val envelope = BigInt(10).pow(38)
    val g = Array.ofDim[BigInt](d, d)
    for (i <- 0 until d; j <- i until d) {
      val v = sums.getOrElse(s"g_${i}_$j", null)
      require(v != null && v.abs < envelope,
        "LinearProbe: Gram moment exceeds DECIMAL(38,0) envelope")
      g(i)(j) = v; g(j)(i) = v
    }
    val b = bNames.map { name =>
      val v = sums.getOrElse(name, null)
      require(v != null && v.abs < envelope,
        "LinearProbe: label moment exceeds DECIMAL(38,0) envelope")
      v
    }.toArray
    (g, b, nTotal)
  }

  /** The exact integer GD loop (driver-side, Gram-only). Returns the
    * scaled weights T — replayable term-for-term in SQL. */
  def fitFromGram(g: Array[Array[BigInt]], b: Array[BigInt], n: Long,
                  iters: Int, lrNum: Long = 1L, lrDen: Long = 4L,
                  featScale: Long = FeatScale,
                  thetaScale: Long = ThetaScale): Array[BigInt] = {
    val d = b.length
    require(iters >= 1 && lrNum > 0 && lrDen > 0,
      s"LinearProbe: bad iters/lr $iters $lrNum/$lrDen")
    require(thetaScale % featScale == 0,
      "LinearProbe: thetaScale must be a multiple of featScale")
    val s2 = BigInt(featScale) * BigInt(featScale)
    val pOverS = BigInt(thetaScale / featScale)
    val t = Array.fill(d)(BigInt(0))
    for (_ <- 1 to iters) {
      val u = Array.tabulate(d) { i =>
        (0 until d).map(j => g(i)(j) * t(j)).sum / s2 - pOverS * b(i)
      }
      for (i <- 0 until d) {
        t(i) = t(i) - (BigInt(lrNum) * u(i)) / (BigInt(lrDen) * BigInt(n))
        require(t(i).abs <= BigInt(ThetaBound) * BigInt(thetaScale),
          s"LinearProbe: |theta_$i| exceeded $ThetaBound — diverged; " +
            "lower lr or normalize features into [0,1]")
      }
    }
    t
  }

  /** Loud BigInt→Long conversion for fitted coefficients (the
    * ADVICE-r15 asymmetry: `BigInt.toLong` silently WRAPS out-of-range
    * values where the oracle's `CAST(... AS BIGINT)` errors — in
    * practice [[fitFromGram]]'s |θ| ≤ ThetaBound·thetaScale guard
    * bounds every coefficient well inside int64, so this keeps both
    * sides loud rather than fixing an observed bug). */
  def thetaLong(t: BigInt): Long = {
    require(t.isValidLong,
      s"LinearProbe: coefficient $t exceeds int64 — the |theta| <= " +
        s"$ThetaBound*thetaScale fit guard should have made this " +
        "unreachable")
    t.toLong
  }

  /** Fit end-to-end: scale → gram → integer GD. */
  def fit(df: DataFrame, featureCols: Seq[String], labelCol: Column,
          iters: Int, lrNum: Long = 1L, lrDen: Long = 4L): Array[BigInt] = {
    val s = scaled(df, featureCols, labelCol)
    val (gm, bv, n) = gram(s, featureCols.size + 1)
    fitFromGram(gm, bv, n, iters, lrNum, lrDen)
  }

  /** Score a [[scaled]] frame with learned weights: one projection,
    * exact longs — score_fp = (ΣF_j·T_j) div featScale at thetaScale
    * resolution. |ΣF_j·T_j| ≤ d·featScale·32·thetaScale ≈ 2.6e17 —
    * inside int64. `div` (IntegralDivide) keeps the arithmetic in
    * exact longs; a Column `/` would silently go double. */
  def scoreFp(scaledDf: DataFrame, d: Int, theta: Array[BigInt],
              featScale: Long = FeatScale): DataFrame = {
    val reserved = scaledDf.schema.fieldNames
      .filter(n => n == "__num" || n == "score_fp")
    require(reserved.isEmpty,
      s"LinearProbe: input already contains reserved column(s) " +
        s"${reserved.mkString(", ")} — rename or drop them first " +
        "(an existing score_fp would be silently replaced otherwise)")
    val num = (0 until d).map(j =>
      col(s"__f$j") * lit(thetaLong(theta(j)))).reduce(_ + _)
    scaledDf
      .withColumn("__num", num)
      .withColumn("score_fp", expr(s"__num div $featScale"))
      .drop("__num")
  }

  /** Exact ranking ROC-AUC of (score, label) under the deterministic
    * (score, id) total order — the engine's relational counterpart of
    * the reference's BinaryClassificationEvaluator (`spark.py:71-73`):
    * AUC = (Σ_{positives} rank − n₊(n₊+1)/2) / (n₊·n₋), the
    * Mann-Whitney U statistic of the induced ranking. Ties in score
    * are broken by id, so the statistic is a property of the exact
    * ranking the engine would actually emit (and hash-replays; a
    * 0.5-credit tie convention would too, but certifies a ranking no
    * consumer ever sees). Distributed rank via
    * [[Relational.globalRankAndRunningSum]] (range partition +
    * per-partition offsets — no single-partition window), then ONE
    * map-side-combined aggregation of Σrank over positives.
    * Returns one row (n_pos, n_neg, u_num, auc). */
  /** Per-group exact ranking AUC in ONE distributed rank pass: order
    * by (group, score, id) through [[Relational.globalRankAndRunningSum]]
    * — the group as leading key makes within-group order correct —
    * then lift global ranks back to within-group ranks by subtracting
    * the cumulative size of earlier groups (one bounded k-row collect,
    * the offsets idiom; k = #groups must be driver-small, which is the
    * point of a FOLD column). No PARTITION BY group window: with k ~ 5
    * folds each group is 1/k of the corpus — exactly the giant-group
    * shape the window discipline forbids. Returns one row per group
    * (group, n_pos, n_neg, u_num, auc), NULL auc for a one-class
    * group. */
  def groupedRankingAuc(scoredDf: DataFrame, groupCol: Column,
                        scoreCol: Column, idCol: Column,
                        labelCol: Column): DataFrame = {
    val (ranked0, _) = Relational.globalRankAndRunningSum(
      scoredDf.select(groupCol.cast("long").as("__g"),
        scoreCol.as("__s"), idCol.as("__id"),
        labelCol.cast("long").as("__y")),
      order = Seq(col("__g"), col("__s"), col("__id")),
      value = lit(1L), rankCol = "__rank", cumCol = "__cum")
    val ranked = ranked0.localCheckpoint(true)
    val sizes = ranked.groupBy(col("__g")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var off = 0L
    val offRows = sizes.map { case (g, n) =>
      val o = (g, off); off += n; o
    }.toSeq
    val spark = scoredDf.sparkSession
    import spark.implicits._
    val offs = offRows.toDF("__g", "__off")
    ranked.join(broadcast(offs), "__g")
      .select(col("__g"), col("__y"),
        (col("__rank") - col("__off")).as("__wr"))
      .groupBy(col("__g").as("fold"))
      .agg(sum(col("__y")).as("n_pos"),
        sum(lit(1L) - col("__y")).as("n_neg"),
        sum(when(col("__y") === 1L, col("__wr"))
          .otherwise(lit(0L))).as("rank_sum"))
      .select(col("fold"), col("n_pos"), col("n_neg"),
        expr("rank_sum - (n_pos * (n_pos + 1)) div 2").as("u_num"),
        expr("""CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE CAST(rank_sum - (n_pos * (n_pos + 1)) div 2 AS DOUBLE)
                     / CAST(n_pos * n_neg AS DOUBLE) END""").as("auc"))
  }

  /** Per-group Gram moments (one groupBy aggregation, k bounded
    * rows): Map group → (G, B, n). The additive complement of
    * [[gram]] — k-fold training Grams are total − fold, exact BigInt
    * subtraction, so ONE data pass serves all k leave-one-fold-out
    * fits. */
  def gramByGroup(scaledDf: DataFrame, d: Int, groupCol: Column):
      Map[Long, (Array[Array[BigInt]], Array[BigInt], Long)] = {
    val dec = "decimal(38,0)"
    val prods = for (i <- 0 until d; j <- i until d) yield
      sum((col(s"__f$i").cast(dec) * col(s"__f$j").cast(dec)).cast(dec))
        .as(s"g_${i}_$j")
    val bs = (0 until d).map(i =>
      sum((col(s"__f$i").cast(dec) * col("__y").cast(dec)).cast(dec))
        .as(s"b_$i"))
    val rows = scaledDf.groupBy(groupCol.cast("long").as("__g"))
      .agg(count(col("__y")).as("n"), (prods ++ bs): _*).collect()
    rows.map { row =>
      row.getAs[Long]("__g") -> parseGramRow(row, d)
    }.toMap
  }

  def rankingAuc(scoredDf: DataFrame, scoreCol: Column, idCol: Column,
                 labelCol: Column): DataFrame = {
    val (ranked, _) = Relational.globalRankAndRunningSum(
      scoredDf.select(scoreCol.as("__s"), idCol.as("__id"),
        labelCol.cast("long").as("__y")),
      order = Seq(col("__s"), col("__id")),
      value = lit(1L), rankCol = "__rank", cumCol = "__cum")
    ranked.agg(
        sum(col("__y")).as("n_pos"),
        sum(lit(1L) - col("__y")).as("n_neg"),
        sum(when(col("__y") === 1L, col("__rank"))
          .otherwise(lit(0L))).as("rank_sum"))
      // n_pos·(n_pos+1) is even so `div 2` is exact; Column `/`
      // would promote to double. All-one-class input → NULL auc
      // (no ranking to grade), never a 0/0.
      .select(col("n_pos"), col("n_neg"),
        expr("rank_sum - (n_pos * (n_pos + 1)) div 2").as("u_num"),
        expr("""CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE CAST(rank_sum - (n_pos * (n_pos + 1)) div 2 AS DOUBLE)
                     / CAST(n_pos * n_neg AS DOUBLE) END""").as("auc"))
  }
}
