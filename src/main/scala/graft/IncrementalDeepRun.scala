package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-shot deep-shard harness for the incremental curation pipeline
  * (round 15, extended round 16 — the [[KCoreDeepRun]] discipline
  * applied to q221): the registry's q221 certifies shard-by-shard ≡
  * one-shot at THREE shards and never compacts mid-stream; the
  * operational regime a 100 TB corpus actually runs is MANY shards
  * arriving over weeks with sidecar compaction on a cadence — and,
  * eventually, a takedown that must forget an already-ingested shard.
  * This main blows the corpus up `SPARK_GRAFT_SCALE_COPIES`× (the
  * [[ScaleBench]] construction — 10×-duplicated, deliberately
  * adversarial for the dedup stages), splits it into
  * `SPARK_GRAFT_INCR_SHARDS` monotone doc_id shards, and runs:
  *
  *  - RUN A (the r15 certificate): every shard through
  *    [[graft.ops.CurationPipeline.ingestShard]], the guarded
  *    [[graft.ops.CurationPipeline.compactState]] every
  *    `SPARK_GRAFT_INCR_COMPACT_EVERY` shards INCLUDING the final
  *    boundary (the r15 ADVICE gap: the last-shard compaction was
  *    never exercised), one finalize — digest must equal the one-shot
  *    q218 plan over the same blown corpus. Ingest and compaction
  *    walls are timed SEPARATELY (the other r15 ADVICE item: the
  *    flat-ingest claim is now measured clean of compaction cost).
  *  - RUN B (round 16 — the interleaved-deletion certificate): ingest
  *    shards 0..`FORGET_AFTER`, then forget shard `FORGET_SHARD` by
  *    REWIND-AND-REPLAY ([[graft.ops.CurationPipeline.retractShard]]
  *    on the target and every later shard — exact even though their
  *    Gram rows were cadence-compacted away, because retraction
  *    subtracts by negated-moment append — then re-ingest the later
  *    shards under fresh ids), continue ingesting the remaining
  *    shards, finalize.
  *  - RUN C (comparator): a fresh pipeline over the surviving shards
  *    in arrival order — same frozen registry, same full-corpus
  *    feature frame (corpus-relative signals come from the upstream
  *    feature pipeline ONCE; a re-derivation over the shrunken corpus
  *    would be a DIFFERENT pipeline — the q222 note). Run B's digest
  *    must equal run C's: the rewind left no trace of the forgotten
  *    shard and resurrected the later shards' documents its digests
  *    had suppressed.
  *
  *  - RUN D + E (round 18): RUN B's forgetting certificate repeated
  *    under the UNICODE normalizer over the q225-style multilingual
  *    variant corpus — tombstoned reads over unicode digests,
  *    fresh-id re-admission of CJK/Cyrillic-class documents, cadenced
  *    compaction dropping retracted unicode tags — against a
  *    from-scratch unicode comparator (`unicode_forget_identical`).
  *
  * Rewind cost is ∝ data ingested since the deletion target — the
  * standard unlearning recency tradeoff; the O(1) trainer-state-only
  * forget is q223's path. Since round 17 each retraction itself is
  * ∝ the SHARD (tombstone + negated Gram row + partition delete —
  * no digest/chunk rewrite; `retract_sec` spans `retract_shards`
  * retractions), with the physical tombstone drop riding the next
  * cadenced compaction. What only this depth can expose: per-shard
  * ingest walls flat as sidecars grow, cadenced compaction
  * semantics-free across every sidecar family at once, and the
  * retract/replay machinery composing with compaction (per-batch
  * digest/chunk tags survive it; Gram identity is recovered by
  * subtraction).
  *
  * Not part of the query registry: measurement harness, not an
  * operator. Prints one JSON line for the round artifact, carrying the
  * run A, B and D output digests (`digest`, `forget_digest`,
  * `unicode_forget_digest`), so two builds' lines can be compared
  * directly. */
object IncrementalDeepRun {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val shards = sys.env.getOrElse("SPARK_GRAFT_INCR_SHARDS", "16").toInt
    val compactEvery =
      sys.env.getOrElse("SPARK_GRAFT_INCR_COMPACT_EVERY", "4").toInt
    val forgetShard =
      sys.env.getOrElse("SPARK_GRAFT_INCR_FORGET_SHARD", "7").toInt
    val forgetAfter =
      sys.env.getOrElse("SPARK_GRAFT_INCR_FORGET_AFTER", "12").toInt
    require(shards >= 2 && compactEvery >= 1)
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.ops.CurationPipeline
    import graft.sources.Tables

    // Documents-only blow-up with a 19-DIVISIBLE id stride (2^33
    // rounded up to the next multiple of 19): q218's holdout rule is
    // `doc_id % 19 = 0`, and the generic ScaleBench stride (2^33 ≡ 12
    // mod 19) re-rolls holdout membership per copy — the frozen
    // eval-gram registry then unions 10 DIFFERENT holdout samples and
    // decontam at the synthetic-vocabulary threshold drops ~the whole
    // corpus (a degenerate 1-row run, observed). A multiple-of-19
    // stride keeps every copy's holdout set the verbatim base one, so
    // the registry — and the pipeline's selectivity — match the base
    // corpus while the dedup stages still face full 10× duplication.
    val stride = ((1L << 33) / 19 + 1) * 19
    val blownDir = s"target/tmp/incrdeep_docs_x$copies"
    if (!sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1") ||
        !new java.io.File(s"$blownDir/documents.parquet").exists()) {
      val base = spark.read.parquet(s"$sfDir/documents.parquet")
      (0 until copies).map(i => base.withColumn("doc_id",
          col("doc_id") + lit(i * stride)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$blownDir/documents.parquet")
    }

    def digestOf(df: DataFrame): (Long, Long) = {
      val cols = df.columns.map(c => col(c).cast("string"))
      val row = df.agg(
        sum(crc32(concat_ws("|", cols: _*))).as("digest"),
        count(lit(1)).as("n")).collect()(0)
      (row.getLong(0), row.getLong(1))
    }

    // ---- one-shot side: the registered q218 plan over the blown dir
    val t0 = System.nanoTime()
    val (dOne, nOne) = digestOf(
      SparkEntry.queries("q218_curation_pipeline")(spark, blownDir))
    val oneShotSec = (System.nanoTime() - t0) / 1e9

    val docs = Tables.documents(spark, blownDir)
    val holdout = col("doc_id") % 19 === 0
    // the upstream feature pipeline runs once over the full corpus
    // (corpus-relative signals are its job — the writeGramSidecar
    // contract q218/q221 document); shards carry its scaled longs
    val withFeats = docs.select(col("doc_id"), col("source"), col("text"))
      .join(graft.queries.CurationQueries.probeScaled(spark, blownDir),
        "doc_id")
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // exact-quantile monotone cuts (equal-COUNT shards): the blown id
    // space is striped — each copy occupies a tiny prefix of its
    // stride block — so equal-WIDTH cuts land mostly in dead zones
    // (observed: half the shards empty). Monotonicity (the
    // equivalence contract's only requirement) holds for any
    // nondecreasing cut set, so take exact doc_id quantiles.
    val cuts = Seq(Long.MinValue) ++
      docs.stat.approxQuantile("doc_id",
        (1 until shards).map(_.toDouble / shards).toArray, 0.0)
        .map(_.toLong).toSeq.distinct.sorted ++
      Seq(Long.MaxValue)
    val nShards = cuts.size - 1
    require(forgetShard >= 0 && forgetShard < forgetAfter &&
      forgetAfter < nShards,
      s"need 0 <= FORGET_SHARD < FORGET_AFTER < $nShards")
    def shardFrame(k: Int): DataFrame =
      withFeats.filter(col("doc_id") >= cuts(k) && col("doc_id") < cuts(k + 1))

    // ---- RUN A: full corpus, cadenced GUARDED compaction including
    // the final boundary; ingest and compaction timed separately
    val dirsA = CurationPipeline.Dirs(s"target/tmp/incrdeep_x$copies")
    CurationPipeline.init(spark, dirsA, docs.filter(holdout))
    val ingestWalls = Array.fill(nShards)(0.0)
    val compactWalls = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    (0 until nShards).foreach { k =>
      val t = System.nanoTime()
      CurationPipeline.ingestShard(shardFrame(k), dirsA, holdout, s"s$k")
      ingestWalls(k) = (System.nanoTime() - t) / 1e9
      if ((k + 1) % compactEvery == 0) {
        val tc = System.nanoTime()
        CurationPipeline.compactState(spark, dirsA)
        compactWalls += ((k, (System.nanoTime() - tc) / 1e9))
      }
    }
    val tf = System.nanoTime()
    val (dInc, nInc) =
      digestOf(CurationPipeline.finalizePipeline(spark, dirsA))
    val finalizeSec = (System.nanoTime() - tf) / 1e9
    require(dInc == dOne && nInc == nOne,
      s"incremental deep run diverged from one-shot: " +
        s"incremental=($dInc,$nInc) oneshot=($dOne,$nOne)")

    // ---- RUN B: interleaved deletion — ingest 0..forgetAfter, rewind
    // out the forget target, replay, continue, finalize
    val dirsB = CurationPipeline.Dirs(s"target/tmp/incrdeep_forget_x$copies")
    CurationPipeline.init(spark, dirsB, docs.filter(holdout))
    var ingestedB = 0
    def ingestB(k: Int, id: String): Unit = {
      CurationPipeline.ingestShard(shardFrame(k), dirsB, holdout, id)
      ingestedB += 1
      if (ingestedB % compactEvery == 0)
        CurationPipeline.compactState(spark, dirsB)
    }
    (0 to forgetAfter).foreach(k => ingestB(k, s"s$k"))
    val tr = System.nanoTime()
    // rewind: retract the target and everything after it (their keep
    // decisions may depend on the target's sidecar rows) ...
    (forgetShard to forgetAfter).foreach(k =>
      CurationPipeline.retractShard(spark, dirsB, s"s$k", shardFrame(k)))
    val retractSec = (System.nanoTime() - tr) / 1e9
    val tp = System.nanoTime()
    // ... and replay the non-target tail in order, under fresh ids
    // (ids are idempotence keys — never reused for a re-decision)
    (forgetShard + 1 to forgetAfter).foreach(k => ingestB(k, s"s$k#2"))
    val replaySec = (System.nanoTime() - tp) / 1e9
    (forgetAfter + 1 until nShards).foreach(k => ingestB(k, s"s$k"))
    val (dB, nB) = digestOf(CurationPipeline.finalizePipeline(spark, dirsB))

    // ---- RUN C: from-scratch comparator over the surviving shards
    val dirsC = CurationPipeline.Dirs(s"target/tmp/incrdeep_survivors_x$copies")
    CurationPipeline.init(spark, dirsC, docs.filter(holdout))
    (0 until nShards).filter(_ != forgetShard).foreach(k =>
      CurationPipeline.ingestShard(shardFrame(k), dirsC, holdout, s"s$k"))
    val (dC, nC) = digestOf(CurationPipeline.finalizePipeline(spark, dirsC))
    require(dB == dC && nB == nC,
      s"forget-and-rewind diverged from from-scratch over survivors: " +
        s"rewound=($dB,$nB) fromscratch=($dC,$nC)")

    // ---- RUN D (round 18, the r17 verdict's #5 ask): RUN B's
    // forgetting certificate under the UNICODE normalizer over the
    // multilingual variant corpus (q225's construction applied to the
    // blown documents — a per-row projection, so the feature frame and
    // monotone cuts are shared verbatim). What only this run composes:
    // tombstoned reads over UNICODE digests, fresh-id re-admission of
    // CJK-class documents, and cadenced compaction physically dropping
    // retracted unicode tags — the round-17 retraction machinery and
    // the round-17 multilingual machinery exercised TOGETHER at depth.
    val withFeatsU = withFeats.withColumn("text",
      graft.queries.CurationQueries.variantText(col("text"), col("doc_id")))
    def shardFrameU(k: Int): DataFrame =
      withFeatsU.filter(col("doc_id") >= cuts(k) && col("doc_id") < cuts(k + 1))
    val uniNorm: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      graft.ops.TextAnalysis.normalizeTextUnicode(_)
    val vHoldout = withFeatsU.filter(holdout)
      .select(col("doc_id"), col("source"), col("text"))
    val dirsD = CurationPipeline.Dirs(s"target/tmp/incrdeep_uforget_x$copies")
    CurationPipeline.init(spark, dirsD, vHoldout)
    var ingestedD = 0
    def ingestD(k: Int, id: String): Unit = {
      CurationPipeline.ingestShard(shardFrameU(k), dirsD, holdout, id,
        normalize = uniNorm)
      ingestedD += 1
      if (ingestedD % compactEvery == 0)
        CurationPipeline.compactState(spark, dirsD)
    }
    (0 to forgetAfter).foreach(k => ingestD(k, s"s$k"))
    val tru = System.nanoTime()
    (forgetShard to forgetAfter).foreach(k =>
      CurationPipeline.retractShard(spark, dirsD, s"s$k", shardFrameU(k)))
    val uRetractSec = (System.nanoTime() - tru) / 1e9
    (forgetShard + 1 to forgetAfter).foreach(k => ingestD(k, s"s$k#2"))
    (forgetAfter + 1 until nShards).foreach(k => ingestD(k, s"s$k"))
    val (dD, nD) = digestOf(CurationPipeline.finalizePipeline(spark, dirsD))

    // ---- RUN E: from-scratch unicode comparator over the survivors
    val dirsE = CurationPipeline.Dirs(
      s"target/tmp/incrdeep_usurvivors_x$copies")
    CurationPipeline.init(spark, dirsE, vHoldout)
    (0 until nShards).filter(_ != forgetShard).foreach(k =>
      CurationPipeline.ingestShard(shardFrameU(k), dirsE, holdout, s"s$k",
        normalize = uniNorm))
    val (dE, nE) = digestOf(CurationPipeline.finalizePipeline(spark, dirsE))
    require(dD == dE && nD == nE,
      s"unicode forget-and-rewind diverged from from-scratch over " +
        s"survivors: rewound=($dD,$nD) fromscratch=($dE,$nE)")

    val wallsJson = ingestWalls.map(w => f"$w%.3f").mkString("[", ",", "]")
    val compactJson = compactWalls
      .map { case (k, w) => f"""{"after_shard":$k,"sec":$w%.3f}""" }
      .mkString("[", ",", "]")
    println(f"""{"metric":"incremental_deep","copies":$copies,""" +
      f""""shards":$nShards,"compact_every":$compactEvery,""" +
      f""""output_rows":$nInc,"oneshot_sec":$oneShotSec%.3f,""" +
      f""""ingest_sec_per_shard":$wallsJson,""" +
      f""""compact_sec":$compactJson,""" +
      f""""ingest_total_sec":${ingestWalls.sum}%.3f,""" +
      f""""finalize_sec":$finalizeSec%.3f,"identical":true,""" +
      f""""digest":$dInc,"forget_digest":$dB,"unicode_forget_digest":$dD,""" +
      f""""deletions":1,"forget_shard":$forgetShard,""" +
      f""""forget_after":$forgetAfter,"retract_sec":$retractSec%.3f,""" +
      f""""retract_shards":${forgetAfter - forgetShard + 1},""" +
      f""""replay_sec":$replaySec%.3f,""" +
      f""""forget_rows":$nB,"forget_identical":true,""" +
      f""""unicode_retract_sec":$uRetractSec%.3f,""" +
      f""""unicode_forget_rows":$nD,"unicode_forget_identical":true}""")
    spark.stop()
  }
}
