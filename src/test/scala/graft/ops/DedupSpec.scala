package graft.ops

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"))   // exact dup of 1
    .toDF("doc_id", "text")

  test("exactDedup keeps min id per distinct text") {
    val got = Dedup.exactDedup(docs, "text", "doc_id")
      .select("keep_id", "n_copies")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("shingles: k=2 produces adjacent word pairs, distinct") {
    val got = Seq(("a b c b c", 0)).toDF("t", "i")
      .select(Dedup.shingles($"t", 2).as("sh"))
      .as[Seq[String]].collect()(0)
    assert(got.toSet === Set("a b", "b c", "c b"))
  }

  test("shingles and hashed_shingles: docs shorter than k yield empty sets, no error") {
    val df = Seq("solo", "a b").toDF("t")
    val str = df.select(Dedup.shingles($"t", 3).as("sh"))
      .as[Seq[String]].collect()
    assert(str(0) === Seq.empty && str(1) === Seq.empty)
    val fused = df.select(
      graft.functions.GraftFunctions.hashed_shingles($"t", 3).as("sh"))
      .as[Seq[Long]].collect()
    assert(fused(0) === Seq.empty && fused(1) === Seq.empty)
  }

  test("minhash signature is deterministic and length numHashes") {
    val sig = docs.select(
      Dedup.minhashSignature(
        Dedup.hashedShingles(Dedup.shingles($"text", 2)), 16).as("sig"))
      .as[Seq[Long]].collect()
    assert(sig.forall(_.size == 16))
    // identical texts -> identical signatures
    assert(sig(0) === sig(3))
    // near-dups share most minhashes
    val shared = sig(0).zip(sig(1)).count { case (a, b) => a == b }
    assert(shared >= 8, s"only $shared/16 minhashes shared")
  }

  test("minhashDedupPairs finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minhashDedupPairs(docs, "text", "doc_id",
      shingleK = 2, numHashes = 32, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact dup pair missed")
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L)), "near-dup pair missed")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc paired")
  }

  test("minhashDedupPairsMd5 finds exact and near dups like the xxhash64 " +
      "form, not unrelated docs") {
    val pairs = Dedup.minhashDedupPairsMd5(docs, "text", "doc_id",
      shingleK = 2, numHashes = 16, bands = 4, threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)), "exact dup pair missed")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc paired")
  }

  test("simhash: identical texts equal; near-dups within small hamming") {
    val sims = docs.select(Dedup.simhash64($"text").as("s")).as[Long].collect()
    assert(sims(0) === sims(3))
    val hamming = java.lang.Long.bitCount(sims(0) ^ sims(1))
    assert(hamming <= 16, s"near-dup hamming $hamming too large")
    val hammingFar = java.lang.Long.bitCount(sims(0) ^ sims(2))
    assert(hammingFar > hamming, "unrelated doc closer than near-dup")
  }

  test("duplicateSpans: repeated chunks flagged, unique docs at zero") {
    // 4-token chunks; doc 1 and 2 share their first 4-token chunk
    // exactly; doc 3 shares nothing; doc 4 == doc 1 entirely.
    val d = Seq(
      (1L, "a b c d e f g h"),        // chunks: "a b c d", "e f g h"
      (2L, "a b c d x y z w"),        // shares chunk 1 with doc 1
      (3L, "p q r s t u v n"),        // unique
      (4L, "a b c d e f g h"))        // exact dup of doc 1
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(d, "text", "doc_id", chunkTokens = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(5))).toMap
    assert(got(1L) === ((2L, 2L, 1.0)))          // both chunks duplicated
    assert(got(2L) === ((2L, 1L, 0.5)))          // first chunk only
    assert(got(3L) === ((2L, 0L, 0.0)))
    assert(got(4L) === ((2L, 2L, 1.0)))
  }

  test("duplicateSpansCdc: an edited near-copy keeps a high dup fraction " +
      "where fixed-stride collapses to the pre-edit prefix") {
    // 200-token doc and a copy with ONE token inserted mid-way
    val base = (1 to 200).map(i => s"tok$i").mkString(" ")
    val edited = ((1 to 100).map(i => s"tok$i") ++ Seq("INSERTED") ++
      (101 to 200).map(i => s"tok$i")).mkString(" ")
    val df = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    def frac(got: org.apache.spark.sql.DataFrame) = got.collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val cdc = frac(Dedup.duplicateSpansCdc(df, "text", "doc_id",
      targetTokens = 10))
    // CDC: every chunk except the edited one still matches
    assert(cdc(1L) > 0.7, s"CDC base frac ${cdc(1L)}")
    assert(cdc(2L) > 0.7, s"CDC edited frac ${cdc(2L)}")
    val fixed = frac(Dedup.duplicateSpans(df, "text", "doc_id",
      chunkTokens = 10))
    // fixed stride: only the chunks before the insertion can match
    assert(fixed(2L) < cdc(2L) - 0.3,
      s"fixed ${fixed(2L)} not far below CDC ${cdc(2L)}")
  }

  test("duplicateSpans: partial tail chunk counted, full token coverage") {
    val d = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(d, "text", "doc_id", chunkTokens = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    // 5 tokens → chunks of 4 + tail of 1; n_tokens must equal 5
    assert(got(1L) === ((2L, 5L, 4L)))  // "a b c d" shared, tail "e" unique
    assert(got(2L) === ((2L, 5L, 4L)))
  }

  test("removeDuplicateSpans: keep-first corpus-wide, docs reassembled " +
      "in chunk order, fully-duplicated doc becomes empty") {
    // chunks of 2 tokens: doc 1 = [a b][c d], doc 2 = [c d][e f] (its
    // first chunk repeats doc 1's second), doc 3 = [a b][c d] (every
    // chunk seen before -> empty), doc 4 unique with a partial tail
    val d = Seq(
      (1L, "a b c d"),
      (2L, "c d e f"),
      (3L, "a b c d"),
      (4L, "g h i")).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(d, "text", "doc_id",
        chunkTokens = 2)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got === Array(
      (1L, "a b c d", 2L, 2L, 4L, 0L),
      (2L, "e f", 2L, 1L, 4L, 2L),
      (3L, "", 2L, 0L, 4L, 4L),
      (4L, "g h i", 2L, 2L, 3L, 0L)))
  }

  test("removeDuplicateSpans: qualityCol keeps the occurrence in the " +
      "highest-quality doc; default stays keep-first") {
    // docs 1 and 3 share chunk [a b]; doc 3 has higher quality, so
    // under the quality policy IT keeps the chunk and doc 1 loses it.
    val d = Seq(
      (1L, "a b", 1.0),
      (2L, "c d", 5.0),
      (3L, "a b x", 9.0)).toDF("doc_id", "text", "q")
    def clean(qual: Option[String]) =
      Dedup.removeDuplicateSpans(d, "text", "doc_id", chunkTokens = 2,
          qualityCol = qual)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(clean(None) ===
      Seq((1L, "a b"), (2L, "c d"), (3L, "x")))
    assert(clean(Some("q")) ===
      Seq((1L, ""), (2L, "c d"), (3L, "a b x")))
  }

  test("removeDuplicateSpans: replayable md5 keys make the same decisions " +
      "as the xxhash64 production keys on the documents table") {
    val d = Tables.documents(spark, sf0001).limit(120)
    def run(replayable: Boolean) =
      Dedup.removeDuplicateSpans(d, "text", "doc_id", chunkTokens = 10,
          replayableKeys = replayable)
        .orderBy("doc_id").collect().toSeq
    assert(run(false) === run(true))
  }

  test("dedupAgainstSidecar: second batch drops exactly the overlap; " +
      "replay is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sidecar").toString
    val sidecar = s"$dir/fp"
    val batch1 = Seq(
      (1L, "alpha doc"), (2L, "beta doc"),
      (3L, "alpha doc"))               // within-batch dup of 1
      .toDF("doc_id", "text")
    val s1 = Dedup.dedupAgainstSidecar(batch1, "text", "doc_id", sidecar)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 === Set(1L, 2L))         // min id survives the in-batch dup

    val batch2 = Seq(
      (10L, "alpha doc"),              // seen in batch 1 → dropped
      (11L, "gamma doc"),              // new → kept
      (12L, "beta doc"))               // seen → dropped
      .toDF("doc_id", "text")
    val s2 = Dedup.dedupAgainstSidecar(batch2, "text", "doc_id", sidecar)
      .select("doc_id").as[Long].collect().toSet
    assert(s2 === Set(11L))

    // replaying batch 2 is a no-op: its fingerprints are now persisted
    val s3 = Dedup.dedupAgainstSidecar(batch2, "text", "doc_id", sidecar)
      .count()
    assert(s3 === 0L)

    // the sidecar accumulated exactly the 3 distinct fingerprints
    assert(spark.read.parquet(sidecar).distinct().count() === 3L)
  }

  test("dedupAgainstSidecar: null-text rows pass through untouched, are " +
      "never fingerprinted, and don't collapse into each other") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sidecar-null").toString
    val sidecar = s"$dir/fp"
    val batch = Seq(
      (1L, "real doc"),
      (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String]))   // must NOT be treated as a dup of 2
      .toDF("doc_id", "text")
    val s1 = Dedup.dedupAgainstSidecar(batch, "text", "doc_id", sidecar)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 === Set(1L, 2L, 3L))
    // sidecar holds only the real fingerprint — no null rows
    val fps = spark.read.parquet(sidecar)
    assert(fps.count() === 1L && fps.filter(col("fp").isNull).count() === 0L)
    // replay: the real doc is now seen; null-text rows still pass through
    val s2 = Dedup.dedupAgainstSidecar(batch, "text", "doc_id", sidecar)
      .select("doc_id").as[Long].collect().toSet
    assert(s2 === Set(2L, 3L))
  }

  test("nearDupAgainstSidecar: exact and near dups of the corpus drop, " +
      "novel and too-short docs survive; appends make replay idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mh").toString
    val sidecar = s"$dir/mh"
    val long1 = (1 to 40).map(i => s"tok$i").mkString(" ")
    val long2 = (1 to 40).map(i => s"other$i").mkString(" ")
    Dedup.writeMinhashSidecar(
      Seq((1L, long1), (2L, long2)).toDF("doc_id", "text"),
      "text", "doc_id", sidecar)
    val nearDup1 = ((1 to 39).map(i => s"tok$i") :+ "changed").mkString(" ")
    val novel = (1 to 40).map(i => s"fresh$i").mkString(" ")
    val batch = Seq(
      (10L, long1),     // exact dup of corpus 1 → estimator 1.0 → drop
      (11L, nearDup1),  // 1 of 40 tokens changed → high est → drop
      (12L, novel),     // disjoint vocabulary → survive
      (13L, "tiny"))    // < shingleK tokens: no signature → survive
      .toDF("doc_id", "text")
    val s1 = Dedup.nearDupAgainstSidecar(batch, "text", "doc_id", sidecar,
        threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 === Set(12L, 13L))
    // survivor 12's signature was appended: a near-dup of NOVEL in the
    // next shard now drops too
    val nearNovel = ((1 to 39).map(i => s"fresh$i") :+ "x").mkString(" ")
    val s2 = Dedup.nearDupAgainstSidecar(
        Seq((20L, nearNovel)).toDF("doc_id", "text"),
        "text", "doc_id", sidecar, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(s2 === Set.empty[Long])
    // replaying the first batch: signatures persisted → only the
    // no-signature row passes (the documented short-doc pass-through)
    val s3 = Dedup.nearDupAgainstSidecar(batch, "text", "doc_id", sidecar,
        threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(s3 === Set(13L))
    // schema contract: output columns == input columns
    assert(Dedup.nearDupAgainstSidecar(batch, "text", "doc_id", sidecar,
      threshold = 0.5, appendSurvivors = false).columns.toSeq
      === batch.columns.toSeq)
  }

  test("compactMinhashSidecar: one file per table, membership decisions " +
      "unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhc").toString
    val sidecar = s"$dir/mh"
    val long1 = (1 to 40).map(i => s"aa$i").mkString(" ")
    val long2 = (1 to 40).map(i => s"bb$i").mkString(" ")
    // two appends → two file sets per table
    Dedup.writeMinhashSidecar(Seq((1L, long1)).toDF("doc_id", "text"),
      "text", "doc_id", sidecar)
    Dedup.writeMinhashSidecar(Seq((2L, long2)).toDF("doc_id", "text"),
      "text", "doc_id", sidecar)
    val batch = Seq(
      (10L, ((1 to 39).map(i => s"aa$i") :+ "x").mkString(" ")), // near 1
      (11L, (1 to 40).map(i => s"cc$i").mkString(" ")))          // novel
      .toDF("doc_id", "text")
    def survivors() = Dedup.nearDupAgainstSidecar(batch, "text", "doc_id",
      sidecar, threshold = 0.5, appendSurvivors = false)
      .select("doc_id").as[Long].collect().toSet
    val before = survivors()
    Dedup.compactMinhashSidecar(spark, sidecar)
    def files(sub: String) = new java.io.File(s"$sidecar/$sub")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files("sigs") === 1 && files("bands") === 1 && files("stats") === 1)
    assert(survivors() === before)
    assert(before === Set(11L))
    // compaction re-aggregated stats: one row per (band, bucket), counts
    // equal to a from-scratch aggregation of the bands table
    val stats = spark.read.parquet(s"$sidecar/stats")
    assert(stats.groupBy("band", "bucket").count().filter($"count" > 1)
      .count() === 0L)
    val fromBands = spark.read.parquet(s"$sidecar/bands")
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
    assert(stats.except(fromBands).count() === 0L &&
      fromBands.except(stats).count() === 0L)
  }

  test("minhash sidecar stats table: write-side counts equal a from-scratch " +
      "bands aggregation; legacy sidecars (no stats) fall back with " +
      "identical survivors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhstats").toString
    val sidecar = s"$dir/mh"
    val mk = (p: String, n: Int) =>
      (1 to n).map(i => s"$p$i").mkString(" ")
    Dedup.writeMinhashSidecar(
      Seq((1L, mk("aa", 40)), (2L, mk("bb", 40))).toDF("doc_id", "text"),
      "text", "doc_id", sidecar)
    Dedup.writeMinhashSidecar(
      Seq((3L, mk("cc", 40))).toDF("doc_id", "text"),
      "text", "doc_id", sidecar)
    // increments sum to the true bucket counts
    val summed = spark.read.parquet(s"$sidecar/stats")
      .groupBy("band", "bucket").agg(sum("n").as("n"))
    val truth = spark.read.parquet(s"$sidecar/bands")
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
    assert(summed.except(truth).count() === 0L &&
      truth.except(summed).count() === 0L)
    // fallback parity: delete stats → same survivors through the
    // legacy re-aggregation path
    val batch = Seq(
      (10L, (((1 to 39).map(i => s"aa$i")) :+ "x").mkString(" ")),
      (11L, mk("dd", 40))).toDF("doc_id", "text")
    def survivors() = Dedup.nearDupAgainstSidecar(batch, "text", "doc_id",
      sidecar, threshold = 0.5, appendSurvivors = false)
      .select("doc_id").as[Long].collect().toSet
    val withStats = survivors()
    val fs = new org.apache.hadoop.fs.Path(s"$sidecar/stats")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$sidecar/stats"), true)
    assert(survivors() === withStats)
    assert(withStats === Set(11L))
    // compacting a legacy sidecar REBUILDS stats from bands
    Dedup.compactMinhashSidecar(spark, sidecar)
    // (re-read bands: compaction replaced the files behind the lazy plan)
    val truthAfter = spark.read.parquet(s"$sidecar/bands")
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
    val rebuilt = spark.read.parquet(s"$sidecar/stats")
      .groupBy("band", "bucket").agg(sum("n").as("n"))
    assert(rebuilt.except(truthAfter).count() === 0L &&
      truthAfter.except(rebuilt).count() === 0L)
  }

  test("nearDupAgainstSidecar scans the bands table ONCE per batch " +
      "(bucket stats come from the write-side stats table)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhscan").toString
    val sidecar = s"$dir/mh"
    Dedup.writeMinhashSidecar(
      Seq((1L, (1 to 40).map(i => s"aa$i").mkString(" ")))
        .toDF("doc_id", "text"),
      "text", "doc_id", sidecar)
    val batch = Seq((10L, (1 to 40).map(i => s"zz$i").mkString(" ")))
      .toDF("doc_id", "text")
    val plan = Dedup.nearDupSurvivorsPlan(batch, "text", "doc_id", sidecar,
      shingleK = 2, numHashes = 64, bands = 8, threshold = 0.7,
      bucketCap = 200)
    def scansOf(sub: String): Int =
      plan.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation
            if (l.relation match {
              case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
                h.location.rootPaths.exists(_.toString.contains(s"/$sub"))
              case _ => false
            }) => l
      }.size
    assert(scansOf("bands") === 1,
      s"bands table must be scanned once, got ${scansOf("bands")}")
    assert(scansOf("stats") === 1)
    assert(scansOf("sigs") === 1)
  }

  test("compactMinhashSidecar shares the ingest lock: a concurrent writer " +
      "excludes it (per-table locks alone would not)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhlock").toString
    val sidecar = s"$dir/mh"
    Dedup.writeMinhashSidecar(
      Seq((1L, (1 to 40).map(i => s"aa$i").mkString(" ")))
        .toDF("doc_id", "text"),
      "text", "doc_id", sidecar)
    graft.sources.Sinks.withDirLock(spark, sidecar, "ingest") {
      val e = intercept[IllegalStateException] {
        Dedup.compactMinhashSidecar(spark, sidecar)
      }
      assert(e.getMessage.contains("locked by another writer"))
    }
    // and the reverse: an ingest arriving mid-compaction fails loud too
    graft.sources.Sinks.withDirLock(spark, sidecar, "compacting") {
      intercept[IllegalStateException] {
        Dedup.writeMinhashSidecar(
          Seq((2L, (1 to 40).map(i => s"bb$i").mkString(" ")))
            .toDF("doc_id", "text"),
          "text", "doc_id", sidecar)
      }
    }
    Dedup.compactMinhashSidecar(spark, sidecar) // lock released → proceeds
  }

  test("minhash sidecar id contract: non-castable ids fail loud instead of " +
      "silently writing null-id rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mhid").toString
    val sidecar = s"$dir/mh"
    // numeric STRING ids are fine (cast succeeds)
    Dedup.writeMinhashSidecar(
      Seq(("7", (1 to 40).map(i => s"aa$i").mkString(" ")))
        .toDF("doc_id", "text"),
      "text", "doc_id", sidecar)
    assert(spark.read.parquet(s"$sidecar/sigs")
      .select("id").as[Long].collect().toSeq === Seq(7L))
    // non-numeric ids raise with the contract message
    val e = intercept[Exception] {
      Dedup.writeMinhashSidecar(
        Seq(("doc-abc", (1 to 40).map(i => s"bb$i").mkString(" ")))
          .toDF("doc_id", "text"),
        "text", "doc_id", sidecar)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("must be castable to BIGINT")),
      s"unexpected error: $e")
  }

  test("writeFingerprintSidecar seeds the sidecar from an existing corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sidecar2").toString
    val sidecar = s"$dir/fp"
    val corpus = Seq((1L, "seen one"), (2L, "seen two")).toDF("doc_id", "text")
    Dedup.writeFingerprintSidecar(corpus, "text", sidecar)
    val batch = Seq((10L, "seen one"), (11L, "fresh")).toDF("doc_id", "text")
    val got = Dedup.dedupAgainstSidecar(batch, "text", "doc_id", sidecar)
      .select("doc_id").as[Long].collect().toSet
    assert(got === Set(11L))
  }

  test("ngramJaccardPairs: jaccard 1.0 for exact dups, respects threshold") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleK = 2, threshold = 0.5, dfCap = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 4L)) === 1.0)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash pairs on real documents table are high-jaccard") {
    val pairs = Dedup.minhashDedupPairs(Tables.documents(spark, sf0001),
      "text", "doc_id", shingleK = 2, numHashes = 32, bands = 8, threshold = 0.2)
      .collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getDouble(2) >= 0.2))
  }

  test("bloom_might_contain: zero false negatives, false positives near fpp") {
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    (0 until 500).foreach(i =>
      graft.functions.BloomMightContain.put(bloom, s"key$i"))
    val got = spark.range(1000)
      .select(concat(lit("key"), col("id")).as("k"), col("id"))
      .select(col("id"),
        graft.functions.GraftFunctions.bloom_might_contain(col("k"), bloom)
          .as("m"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1)))
    // inserted keys can NEVER probe false
    assert(got.filter(_._1 < 500).forall(_._2))
    // absent keys probe true only at ~fpp
    val fp = got.filter(_._1 >= 500).count(_._2)
    assert(fp <= 25, s"$fp false positives of 500 at fpp=0.01")
  }

  test("sidecar bloom prefilter: survivors identical to the plain anti-join, " +
      "companion stays in sync across the ingest") {
    val base = java.nio.file.Files.createTempDirectory("sidecar_bloom").toString
    val dirBloom = s"$base/with"; val dirPlain = s"$base/without"
    val docs = Tables.documents(spark, sf0001)
    val seed = docs.filter(col("doc_id") % 2 === 0)
    Dedup.writeFingerprintSidecar(seed, "text", dirBloom)
    Dedup.writeFingerprintSidecar(seed, "text", dirPlain)
    Dedup.writeSidecarBloom(spark, dirBloom)
    val withBloom = Dedup.dedupAgainstSidecar(docs, "text", "doc_id",
        dirBloom, bloomPrefilter = true)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val plain = Dedup.dedupAgainstSidecar(docs, "text", "doc_id", dirPlain)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(withBloom === plain)
    assert(withBloom.nonEmpty)
    // after the ingest the companion must cover EVERY corpus
    // fingerprint (seeded + newly appended) — no false negatives left
    val bloom = Dedup.loadSidecarBloom(spark, dirBloom).get
    val missed = docs
      .select(md5(col("text")).as("fp"))
      .select(graft.functions.GraftFunctions
        .bloom_might_contain(col("fp"), bloom).as("m"))
      .filter(!col("m")).count()
    assert(missed === 0L)
  }

  test("compactSidecar: file count drops to one, fingerprint set and " +
      "membership semantics unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("sidecar_compact")
      .toString + "/sc"
    val docs = Tables.documents(spark, sf0001)
    // three ingests = three appended file sets
    (0 until 3).foreach { i =>
      Dedup.writeFingerprintSidecar(
        docs.filter(col("doc_id") % 3 === i && col("doc_id") % 2 === 0),
        "text", dir)
    }
    def files() = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    def fps() = spark.read.parquet(dir).select("fp")
      .collect().map(_.getString(0)).sorted.toSeq
    val before = fps()
    assert(files() >= 3)
    Dedup.compactSidecar(spark, dir)
    assert(files() === 1)
    assert(fps() === before)
    // membership against the compacted sidecar still drops seen texts
    val surv = Dedup.dedupAgainstSidecar(docs, "text", "doc_id", dir)
    assert(surv.filter(col("doc_id") % 2 === 0).count() === 0)
    assert(surv.count() > 0)
  }

  test("corpusDiff labels added/removed/changed/unchanged exactly") {
    val old_ = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val new_ = Seq((1L, "alpha"), (2L, "beta v2"), (4L, "delta"))
      .toDF("doc_id", "text")
    val got = Dedup.corpusDiff(old_, new_, "doc_id", "text")
      .orderBy($"doc_id")
      .select($"doc_id", $"status").as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added")))
    // digests present exactly on the sides where the row exists
    val digests = Dedup.corpusDiff(old_, new_, "doc_id", "text")
      .orderBy($"doc_id")
      .select($"old_digest".isNotNull, $"new_digest".isNotNull)
      .as[(Boolean, Boolean)].collect().toSeq
    assert(digests === Seq((true, true), (true, true),
      (true, false), (false, true)))
  }

  test("corpusDiff treats null text on both sides as unchanged") {
    val old_ = Seq((1L, null.asInstanceOf[String]), (2L, "x"))
      .toDF("doc_id", "text")
    val new_ = Seq((1L, null.asInstanceOf[String]), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = Dedup.corpusDiff(old_, new_, "doc_id", "text")
      .orderBy($"doc_id").select($"status").as[String].collect().toSeq
    assert(got === Seq("unchanged", "changed"))
  }

  test("editDistancePairs: planted typo'd copy found with exact distance, " +
      "reordered-token pair scores low sim, distant pair excluded") {
    val docs = Seq(
      // shares the 12-char normalized prefix with 1; two char edits
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy cat tonight"),
      // same prefix but pushed past maxDist by a long suffix change
      (3L, "the quick brown fox " + ("x" * 80)),
      // different prefix entirely — never paired with the above
      (4L, "completely unrelated content here")
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "text", "doc_id",
        prefixLen = 12, maxDist = 10, blockCap = 10)
      .orderBy($"id_a", $"id_b")
      .select($"id_a", $"id_b", $"dist")
      .as[(Long, Long, Long)].collect().toSeq
    // dog→cat is 3 substitutions; doc 3 is past the band (levenshtein
    // threshold form returns -1 → filtered); doc 4 blocks alone
    assert(got === Seq((1L, 2L, 3L)))
  }

  test("editDistancePairs: normalization makes formatting noise free " +
      "(dist 0 for a case/punctuation variant)") {
    val docs = Seq(
      (1L, "Hello, World! This is Fine."),
      (2L, "hello world  this is fine")
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "text", "doc_id",
        prefixLen = 8, maxDist = 5, blockCap = 10)
      .select($"id_a", $"id_b", $"dist", $"sim")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got === Seq((1L, 2L, 0L, 1.0)))
  }

  test("editDistancePairs: blockCap drops a hot boilerplate block") {
    val hot = (1L to 20L).map(i => (i, s"same boilerplate prefix doc $i"))
    val cold = Seq((100L, "rare prefix one alpha"), (101L, "rare prefix one alphb"))
    val docs = (hot ++ cold).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(docs, "text", "doc_id",
        prefixLen = 12, maxDist = 10, blockCap = 10)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSeq
    // the 20-doc block exceeds the cap → contributes no pairs; the
    // 2-doc block survives
    assert(got === Seq((100L, 101L)))
  }

  test("splitLeakageAudit reports only cross-side near-dup pairs, oriented " +
      "(train_id, test_id)") {
    // two near-dup pairs; force the sides via the known md5-uniform
    // decision so the spec doesn't depend on luck: compute each doc's
    // side the same way the operator does and assert orientation
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),   // near-dup of 1
      (3L, "one two three four five"),
      (4L, "one two three four six")         // near-dup of 3
    ).toDF("doc_id", "text")
    val side = Relational.groupAwareSplit(docs.select($"doc_id"),
        group = $"doc_id", testFraction = 0.5)
      .as[(Long, Boolean)].collect().toMap
    val got = Dedup.splitLeakageAudit(docs, "text", "doc_id",
        testFraction = 0.5, shingleK = 2, threshold = 0.2, dfCap = 20)
      .select($"train_id", $"test_id", $"jaccard")
      .as[(Long, Long, Double)].collect().toSeq
    val expected = Seq((1L, 2L), (3L, 4L)).flatMap { case (a, b) =>
      if (side(a) == side(b)) None
      else if (side(a)) Some((b, a)) else Some((a, b))
    }
    assert(got.map(t => (t._1, t._2)).sorted === expected.sorted)
    got.foreach { case (tr, te, j) =>
      assert(!side(tr) && side(te) && j >= 0.2)
    }
  }

  test("nearDupEval: planted near-dup pair is found by both generators, " +
      "counts are internally consistent, distinct docs add nothing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),   // near-dup of 1
      (3L, "one two three four five six seven"),
      (4L, "totally different words here entirely now"),
      (5L, "unrelated content again nothing shared at all"))
      .toDF("doc_id", "text")
    val r = Dedup.nearDupEval(docs, "text", "doc_id",
      shingleK = 2, numHashes = 16, bands = 4, threshold = 0.5,
      dfCap = 20, bucketCap = 200).collect()(0)
    val (nc, nv, nr, ncom, nx) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    // the planted pair shares 4 of 6 bigrams (J = 4/7 >= 0.5): the
    // reference's rare-gram index must find it, and at 16 hashes / 4
    // bands the banding surfaces it with overwhelming probability —
    // both deterministic given the md5 hash family, so exact asserts
    assert(nr === 1L && ncom === 1L && nv >= 1L)
    // consistency: common <= min(verified, reference); extra = verified - common
    assert(ncom <= math.min(nv, nr) && nx === nv - ncom)
    assert(r.getDouble(6) === 1.0) // reference_recall
    // precision well-defined and bounded
    assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0 && nc >= nv)
  }

  /** Driver-side ground truth for prefixJaccardPairs: collapse
    * identical shingle sets to (min id, multiplicity), then naive
    * all-pairs exact Jaccard with the integer threshold test. */
  private def naivePrefixJaccard(rows: Seq[(Long, String)], k: Int,
      num: Long, den: Long): Set[(Long, Long, Long, Long, Double)] = {
    def sh(t: String): Set[String] = {
      val ts = t.split(" ", -1).toSeq
      if (k == 1) ts.toSet
      else if (ts.size < k) Set.empty
      else ts.sliding(k).map(_.mkString(" ")).toSet
    }
    val grp = rows.map { case (id, t) => (id, sh(t)) }
      .filter(_._2.nonEmpty)
      .groupBy(_._2).map { case (s, g) =>
        (g.map(_._1).min, s, g.size.toLong) }.toSeq
    (for {
      (ia, sa, na) <- grp; (ib, sb, nb) <- grp if ia < ib
      inter = (sa & sb).size.toLong
      uni = sa.size + sb.size - inter
      if den * inter >= num * uni
    } yield {
      val (x, y, nx, ny) = if (ia < ib) (ia, ib, na, nb) else (ib, ia, nb, na)
      (x, y, nx, ny, inter.toDouble / uni)
    }).toSet
  }

  test("prefixJaccardPairs equals naive all-pairs exact Jaccard (complete, " +
      "no false positives) on an overlapping-vocab fixture, k=2 and k=1") {
    import spark.implicits._
    val rows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different content about spark engines"),
      (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
      (5L, "the quick brown fox leaps over the lazy dog"),
      (6L, "spark engines content about completely different"), // perm of 3
      (7L, "a b c d e f"),
      (8L, "a b c d e g"),
      (9L, "x y"),
      (10L, "solo"))
    val df = rows.toDF("doc_id", "text")
    for (k <- Seq(2, 1)) {
      val got = Dedup.prefixJaccardPairs(df, "text", "doc_id",
          shingleK = k, thresholdNum = 3, thresholdDen = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).toSet
      val want = naivePrefixJaccard(rows, k, 3, 10)
      assert(got === want, s"k=$k mismatch: got $got want $want")
      assert(want.nonEmpty, s"k=$k fixture must exercise the join")
    }
  }

  test("prefixJaccardPairs: exact-collapse multiplicities; identical and " +
      "permuted sets never pair with themselves") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f"),   // exact dup of 1
      (3L, "f e d c b a"),   // same WORD SET as 1 (k=1 collapse)
      (4L, "a b c d e g"))
      .toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(df, "text", "doc_id",
        shingleK = 1, thresholdNum = 3, thresholdDen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // docs 1,2,3 share one word set {a..f}: one representative (id 1,
    // n=3); the only pair is (1,4) with J = 5/7
    assert(got.toSeq === Seq((1L, 4L, 3L, 1L, 5.0 / 7)))
  }

  test("prefixJaccardPairs: integer threshold test is exact at the boundary") {
    import spark.implicits._
    // J(1,2) = 3/10 exactly (inter 3, union 10) -> kept at >= 3/10;
    // J(1,3) = 3/11 -> dropped
    val df = Seq(
      (1L, "x y z a1 a2 a3"),
      (2L, "x y z b1 b2 b3 b4"),
      (3L, "x y z c1 c2 c3 c4 c5"))
      .toDF("doc_id", "text")
    val got = Dedup.prefixJaccardPairs(df, "text", "doc_id",
        shingleK = 1, thresholdNum = 3, thresholdDen = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    assert(got.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0.3),
      s"boundary pair missing from $got")
    assert(!got.exists(p => p._1 == 1L && p._2 == 3L), s"sub-threshold pair kept: $got")
  }

  test("containmentPairs: finds the quote-inside-a-long-doc case Jaccard misses") {
    // doc 1 = 5 tokens, fully contained in doc 2 (25 tokens):
    // C(1→2) = 1.0 but Jaccard = 5/25 = 0.2 — q192 at t=0.3 drops it
    val quote = "q1 q2 q3 q4 q5"
    val long = quote + " " + (1 to 20).map(i => s"f$i").mkString(" ")
    val df = Seq((1L, quote), (2L, long), (3L, "zz1 zz2 zz3"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "text", "doc_id",
        shingleK = 1, thresholdNum = 8, thresholdDen = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    assert(got === Map((1L, 2L) -> 1.0), s"got $got")
    // asymmetry: C(2→1) = 5/25 = 0.2 — absent; doc 3 unrelated — absent
    val jac = Dedup.prefixJaccardPairs(df, "text", "doc_id",
        shingleK = 1, thresholdNum = 3, thresholdDen = 10)
      .collect()
    assert(jac.isEmpty, "the same pair is invisible to a 0.3 Jaccard join")
  }

  test("containmentPairs: exact threshold boundary and collapse multiplicities") {
    // src has 10 tokens, 8 shared with dst → C = 8/10 = exactly 0.8 kept;
    // src2 has 10 tokens, 7 shared → 0.7 dropped at t = 8/10
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    val df = Seq(
      (1L, shared + " a1 a2"),
      (2L, shared + " b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11 b12"),
      (3L, (1 to 7).map(i => s"s$i").mkString(" ") + " c1 c2 c3"),
      (4L, shared + " a1 a2")) // duplicate of doc 1 → multiplicity 2
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "text", "doc_id",
        shingleK = 1, thresholdNum = 8, thresholdDen = 10)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(got.contains((1L, 2L)), s"exact-boundary 0.8 pair must be kept: $got")
    assert(got((1L, 2L)) === ((2L, 1L, 0.8)), "src multiplicity counts doc 4")
    assert(!got.keySet.exists(p => p._1 == 3L), "0.7 < 0.8 dropped")
  }
}
