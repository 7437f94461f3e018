package graft.ops

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  lazy val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(1.0f, 0.1f, 0.0f, 0.0f)),   // nearly parallel to 0
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),   // orthogonal
    (3L, Seq(-1.0f, 0.0f, 0.0f, 0.0f)),  // opposite
    (4L, Seq(0.9f, 0.1f, 0.1f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("cosine: parallel=1, orthogonal=0, opposite=-1") {
    val a = array(lit(1.0), lit(0.0))
    val sims = Seq(
      (Seq(2.0, 0.0), 1.0), (Seq(0.0, 3.0), 0.0), (Seq(-1.0, 0.0), -1.0))
    sims.foreach { case (v, want) =>
      val got = spark.range(1)
        .select(Similarity.cosine(a, array(v.map(lit): _*)).as("c"))
        .as[Double].collect()(0)
      assert(math.abs(got - want) < 1e-12, s"$v -> $got, want $want")
    }
  }

  test("cosineTopK ranks nearest first, excludes the query itself") {
    val got = Similarity.cosineTopK(vecs, "vec_id", "embedding", 0L, 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.head === 1L)     // most parallel
    assert(got(1) === 4L)
    assert(!got.contains(0L))
  }

  test("lshBucket is deterministic; identical vectors share a bucket") {
    val planes = Similarity.hyperplanes(4, 4)
    val b = vecs.select(Similarity.lshBucket($"embedding".cast("array<double>"),
      planes).as("b")).as[Long].collect()
    assert(b(0) === vecs.select(Similarity.lshBucket(
      $"embedding".cast("array<double>"), planes).as("b")).as[Long].collect()(0))
    // near-parallel vectors 0 and 1 should agree on all sign bits here
    assert(b(0) === b(1))
  }

  test("lshCosineTopK on real embeddings returns k rows from the query bucket") {
    val got = Similarity.lshCosineTopK(Tables.embeddings(spark, sf0001),
      "vec_id", "embedding", 0L, 10, bits = 4, dim = 64).collect()
    assert(got.length === 10)
    assert(got.map(_.getLong(2)).distinct.length === 1) // one bucket
  }

  test("ivfCosineTopK returns k rows with decent recall vs exact top-k") {
    val exact = Similarity.cosineTopK(Tables.embeddings(spark, sf0001),
      "vec_id", "embedding", 0L, 10)
      .select("vec_id").as[Long].collect().toSet
    val ivf = Similarity.ivfCosineTopK(Tables.embeddings(spark, sf0001),
      "vec_id", "embedding", 0L, 10, nlist = 8, nprobe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.size === 10)
    // probing half the cells should recover a good chunk of the true top-10
    assert((exact & ivf).size >= 3, s"recall too low: ${(exact & ivf).size}/10")
  }

  test("annJoinIvfStored: scan pruned to probed cells, parity with the " +
      "in-memory batch IVF join") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter($"vec_id" % 100 === 0)
    // live-fit centroids and the committed q130 fixture's run the
    // same serving code
    val live = Similarity.fitIvfCentroids(emb, "vec_id", "embedding",
      nlist = 8)
    val fixture = graft.queries.ScaleQueries
      .ivfFixture(Similarity.ivfCorpusKey(emb))
    Seq(live, fixture).foreach { cents =>
      val dir = java.nio.file.Files.createTempDirectory("ivf_index_batch")
        .toString
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", dir, cents)
      val stored = Similarity.annJoinIvfStored(spark, dir, queries,
        "vec_id", "embedding", k = 5, nprobe = 4)
      stored.collect()
      // the probed-cell literal filter must prune index directories
      val scan = stored.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      assert(scan.contains("PartitionFilters") && scan.contains("cell"),
        scan.take(500))
      // same centroids -> same cells -> identical output
      val inMem = Similarity.annJoinIvf(queries, emb, "vec_id", "embedding",
        k = 5, centroids = cents, nprobe = 4)
      assert(stored.orderBy("query_id", "rnk").collect().map(_.toString).toSeq ===
        inMem.orderBy("query_id", "rnk").collect().map(_.toString).toSeq)
      assert(stored.count() > 0)
    }
  }

  test("fitIvfCentroids cacheKey memoizes: the second call returns the " +
      "same object") {
    val emb = Tables.embeddings(spark, sf0001)
    def fit() = Similarity.fitIvfCentroids(emb, "vec_id", "embedding",
      nlist = 8, cacheKey = Some(s"$sf0001/embeddings"))
    val first = fit()
    assert(fit() eq first)
  }

  test("q130 centroid fixture: the live MLlib fit still reproduces the " +
      "committed centroids (the trust-the-fit-ONCE seam — an MLlib or " +
      "layout drift fails HERE, not silently in the q124/q130 hash)") {
    val emb = Tables.embeddings(spark, sf0001)
    val key = Similarity.ivfCorpusKey(emb)
    val fixture = graft.queries.ScaleQueries.ivfFixture
    assert(fixture.contains(key),
      s"fixture has no centroids for corpus_key=$key — regenerate with " +
        "`sbt \"runMain graft.FixtureDump\"`")
    val pinned = fixture(key).toMap
    val live = Similarity.fitIvfCentroids(emb, "vec_id", "embedding").toMap
    assert(live.keySet === pinned.keySet)
    // tolerance bounds float-reduction-order nondeterminism in the
    // distributed centroid updates; genuine drift (different cells,
    // different init) moves coordinates by orders of magnitude more
    val maxDelta = (for ((cell, c) <- live.toSeq; (x, j) <- c.zipWithIndex)
      yield math.abs(x - pinned(cell)(j))).max
    assert(maxDelta < 1e-6, s"live fit drifted from fixture: $maxDelta")
  }

  test("appendToIvfIndex: appended vectors land in their nearest stored " +
      "cell and are served by the stored-index queries") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_append").toString
    val emb = Tables.embeddings(spark, sf0001)
    val seedHalf = emb.filter($"vec_id" % 2 === 0)
    val newHalf = emb.filter($"vec_id" % 2 === 1)
    Similarity.buildIvfIndex(seedHalf, "vec_id", "embedding", dir,
      Similarity.fitIvfCentroids(seedHalf, "vec_id", "embedding", nlist = 8))
    Similarity.appendToIvfIndex(spark, dir, newHalf, "vec_id", "embedding")
    val stored = spark.read.parquet(s"$dir/vectors")
    assert(stored.count() === emb.count())
    assert(stored.select("vec_id").distinct().count() === emb.count())
    // independent driver-side check: every appended row's cell is the
    // exact squared-euclidean argmin over the stored centroids (ties
    // to the lowest cell id — the KMeans.transform rule)
    val cents = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def sqdist(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val appended = stored
      .join(newHalf.select($"vec_id"), "vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
        r.getInt(2)))
    assert(appended.nonEmpty)
    appended.foreach { case (id, vec, cell) =>
      val want = cents.minBy { case (c, cv) => (sqdist(vec, cv), c) }._1
      assert(cell === want, s"vec $id in cell $cell, nearest centroid $want")
    }
    // the appended rows are immediately visible to the stored query
    // path: an appended vector queried against the index must at least
    // find itself excluded and its duplicate-distance neighbors ranked
    val res = Similarity.annJoinIvfStored(spark, dir,
      newHalf.filter($"vec_id" < 20), "vec_id", "embedding", k = 5)
    val neighbors = res.select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(res.count() > 0)
    assert(neighbors.exists(_ % 2 === 1), "no appended vector ever ranked")
  }

  test("appendToIvfIndex takes the indexDir lock: a held lock excludes " +
      "a concurrent append") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_lock").toString
    val emb = Tables.embeddings(spark, sf0001)
    val head = emb.filter($"vec_id" < 100)
    Similarity.buildIvfIndex(head, "vec_id", "embedding", dir,
      Similarity.fitIvfCentroids(head, "vec_id", "embedding", nlist = 4))
    graft.sources.Sinks.withDirLock(spark, dir, "appending") {
      val e = intercept[IllegalStateException] {
        Similarity.appendToIvfIndex(spark, dir,
          emb.filter($"vec_id" === 200), "vec_id", "embedding")
      }
      assert(e.getMessage.contains("locked by another writer"))
    }
    // released → proceeds
    Similarity.appendToIvfIndex(spark, dir,
      emb.filter($"vec_id" === 200), "vec_id", "embedding")
  }

  test("embeddingDedupPairs finds planted near-identical vectors, skips distant ones") {
    val base = Array.tabulate(64)(i => math.sin(i.toDouble).toFloat)
    val nearDup = base.clone(); nearDup(0) = base(0) + 0.001f
    val distant = Array.tabulate(64)(i => math.cos(i * 3.0).toFloat)
    val df = Seq(
      (1L, base.toSeq), (2L, nearDup.toSeq), (3L, distant.toSeq))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingDedupPairs(df, "vec_id", "embedding",
      threshold = 0.99, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("brute-force and LSH agree on overlapping candidates") {
    val exact = Similarity.cosineTopK(Tables.embeddings(spark, sf0001),
      "vec_id", "embedding", 0L, 50)
      .select("vec_id").as[Long].collect().toSet
    val approx = Similarity.lshCosineTopK(Tables.embeddings(spark, sf0001),
      "vec_id", "embedding", 0L, 10, bits = 4, dim = 64)
      .select("vec_id").as[Long].collect().toSet
    // LSH recall against the exact top-50 should be nonzero
    assert((exact & approx).nonEmpty)
  }

  test("annJoinBruteForce: exact per-query top-k, self excluded, dense ranks") {
    val emb = Tables.embeddings(spark, sf0001)
    val got = Similarity.annJoinBruteForce(
      queries = emb.filter($"vec_id" % 100 === 0), corpus = emb,
      idCol = "vec_id", vecCol = "embedding", k = 5)
    val rows = got.collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.keySet === Set(0L, 100L, 200L, 300L, 400L))
    byQuery.foreach { case (q, rs) =>
      assert(rs.length === 5)
      assert(rs.map(_.getInt(3)).sorted.toSeq === Seq(1, 2, 3, 4, 5))
      assert(!rs.map(_.getLong(1)).contains(q), s"query $q is its own neighbor")
      // rank order must agree with the single-query exact baseline
      val single = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 5)
        .select("vec_id").as[Long].collect().toSeq
      val batch = rs.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq
      assert(batch === single, s"query $q: batch $batch vs single $single")
    }
  }

  test("annJoinLsh: subset of brute-force candidates, ranks consistent in-bucket") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter($"vec_id" % 100 === 0)
    // bits=4: populated buckets at this tiny SF (default 12 would
    // isolate every vector)
    val lsh = Similarity.annJoinLsh(queries, emb, "vec_id", "embedding",
        k = 5, bits = 4)
      .collect()
    assert(lsh.nonEmpty)
    lsh.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= 5)
      // within a query: descending cos, ranks 1..n
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq === (1 to rs.length))
      assert(sorted.map(_.getDouble(2)).toSeq ===
        sorted.map(_.getDouble(2)).sortBy(-_).toSeq)
    }
  }

  test("annJoinLsh: bucketCap drops a planted degenerate bucket, leaves " +
      "healthy buckets untouched") {
    val dim = 64
    val vecA = Array.tabulate(dim)(i => if (i % 2 == 0) 1.0f else 0.5f)
    val vecB = vecA.map(-_)  // opposite projections → different bucket
    val corpus = ((1L to 30L).map(i => (i, vecA.toSeq)) ++
      (31L to 35L).map(i => (i, vecB.toSeq))).toDF("vec_id", "embedding")
    val queries = Seq((1L, vecA.toSeq), (31L, vecB.toSeq))
      .toDF("vec_id", "embedding")
    val capped = Similarity.annJoinLsh(queries, corpus, "vec_id", "embedding",
        k = 5, bits = 12, dim = dim, bucketCap = 10)
      .collect().groupBy(_.getLong(0))
    // the 30-member bucket is degenerate (> cap) → its query finds nothing
    assert(!capped.contains(1L),
      s"degenerate bucket not dropped: ${capped.get(1L).map(_.toSeq)}")
    // the 5-member bucket is under the cap → 4 neighbors (self excluded)
    assert(capped(31L).length === 4)
    // with the cap above both bucket sizes nothing is dropped
    val uncapped = Similarity.annJoinLsh(queries, corpus, "vec_id", "embedding",
        k = 5, bits = 12, dim = dim, bucketCap = 1000)
      .collect().groupBy(_.getLong(0))
    assert(uncapped(1L).length === 5)
    assert(uncapped(31L).length === 4)
  }

  test("annJoinIvf: <= nprobe cells probed per query, decent recall vs the " +
      "exact batch join, ranks dense per query") {
    val emb = Tables.embeddings(spark, sf0001)
    val queries = emb.filter($"vec_id" % 100 === 0)
    val exact = Similarity.annJoinBruteForce(queries, emb,
        "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.annJoinIvf(queries, emb, "vec_id", "embedding",
        k = 5, centroids = Similarity.fitIvfCentroids(emb, "vec_id",
          "embedding", nlist = 8), nprobe = 4)
      .collect()
    assert(ivf.nonEmpty)
    ivf.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= 5)
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to rs.length))
    }
    // nprobe/nlist = half the corpus scanned → expect most exact
    // neighbors recovered
    val got = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("annJoinIvf, ivfCosineTopK, assignCells: every generated method " +
      "stays under HotSpot's 8000-byte JIT limit at nlist 16") {
    // the assignment fold inlines every centroid; a filter on `cell`
    // pushed below it inlines it twice, and a method past the limit
    // never leaves the interpreter (Similarity.assignCells)
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Similarity.fitIvfCentroids(emb, "vec_id", "embedding")
    Seq(
      Similarity.assignCells(emb, "vec_id", "embedding", cents),
      Similarity.annJoinIvf(emb.filter($"vec_id" % 100 === 0), emb,
        "vec_id", "embedding", k = 5, centroids = cents),
      Similarity.ivfCosineTopK(emb, "vec_id", "embedding", 0L, 5)
    ).foreach { df =>
      df.collect()
      val sizes = org.apache.spark.sql.execution.debug
        .codegenStringSeq(df.queryExecution.executedPlan)
        .map(_._3.maxMethodCodeSize)
      assert(sizes.nonEmpty)
      assert(sizes.max <= 8000, sizes)
    }
  }

  test("semanticDedupClusters: planted scaled copies share the original's " +
      "component; unrelated vectors stay apart") {
    // same-direction copies (×2, ×0.5 — exact IEEE scalings) are
    // semantic dups of their original; orthogonal vectors are not
    val base = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = base.unionByName(
      base.select(($"vec_id" + 10).as("vec_id"),
        transform($"embedding".cast("array<double>"), x => x * lit(2.0))
          .cast("array<float>").as("embedding")))
    val comp = Similarity.semanticDedupClusters(corpus, "vec_id",
      "embedding", threshold = 0.9, bits = 2, dim = 4)
    val byComp = comp.collect()
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(byComp(0L) === Set(0L, 10L))
    assert(byComp(1L) === Set(1L, 11L))
    assert(byComp(2L) === Set(2L, 12L))
  }

  test("diversitySample: coverage-first — a dense near-duplicate blob cannot " +
      "crowd out sparse regions; deterministic across calls") {
    // 90 near-copies of one direction + 10 spread directions: a uniform
    // top-k would be ~90% blob; coverage-first picks every occupied
    // bucket once before the blob contributes a second row
    val dim = 16
    val blobBase = Array.tabulate(dim)(i => math.sin(i + 1.0))
    val blob = (1L to 90L).map { i =>
      (i, blobBase.zipWithIndex.map { case (x, j) =>
        (x + (if (j == (i % dim).toInt) 1e-4 * i else 0.0)).toFloat }.toSeq)
    }
    val spread = (101L to 110L).map { i =>
      (i, Array.tabulate(dim)(j =>
        math.cos((i - 100) * (j + 1) * 0.7).toFloat).toSeq)
    }
    val df = (blob ++ spread).toDF("vec_id", "embedding")
    val got = Similarity.diversitySample(df, "vec_id", "embedding",
      k = 12, bits = 6, dim = dim)
    val rows = got.select("vec_id", "bucket", "rank_in_bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.length === 12)
    val occupied = df.select(
      Similarity.lshBucket($"embedding".cast("array<double>"),
        Similarity.hyperplanes(6, dim)).as("b"))
      .distinct().count()
    // every occupied bucket is represented before ANY bucket repeats
    val firstRound = rows.filter(_._3 == 1)
    assert(firstRound.length === math.min(occupied, 12L).toInt,
      s"${firstRound.length} rank-1 picks for $occupied occupied buckets")
    // independent driver-side reference: bucket via the HOF twin, rank
    // by the same md5(id|seed) order, take the k smallest (rank, bucket)
    val planes = Similarity.hyperplanes(6, dim)
    val ref = df.select($"vec_id",
        Similarity.lshBucketHof($"embedding".cast("array<double>"), planes)
          .as("b"),
        md5(concat_ws("|", $"vec_id", lit(42L))).as("key"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._2).toSeq
      .flatMap { case (b, members) =>
        members.sortBy(m => (m._3, m._1)).zipWithIndex
          .map { case (m, i) => (i + 1, b, m._1) } // (rank, bucket, id)
      }
      .sorted.take(12).map(_._3)
    assert(rows.map(_._1).toSeq === ref.toSeq,
      "sample differs from the independent round-robin reference")
    // deterministic
    val again = Similarity.diversitySample(df, "vec_id", "embedding",
        k = 12, bits = 6, dim = dim)
      .select("vec_id").as[Long].collect().toSeq
    assert(again === rows.map(_._1).toSeq)
    // a different seed reshuffles within buckets but keeps coverage
    val otherSeed = Similarity.diversitySample(df, "vec_id", "embedding",
      k = 12, bits = 6, dim = dim, seed = 7L)
    assert(otherSeed.filter($"rank_in_bucket" === 1).count() ===
      math.min(occupied, 12L))
  }

  test("semanticDecontaminate flags a planted eval copy, not the rest") {
    // train 10 is an exact copy of eval 100 (cos 1.0 after rounding);
    // train 11 is orthogonal to both eval vectors
    val train = Seq(
      (10L, Array(1.0f, 2.0f, 3.0f, 0.0f)),
      (11L, Array(0.0f, 0.0f, 0.0f, 5.0f))).toDF("vec_id", "embedding")
    val eval_ = Seq(
      (100L, Array(1.0f, 2.0f, 3.0f, 0.0f)),
      (101L, Array(-3.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.semanticDecontaminate(
        train, eval_, "vec_id", "embedding", threshold = 0.9)
      .orderBy($"vec_id")
      .select($"vec_id", $"nearest_eval_id", $"max_cos", $"contaminated")
      .as[(Long, Long, Double, Boolean)].collect().toSeq
    assert(got(0) === ((10L, 100L, 1.0, true)))
    assert(got(1)._1 === 11L)
    assert(got(1)._3 === 0.0)              // orthogonal to both
    assert(!got(1)._4)
    // tie on cos (both eval vecs orthogonal to 11) → smaller eval id
    assert(got(1)._2 === 100L)
  }

  test("semanticDecontaminate plans a broadcast of the eval side only") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = Similarity.semanticDecontaminate(
      emb.filter($"vec_id" % 97 =!= 0), emb.filter($"vec_id" % 97 === 0),
      "vec_id", "embedding", threshold = 0.25)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
    assert(!plan.contains("CartesianProduct"), plan.take(1200))
  }

  test("int8QuantStats: error bounded by half a quantization step") {
    val out = Similarity.int8QuantStats(
      Tables.embeddings(spark, sf0001).limit(100), "vec_id", "embedding")
      .collect()
    assert(out.length === 100)
    out.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val err = r.getAs[Double]("max_abs_err")
      // round-to-nearest at step 1/scale: |x - q/s| <= 0.5/s (+ulp slack)
      assert(err <= 0.5 / scale * (1 + 1e-12),
        s"vec ${r.get(0)}: err $err > half-step ${0.5 / scale}")
      assert(r.getAs[Long]("dim") === 64L)
    }
  }

  test("hardNegatives: wrong-label top-k with margins; self and " +
      "positive-less anchors excluded") {
    val df = Seq(
      (0L, Seq(1.0f, 0.0f), 1),   // anchor
      (1L, Seq(1.0f, 0.05f), 1),  // best positive, cos ~0.9988
      (2L, Seq(0.9f, 0.2f), 2),   // hard negative, cos ~0.9762
      (3L, Seq(0.0f, 1.0f), 2),   // easy negative, cos 0
      (4L, Seq(-1.0f, 0.0f), 3),  // easiest negative, cos -1
      (10L, Seq(0.5f, 0.5f), 7))  // anchor with NO same-label peer
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(df, "vec_id", "embedding", "label",
        anchorPred = col("vec_id") === 0L || col("vec_id") === 10L, k = 2)
      .orderBy("anchor_id", "rnk").collect()
    // anchor 10 has no same-label positive -> dropped entirely
    assert(got.map(_.getLong(0)).distinct.toSeq === Seq(0L))
    // negatives ranked hardest-first: 2 (cos .976) then 10 (cos .707,
    // itself an anchor but still corpus for anchor 0); k=2 cuts 3 and 4
    assert(got.map(r => (r.getLong(1), r.getLong(2))).toSeq ===
      Seq((2L, 1L), (10L, 2L)))
    // margin = pos_cos - cos, positive for both (positive is closer)
    val posCos = got(0).getDouble(3) + got(0).getDouble(4)
    got.foreach { r =>
      assert(r.getDouble(4) > 0.0)
      assert(r.getDouble(3) + r.getDouble(4) === posCos,
        "margins must share one pos_cos per anchor")
    }
  }

  test("hardNegatives: violating triplet yields a negative margin") {
    val df = Seq(
      (0L, Seq(1.0f, 0.0f), 1),
      (1L, Seq(0.0f, 1.0f), 1),   // far positive, cos 0
      (2L, Seq(1.0f, 0.1f), 2))   // near negative, cos ~0.995
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(df, "vec_id", "embedding", "label",
        anchorPred = col("vec_id") === 0L, k = 1).collect()
    assert(got.length === 1 && got(0).getDouble(4) < 0.0)
  }

  test("q158 codebook fixture: the live fitPq still reproduces the " +
      "committed per-subspace codebooks (the trust-the-fit-ONCE seam — " +
      "an MLlib drift fails HERE, not silently in the q158/q159 hash)") {
    val emb = Tables.embeddings(spark, sf0001)
    val key = Similarity.ivfCorpusKey(emb)
    val fixture = graft.queries.CorpusQueries.pqFixture
    assert(fixture.contains(key),
      s"fixture has no codebooks for corpus_key=$key — regenerate with " +
        "`sbt \"runMain graft.FixtureDump\"`")
    val pinned = fixture(key)
    val live = Similarity.fitPq(emb, "embedding", m = 8, ksub = 64)
    assert(live.length === pinned.length)
    // tolerance bounds float-reduction-order nondeterminism in the
    // distributed centroid updates (the q130 fixture's convention)
    val maxDelta = (for (j <- live.indices; c <- live(j).indices;
                         i <- live(j)(c).indices)
      yield math.abs(live(j)(c)(i) - pinned(j)(c)(i))).max
    assert(maxDelta < 1e-6, s"live fitPq drifted from fixture: $maxDelta")
  }

  test("fixture-served q158 (rounded encode/LUT over frozen codebooks) " +
      "matches the live-fit unrounded path bit-for-bit at sf0.001 — " +
      "rounding at 1e-6 moves no argmin, no candidate, no rank") {
    val emb = Tables.embeddings(spark, sf0001)
    val cb = graft.queries.CorpusQueries
      .pqFixture(Similarity.ivfCorpusKey(emb))
    val queries = emb.filter($"vec_id" % 100 === 0)
    val fixed = Similarity.annJoinPqRerank(queries, emb,
      "vec_id", "embedding", k = 5, cb, refine = 10, quantRound = 6)
    val live = Similarity.annJoinPqRerank(queries, emb,
      "vec_id", "embedding", k = 5, cb, refine = 10)
    assert(fixed.orderBy("query_id", "rnk").collect().map(_.toString).toSeq
      === live.orderBy("query_id", "rnk").collect().map(_.toString).toSeq)
    assert(fixed.count() > 0)
  }

  test("fixed-artifact stored IVFPQ: build from both fixtures, probe " +
      "with pruned scans, k rows per query, recall vs the exact join") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_fixed").toString
    val emb = Tables.embeddings(spark, sf0001)
    val key = Similarity.ivfCorpusKey(emb)
    val cents = graft.queries.ScaleQueries.ivfFixture(key)
    val cb = graft.queries.CorpusQueries.pqFixture(key)
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding",
      dir, cents, cb)
    val queries = emb.filter($"vec_id" % 100 === 0)
    val stored = Similarity.annJoinIvfPqStored(spark, dir, queries,
      "vec_id", "embedding", k = 5, nprobe = 4, refine = 10)
    val got = stored.collect()
    // every query serves exactly k candidates (probed cells hold
    // plenty at this SF), and both scans prune to the probed cells
    val perQuery = got.groupBy(_.getLong(0)).values.map(_.length)
    assert(perQuery.nonEmpty && perQuery.forall(_ === 5))
    val scan = stored.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      scan.take(500))
    // refined PQ retrieval within probed cells keeps decent recall
    // vs the exact all-pairs join
    val exact = Similarity.annJoinBruteForce(queries, emb,
        "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val gotPairs = got.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & gotPairs).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall too low: $recall")
  }
}
