package graft.ops

import graft.SparkSpec
import graft.functions.GraftFunctions
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Product-quantization family: the fused expressions are pinned
  * bit-identical to a driver-side reference implementing the exact
  * documented fold (left-to-right within a subspace, subspaces in
  * ascending j, strict-< first-minimum ties, unit-scale lift before
  * slicing), and the two-stage retrieval is gated on recall against
  * the exact brute-force join. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf0001)
  private lazy val codebooks =
    Similarity.fitPq(emb, "embedding", m = 8, ksub = 16,
      cacheKey = Some(s"$sf0001/embeddings"))

  /** Driver reference: same loops as PqEncode/PqLut/PqAdcDistance. */
  private def refScale(v: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    if (acc == 0.0) 1.0 else 1.0 / math.sqrt(acc)
  }

  private def refEncode(v: Array[Double],
                        cb: Array[Array[Array[Double]]]): Array[Int] = {
    val m = cb.length; val ksub = cb(0).length; val dsub = cb(0)(0).length
    require(v.length == m * dsub)
    val s = refScale(v)
    Array.tabulate(m) { j =>
      var best = 0; var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ksub) {
        var acc = 0.0; var i = 0
        while (i < dsub) {
          val d = v(j * dsub + i) * s - cb(j)(c)(i); acc += d * d; i += 1
        }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      best
    }
  }

  private def refAdc(q: Array[Double], codes: Array[Int],
                     cb: Array[Array[Array[Double]]]): Double = {
    val m = cb.length; val dsub = cb(0)(0).length
    val s = refScale(q)
    var acc = 0.0; var j = 0
    while (j < m) {
      val cent = cb(j)(codes(j))
      var sub = 0.0; var i = 0
      while (i < dsub) {
        val d = q(j * dsub + i) * s - cent(i); sub += d * d; i += 1
      }
      acc += sub; j += 1
    }
    acc
  }

  test("PqEncode matches the driver reference bit-for-bit, " +
      "including the unit-scale lift and the first-minimum tie rule") {
    val rows = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        GraftFunctions.pq_encode(
          col("embedding").cast("array<double>"), codebooks,
          normalize = true).as("codes"))
      .collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val got = r.getSeq[Int](2).toArray
      assert(got === refEncode(v, codebooks), s"vec ${r.getLong(0)}")
    }
  }

  test("PqAdcDistance(codes, lut) equals the sum of subspace distances " +
      "to the reconstructed vector, exactly") {
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val ksub = codebooks(0).length
    val rows = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"),
        GraftFunctions.pq_adc(
          GraftFunctions.pq_encode(
            col("embedding").cast("array<double>"), codebooks,
            normalize = true),
          GraftFunctions.pq_lut(
            typedLit(q.toSeq).cast("array<double>"), codebooks,
            normalize = true),
          ksub).as("adc"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](1).toArray
      val want = refAdc(q, refEncode(v, codebooks), codebooks)
      assert(r.getDouble(2) === want, s"vec ${r.getLong(0)}")
    }
  }

  test("null contract: wrong-length vectors and mismatched code/LUT " +
      "shapes yield null, never a plausible distance") {
    val bad = Seq((1L, Seq(1.0, 2.0))).toDF("id", "v")
    val enc = bad.select(GraftFunctions.pq_encode(col("v"), codebooks))
      .collect()(0)
    assert(enc.isNullAt(0))
    // a LUT built for ksub=16 read as if ksub=8: lengths disagree -> null
    val okVec = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>").as("v"))
    val mismatched = okVec.select(
        GraftFunctions.pq_adc(
          GraftFunctions.pq_encode(col("v"), codebooks),
          GraftFunctions.pq_lut(col("v"), codebooks), 8))
      .collect()(0)
    assert(mismatched.isNullAt(0))
  }

  test("annJoinPqRerank: recall@5 vs exact brute force is high on the " +
      "clustered embeddings, and results are deterministic") {
    // measured grid (sf0.001, 500 unit-norm 64-dim vectors in 10 tight
    // clusters): recall@5 climbs with quantizer resolution and refine
    // budget — m=8/ksub=16/refine=4 -> 0.56, ksub=32/refine=10 -> 0.88,
    // ksub=64/refine=10 -> 0.92. Intra-cluster structure is noise-like,
    // so recall here is a WORST-case corpus for PQ; gate at 0.85.
    val cb64 = Similarity.fitPq(emb, "embedding", m = 8, ksub = 64,
      cacheKey = Some(s"$sf0001/embeddings"))
    val queries = emb.filter(expr("vec_id % 100 = 0"))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = key(Similarity.annJoinBruteForce(
      queries, emb, "vec_id", "embedding", k = 5))
    val pq = key(Similarity.annJoinPqRerank(
      queries, emb, "vec_id", "embedding", k = 5, cb64, refine = 10))
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.85, s"recall@5 = $recall")
    val pq2 = key(Similarity.annJoinPqRerank(
      queries, emb, "vec_id", "embedding", k = 5, cb64, refine = 10))
    assert(pq === pq2)
  }

  test("fitPq cacheKey memoizes: the second call returns the same object") {
    val again = Similarity.fitPq(emb, "embedding", m = 8, ksub = 16,
      cacheKey = Some(s"$sf0001/embeddings"))
    assert(again eq codebooks)
  }

  test("stored IVFPQ: codes scan pruned to probed cells; full-probe " +
      "results equal the non-IVF PQ re-rank join") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_index").toString
    val cb64 = Similarity.fitPq(emb, "embedding", m = 8, ksub = 64,
      cacheKey = Some(s"$sf0001/embeddings"))
    Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", dir,
      Similarity.fitIvfCentroids(emb, "vec_id", "embedding", nlist = 8),
      cb64, quantRound = -1)
    val queries = emb.filter(expr("vec_id % 100 = 0"))
    val pruned = Similarity.annJoinIvfPqStored(spark, dir, queries,
      "vec_id", "embedding", k = 5, nprobe = 2, refine = 10,
      quantRound = -1)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString("\n")
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      scan.take(500))
    // the per-query ADC LUT must be MATERIALIZED before the codes join
    // (probe-side localCheckpoint): if pq_lut appears anywhere in the
    // executed plan, whole-stage codegen can defer it into the join's
    // matched-row loop and recompute the m·ksub·dsub table PER
    // CANDIDATE PAIR — the round-8 100×-found regression. Behind the
    // checkpoint barrier the LUT is data; the expression is gone.
    val wholePlan = pruned.queryExecution.executedPlan.toString
    assert(!wholePlan.contains("pq_lut"),
      "pq_lut expression leaked into the join-side plan")
    // probing EVERY cell makes the candidate set identical to plain PQ
    // over the same codebooks (seed-deterministic), so results match
    val full = Similarity.annJoinIvfPqStored(spark, dir, queries,
      "vec_id", "embedding", k = 5, nprobe = 8, refine = 10,
      quantRound = -1)
    val plain = Similarity.annJoinPqRerank(
      queries, emb, "vec_id", "embedding", k = 5, cb64, refine = 10)
    assert(full.orderBy("query_id", "rnk").collect().map(_.toString).toSeq ===
      plain.orderBy("query_id", "rnk").collect().map(_.toString).toSeq)
    // pruned probing still finds most of what full probing finds
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (key(pruned) & key(full)).size.toDouble / key(full).size
    assert(overlap >= 0.5, s"nprobe=2 overlap with full probe = $overlap")
  }
}
