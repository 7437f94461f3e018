package graft.functions

import graft.SparkSpec
import graft.ops.Similarity
import graft.sources.Tables
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine_sim matches the HOF formulation bit-for-bit on real embeddings") {
    val df = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val q = df.filter($"vec_id" === 0).select($"v".as("q"))
    val both = df.crossJoin(broadcast(q))
      .select($"vec_id",
        GraftFunctions.cosine_sim($"v", $"q").as("native"),
        Similarity.cosineHof($"v", $"q").as("hof"))
      .collect()
    assert(both.length === 500)
    both.foreach { r =>
      assert(r.getDouble(1) === r.getDouble(2),
        s"vec ${r.getLong(0)}: native ${r.getDouble(1)} != hof ${r.getDouble(2)}")
    }
  }

  test("cosine_sim resolves in SQL after register()") {
    val got = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(0.5d, 0.0d)) AS c")
      .as[Double].collect()(0)
    assert(got === 1.0)
  }

  test("hashed_shingles matches the string-path shingle count (no collisions)") {
    val df = Tables.documents(spark, sf0001)
    val rows = df.select(
      size(GraftFunctions.hashed_shingles($"text", 2)).as("fused"),
      size(graft.ops.Dedup.shingles($"text", 2)).as("strings"))
      .collect()
    rows.foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }

  test("minhash_signature: deterministic, correct length, dup texts agree") {
    val sig = Seq(("a b c d e", 1), ("a b c d e", 2), ("x y z w v", 3))
      .toDF("t", "i")
      .select(GraftFunctions.minhash_signature(
        GraftFunctions.hashed_shingles($"t", 2), 32).as("sig"))
      .as[Seq[Long]].collect()
    assert(sig.forall(_.size == 32))
    assert(sig(0) === sig(1))
    assert(sig(0) !== sig(2))
  }

  test("minhash_signature: null on empty shingle set, in BOTH native and HOF paths") {
    import org.apache.spark.sql.functions.col
    // one-word docs yield empty 2-shingle sets: no sentinel signature
    // (empty docs must not collide into shared LSH buckets)
    val df = Seq("solo", "a b c").toDF("t")
      .select(
        GraftFunctions.minhash_signature(
          GraftFunctions.hashed_shingles(col("t"), 2), 8).as("native"),
        graft.ops.Dedup.minhashSignatureHof(
          GraftFunctions.hashed_shingles(col("t"), 2), 8).as("hof"))
      .collect()
    assert(df(0).isNullAt(0) && df(0).isNullAt(1))   // "solo"
    assert(!df(1).isNullAt(0) && !df(1).isNullAt(1)) // "a b c"
    assert(df(1).getSeq[Long](0) === df(1).getSeq[Long](1)) // paths agree
  }

  test("reservoir_sample: exact sizes, members from the group, bounded memory semantics") {
    val df = spark.range(100000).toDF("id")
      .withColumn("g", pmod($"id", lit(4L)))
    val got = df.groupBy($"g")
      .agg(GraftFunctions.reservoir_sample($"id", 10).as("sample"),
        count(lit(1)).as("n"))
      .collect()
    assert(got.length === 4)
    got.foreach { r =>
      val g = r.getLong(0)
      val sample = r.getSeq[Long](1)
      assert(sample.size === 10)
      assert(sample.distinct.size === 10) // ids unique per group
      assert(sample.forall(x => x % 4 == g), s"foreign member in group $g")
    }
    // small group: sample == whole group
    val tiny = spark.range(3).toDF("id")
      .agg(GraftFunctions.reservoir_sample($"id", 10).as("s"))
      .collect()(0).getSeq[Long](0)
    assert(tiny.toSet === Set(0L, 1L, 2L))
  }

  test("reservoir_sample is roughly uniform across the range") {
    val n = 50000
    val sample = spark.range(n).toDF("id")
      .agg(GraftFunctions.reservoir_sample($"id", 500).as("s"))
      .collect()(0).getSeq[Long](0)
    val meanPos = sample.map(_.toDouble).sum / sample.size / n
    // uniform mean position ~0.5; se ~ 0.289/sqrt(500) ~ 0.013
    assert(meanPos > 0.4 && meanPos < 0.6, s"mean position $meanPos")
  }

  test("cosine_sim basic geometry") {
    val rows = Seq(
      (Seq(1.0, 0.0), Seq(0.0, 2.0), 0.0),
      (Seq(1.0, 1.0), Seq(-1.0, -1.0), -1.0))
    rows.foreach { case (a, b, want) =>
      val got = spark.range(1).select(GraftFunctions.cosine_sim(
        array(a.map(lit): _*), array(b.map(lit): _*)).as("c"))
        .as[Double].collect()(0)
      assert(math.abs(got - want) < 1e-12)
    }
  }

  test("sorted_intersect_count equals array_intersect size on random sorted sets") {
    val rnd = new scala.util.Random(7)
    val cases = (1 to 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      val b = Seq.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      (a, b)
    }
    cases.foreach { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val got = df.select(GraftFunctions.sorted_intersect_count($"a", $"b"))
        .as[Int].collect()(0)
      assert(got === (a.toSet & b.toSet).size, s"a=$a b=$b")
    }
  }

  test("simhash64: fused expression bit-identical to the HOF on the real " +
      "documents table and on whitespace edge cases") {
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
      .union(Seq(
        (9001L, ""),                 // split("") = [""] — one empty token
        (9002L, " "),                // ["", ""] — two empty tokens
        (9003L, "a  b"),             // embedded empty token
        (9004L, "a b "),             // trailing empty token
        (9005L, " leading"),         // leading empty token
        (9006L, "único töken ünïcode €"))  // multi-byte UTF-8
        .toDF("doc_id", "text"))
    val rows = docs.select($"doc_id",
        GraftFunctions.simhash64($"text").as("fused"),
        graft.ops.Dedup.simhash64Hof($"text").as("hof"))
      .collect()
    assert(rows.length === 506)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"doc ${r.getLong(0)}: fused ${r.getLong(1)} != hof ${r.getLong(2)}")
    }
  }

  test("simhash64_md5: fused expression bit-identical to the HOF on the " +
      "real documents table and whitespace edge cases; stays in [0, 2^60)") {
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
      .union(Seq(
        (9001L, ""), (9002L, " "), (9003L, "a  b"),
        (9004L, "a b "), (9005L, " leading"),
        (9006L, "único töken ünïcode €"))
        .toDF("doc_id", "text"))
    val rows = docs.select($"doc_id",
        GraftFunctions.simhash64_md5($"text").as("fused"),
        graft.ops.Dedup.simhash64Md5Hof($"text").as("hof"))
      .collect()
    assert(rows.length === 506)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"doc ${r.getLong(0)}: fused ${r.getLong(1)} != hof ${r.getLong(2)}")
      assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 60),
        s"doc ${r.getLong(0)}: ${r.getLong(1)} outside [0, 2^60)")
    }
  }

  test("simhash64 resolves in SQL after register() and nulls propagate") {
    val got = spark.sql(
      "SELECT simhash64('a b c') AS s, simhash64(CAST(NULL AS STRING)) AS n")
      .collect()(0)
    assert(!got.isNullAt(0))
    assert(got.isNullAt(1))
  }

  test("hyperplane_bucket: fused expression bit-identical to the HOF on real " +
      "embeddings and degenerate vectors") {
    val planes = Similarity.hyperplanes(bits = 8, dim = 64)
    val emb = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val rows = emb.select($"vec_id",
        GraftFunctions.hyperplane_bucket($"v", planes).as("fused"),
        Similarity.lshBucketHof($"v", planes).as("hof"))
      .collect()
    assert(rows.length === 500)
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2),
      s"vec ${r.getLong(0)}: fused ${r.getLong(1)} != hof ${r.getLong(2)}"))
    // dimension-mismatch + zero vectors mirror HOF null/sign semantics
    val p2 = Similarity.hyperplanes(bits = 3, dim = 2)
    val edge = Seq(Seq(0.0, 0.0), Seq(1.0, 2.0, 3.0), Seq(7.5))
      .toDF("v").select(
        GraftFunctions.hyperplane_bucket($"v", p2).as("fused"),
        Similarity.lshBucketHof($"v", p2).as("hof"))
      .collect()
    edge.foreach(r => assert(r.getLong(0) === r.getLong(1),
      s"fused ${r.getLong(0)} != hof ${r.getLong(1)}"))
  }

  test("rolling_fingerprint: fused expression bit-identical to the HOF on " +
      "real documents and whitespace edge cases") {
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
      .union(Seq((9001L, ""), (9002L, " "), (9003L, "a  b"),
        (9004L, "ünïcode €"), (9005L, "a b "))
        .toDF("doc_id", "text"))
    val rows = docs.select($"doc_id",
        GraftFunctions.rolling_fingerprint($"text").as("fused"),
        graft.ops.TextAnalysis.fingerprintHof($"text").as("hof"))
      .collect()
    assert(rows.length === 505)
    rows.foreach(r => assert(r.getLong(1) === r.getLong(2),
      s"doc ${r.getLong(0)}: fused ${r.getLong(1)} != hof ${r.getLong(2)}"))
  }

  test("rolling_fingerprint_md5: fused expression bit-identical to the HOF " +
      "on real documents and whitespace edge cases; stays in [0, 2^60)") {
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
      .union(Seq((9001L, ""), (9002L, " "), (9003L, "a  b"),
        (9004L, "ünïcode €"), (9005L, "a b "))
        .toDF("doc_id", "text"))
    val rows = docs.select($"doc_id",
        GraftFunctions.rolling_fingerprint_md5($"text").as("fused"),
        graft.ops.TextAnalysis.fingerprintMd5Hof($"text").as("hof"))
      .collect()
    assert(rows.length === 505)
    rows.foreach { r =>
      assert(r.getLong(1) === r.getLong(2),
        s"doc ${r.getLong(0)}: fused ${r.getLong(1)} != hof ${r.getLong(2)}")
      // the 60-bit domain is what makes the fold externally replayable
      assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 60),
        s"doc ${r.getLong(0)}: ${r.getLong(1)} outside [0, 2^60)")
    }
    // known-answer pin (cross-checked against the DuckDB list_reduce
    // replay and an independent reference implementation)
    val known = Seq(("the quick brown fox", 1L)).toDF("text", "x")
      .select(GraftFunctions.rolling_fingerprint_md5($"text"))
      .collect()(0).getLong(0)
    assert(known === 67514990521228468L)
  }

  test("signature_agreement equals the zip_with HOF on random signatures; " +
      "nulls, empties, length mismatch") {
    import org.apache.spark.sql.functions.{aggregate, lit, when, zip_with}
    val rnd = new scala.util.Random(11)
    val cases = (1 to 100).map { _ =>
      // small value range plants plenty of positional agreements
      val n = rnd.nextInt(65)
      (Seq.fill(n)(rnd.nextInt(4).toLong), Seq.fill(n)(rnd.nextInt(4).toLong))
    }
    cases.foreach { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val hof = df.select(aggregate(zip_with($"a", $"b",
        (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _))
        .as[Int].collect()(0)
      val got = df.select(GraftFunctions.signature_agreement($"a", $"b"))
        .as[Int].collect()(0)
      assert(got === hof, s"a=$a b=$b")
    }
    val edge = Seq(
      (Some(Seq(1L, 2L)), None),                  // null → null
      (Some(Seq.empty[Long]), Some(Seq(1L))),     // empty → 0
      (Some(Seq(1L, 2L, 3L)), Some(Seq(1L))))     // shorter bounds the scan
      .toDF("a", "b")
    val got = edge.select(GraftFunctions.signature_agreement($"a", $"b"))
      .collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0))
    assert(got.toSeq === Seq(-1, 0, 1))
  }

  test("signature_agreement resolves in SQL after register()") {
    assert(spark.sql(
      "SELECT signature_agreement(array(1L,3L,5L), array(1L,4L,5L))")
      .collect()(0).getInt(0) === 2)
  }

  test("sorted_intersect_count: nulls and empties") {
    val df = Seq(
      (Some(Seq(1L, 2L)), None),
      (Some(Seq.empty[Long]), Some(Seq(1L, 2L))),
      (Some(Seq(1L, 2L)), Some(Seq(2L, 3L)))).toDF("a", "b")
    val got = df.select(GraftFunctions.sorted_intersect_count($"a", $"b"))
      .collect().map(r => if (r.isNullAt(0)) -1 else r.getInt(0))
    assert(got.toSeq === Seq(-1, 0, 1))
  }

  test("sorted_intersect_count resolves in SQL after register()") {
    assert(spark.sql(
      "SELECT sorted_intersect_count(array(1L,3L,5L), array(3L,4L,5L))")
      .collect()(0).getInt(0) === 2)
  }

  test("sq_euclidean: fused expression bit-identical to the HOF on real " +
      "embeddings (argmin tie rule depends on it)") {
    val df = Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val q = df.filter($"vec_id" === 3).select($"v".as("q"))
    val rows = df.crossJoin(broadcast(q))
      .select($"vec_id",
        GraftFunctions.sq_euclidean($"v", $"q").as("fused"),
        Similarity.sqEuclideanHof($"v", $"q").as("hof"))
      .collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      assert(r.getDouble(1) === r.getDouble(2),
        s"vec ${r.getLong(0)}: fused ${r.getDouble(1)} != hof ${r.getDouble(2)}")
    }
  }

  test("sq_euclidean: geometry, nulls, SQL registration") {
    val got = spark.sql(
      "SELECT sq_euclidean(array(1.0d, 2.0d), array(4.0d, 6.0d)) AS d, " +
        "sq_euclidean(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS n")
      .collect()(0)
    assert(got.getDouble(0) === 25.0)
    assert(got.isNullAt(1))
  }

  test("sq_euclidean_long: exact integer geometry, nulls, SQL registration") {
    val got = spark.sql(
      "SELECT sq_euclidean_long(array(1L, 2L), array(4L, 6L)) AS d, " +
        "sq_euclidean_long(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS n")
      .collect()(0)
    assert(got.getLong(0) === 25L)
    assert(got.isNullAt(1))
  }

  test("sq_euclidean_long holds the module null contract: length mismatch " +
      "and null elements yield null, never a truncated distance " +
      "(round-10 ADVICE)") {
    val got = spark.sql(
      "SELECT sq_euclidean_long(array(1L, 2L, 3L), array(1L, 2L)) AS mismatch, " +
        "sq_euclidean_long(array(1L, CAST(NULL AS BIGINT)), array(1L, 2L)) " +
        "AS null_elem, " +
        "sq_euclidean_long(array(1L, 2L), array(1L, CAST(NULL AS BIGINT))) " +
        "AS null_elem_rhs")
      .collect()(0)
    assert(got.isNullAt(0), "length mismatch must be null, not min-length")
    assert(got.isNullAt(1) && got.isNullAt(2))
  }

  test("BloomMightContain: structural equality on identical filters " +
      "(plan canonicalization contract)") {
    val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    BloomMightContain.put(bf, "hello")
    val bytes1 = BloomMightContain.serialize(bf)
    val bytes2 = BloomMightContain.serialize(bf) // distinct array, same content
    assert(!(bytes1 eq bytes2))
    val child = org.apache.spark.sql.catalyst.expressions.Literal
      .create("hello", org.apache.spark.sql.types.StringType)
    val e1 = BloomMightContain(child, bytes1)
    val e2 = BloomMightContain(child, bytes2)
    assert(e1 === e2, "semantically identical probes must compare equal")
    assert(e1.hashCode === e2.hashCode)
    assert(e1.semanticEquals(e2))
    // different filters still differ
    val bf2 = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
    BloomMightContain.put(bf2, "world")
    assert(e1 !== BloomMightContain(child, BloomMightContain.serialize(bf2)))
  }

  test("cdc_chunk_starts: fused expression identical to the HOF on real " +
      "documents and whitespace edge cases") {
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
      .union(Seq(
        (9001L, ""), (9002L, " "), (9003L, "a  b"),
        (9004L, "a b "), (9005L, " leading"),
        (9006L, "único töken ünïcode €"))
        .toDF("doc_id", "text"))
    Seq(1, 5, 20).foreach { target =>
      val rows = docs.select($"doc_id",
          GraftFunctions.cdc_chunk_starts($"text", target).as("fused"),
          graft.ops.TextAnalysis.cdcStartsHof($"text", target).as("hof"))
        .collect()
      assert(rows.length === 506)
      rows.foreach { r =>
        assert(r.getSeq[Int](1) === r.getSeq[Int](2),
          s"doc ${r.getLong(0)} target $target: " +
            s"fused ${r.getSeq[Int](1)} != hof ${r.getSeq[Int](2)}")
      }
    }
    // nulls propagate
    val n = spark.sql("SELECT CAST(NULL AS STRING) AS t")
      .select(GraftFunctions.cdc_chunk_starts($"t", 5)).collect()(0)
    assert(n.isNullAt(0))
  }

  test("minhash_md5_signature: fused expression bit-identical to the HOF " +
      "on real documents and whitespace edge cases; null under k tokens") {
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
      .union(Seq(
        (9001L, ""), (9002L, " "), (9003L, "a  b"),
        (9004L, "a b "), (9005L, "solo"),
        (9006L, "único töken ünïcode €"))
        .toDF("doc_id", "text"))
    val rows = docs.select($"doc_id",
        GraftFunctions.minhash_md5_signature($"text", 2, 16).as("fused"),
        graft.ops.Dedup.minhashMd5SignatureHof($"text", 2, 16).as("hof"))
      .collect()
    assert(rows.length === 506)
    rows.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2),
        s"doc ${r.getLong(0)}: null disagreement")
      if (!r.isNullAt(1)) {
        assert(r.getSeq[Long](1) === r.getSeq[Long](2),
          s"doc ${r.getLong(0)}: fused != hof")
        assert(r.getSeq[Long](1).length === 16)
        assert(r.getSeq[Long](1).forall(v => v >= 0 && v < (1L << 60)))
      }
    }
    // "solo" has < 2 tokens → null in both paths
    val solo = rows.find(_.getLong(0) == 9005L).get
    assert(solo.isNullAt(1) && solo.isNullAt(2))
  }

  test("GraftExtensions injects cosine_sim at session build time") {
    // a new session shares the SparkContext but none of the parent's
    // temp functions: only the injected extension resolves the name
    val s2 = spark.newSession()
    assert(s2.sql("SELECT cosine_sim(array(1.0d), array(1.0d))")
      .collect()(0).getDouble(0) === 1.0)
  }
}
