package graft

import graft.ops.Relational
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property-based checks (SURVEY.md §5.4). Sample counts are kept
  * small — each evaluation plans and runs real Spark jobs. */
object EngineProperties extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private lazy val spark: SparkSession = TestSession.spark

  private val someDoubles: Gen[List[Option[Double]]] =
    Gen.listOfN(30, Gen.option(Gen.choose(-1e6, 1e6)))
      .suchThat(_.exists(_.isDefined))

  property("meanFillAgg: output has no nulls, non-nulls unchanged, fill within [min,max]") =
    forAll(someDoubles) { xs =>
      import spark.implicits._
      val df = xs.toDF("v")
      val filled = Relational.meanFillAgg(df, Seq("v"))
        .as[Double].collect().toList
      val defined = xs.flatten
      val (lo, hi) = (defined.min, defined.max)
      val counts = filled.groupBy(identity).view.mapValues(_.size).toMap
      val subMultiset = defined.groupBy(identity).forall {
        case (v, vs) => counts.getOrElse(v, 0) >= vs.size
      }
      Prop.all(
        filled.size == xs.size,
        filled.forall(v => v >= lo - 1e-6 && v <= hi + 1e-6),
        subMultiset)
    }

  property("exactSampleByHash: exact size, deterministic, subset of input") =
    forAll(Gen.choose(1, 200), Gen.choose(1, 50)) { (rows, n) =>
      val df = spark.range(rows).toDF("id")
      val a = Relational.exactSampleByHash(df, col("id"), n)
        .collect().map(_.getLong(0)).toList
      val b = Relational.exactSampleByHash(df, col("id"), n)
        .collect().map(_.getLong(0)).toList
      Prop.all(
        a.size == math.min(rows, n),
        a == b,
        a.forall(x => x >= 0 && x < rows))
    }

  property("seededSplit: disjoint and exhaustive for any seed") =
    forAll(Gen.choose(0L, 10000L)) { seed =>
      val df = spark.range(300).toDF("id")
      val Array(tr, te) = Relational.seededSplit(df, Array(0.8, 0.2), seed)
      val (a, b) = (tr.collect().map(_.getLong(0)).toSet,
        te.collect().map(_.getLong(0)).toSet)
      Prop.all((a & b).isEmpty, (a | b).size == 300)
    }

  property("ruleOverride: monotone in each conjunct direction") =
    forAll(Gen.choose(0, 60000), Gen.choose(0, 400000), Gen.choose(0, 200000)) {
      (income, loan, prop) =>
        import spark.implicits._
        // if (income, loan, prop) triggers, then any more-extreme point
        // (lower income, higher loan, lower property) also triggers
        val pts = Seq(
          (income, loan, prop),
          (income / 2, loan * 2, prop / 2))
        val out = pts.toDF("income", "loan_amount", "property_value")
          .select(Relational.ruleOverride(lit(1.0), col("income"),
            col("loan_amount"), col("property_value")).as("p"))
          .as[Double].collect()
        Prop(out(0) != 0.0 || out(1) == 0.0)
    }

  property("decSum: invariant under permutation and partitioning") =
    forAll(Gen.listOfN(50, Gen.choose(-1e4, 1e4)), Gen.choose(1, 8)) {
      (xs, parts) =>
        import spark.implicits._
        val a = xs.toDF("v").repartition(parts)
          .agg(Relational.decSum(col("v"))).collect()(0).get(0)
        val b = scala.util.Random.shuffle(xs).toDF("v")
          .agg(Relational.decSum(col("v"))).collect()(0).get(0)
        Prop(a == b)
    }

  property("argmax: returns index of maximum") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-100.0, 100.0)).map(_.take(10))) { xs =>
      import spark.implicits._
      val got = Seq(xs).toDF("scores")
        .select(Relational.argmax(col("scores"))).as[Int].collect()(0)
      Prop(xs(got) == xs.max)
    }

  /** Random (key, nullable score) tables with heavy ties: the
    * TopKRewrite plan must return the same (key, score) multiset as
    * the untouched row_number window plan — including groups padded
    * out of null scores (NULLS LAST parity). */
  private val keyedScores: Gen[(List[(Int, Option[Double])], Int)] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(0, 4)
      // tiny value domain → frequent score ties across and within keys
      v <- Gen.option(Gen.choose(0, 3).map(_.toDouble))
    } yield (k, v))
    k <- Gen.choose(1, 4)
  } yield (rows, k)

  private val asOfData: Gen[(List[(Int, Int, Int)], List[(Int, Int, Long, Double)])] =
    for {
      nl <- Gen.choose(1, 15)
      nr <- Gen.choose(0, 15)
      left <- Gen.listOfN(nl, for {
        k <- Gen.choose(0, 3); t <- Gen.choose(0, 20); id <- Gen.choose(0, 99)
      } yield (k, t, id))
      right <- Gen.listOfN(nr, for {
        k <- Gen.choose(0, 3); t <- Gen.choose(0, 20)
        pid <- Gen.choose(0L, 12L); v <- Gen.choose(0.0, 9.0)
      } yield (k, t, pid, v))
    } yield (left, right)

  property("asOfJoin == brute-force latest-at-or-before, greatest tiebreak wins") =
    forAll(asOfData) { case (lRows, rRows) =>
      import spark.implicits._
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:${m}%02d:00")
      val l = lRows.map { case (k, t, id) => (k, ts(t), id) }.toDF("k", "ts", "lid")
      val r = rRows.map { case (k, t, pid, v) => (k, ts(t), pid, v) }
        .toDF("k", "ts", "pid", "pval")
      val got = graft.ops.AsOf
        .asOfJoin(l, r, Seq("k"), "ts", "ts", Seq("pid", "pval"),
          tiebreak = Some("pid"))
        .collect()
        .map(x => (x.getInt(0), x.getTimestamp(1), x.getInt(2),
          Option(x.get(3)).map(_.asInstanceOf[Long])))
        .toList.sorted(Ordering.by((t: (Int, java.sql.Timestamp, Int, Option[Long])) =>
          (t._1, t._2.getTime, t._3, t._4.getOrElse(-1L))))
      val expected = lRows.map { case (k, t, id) =>
        val cands = rRows.filter(rr => rr._1 == k && rr._2 <= t)
        val best = if (cands.isEmpty) None
          else Some(cands.maxBy(rr => (rr._2, rr._3))._3)
        (k, ts(t), id, best)
      }.sorted(Ordering.by((t: (Int, java.sql.Timestamp, Int, Option[Long])) =>
        (t._1, t._2.getTime, t._3, t._4.getOrElse(-1L))))
      Prop(got == expected) :| s"got=$got expected=$expected"
    }

  private val rangeData: Gen[(List[Double], List[(Double, Double)], Double)] =
    for {
      pts <- Gen.listOfN(20, Gen.choose(-50.0, 50.0))
      ivs <- Gen.listOfN(8, for {
        lo <- Gen.choose(-50.0, 50.0); span <- Gen.choose(0.0, 15.0)
      } yield (lo, lo + span))
      bw <- Gen.oneOf(1.0, 3.0, 7.5, 20.0)
    } yield (pts, ivs, bw)

  property("binnedRangeJoin == brute-force interval containment, any bin width") =
    forAll(rangeData) { case (pts, ivs, bw) =>
      import spark.implicits._
      val p = pts.zipWithIndex.map { case (v, i) => (i, v) }.toDF("pid", "v")
      val iv = ivs.zipWithIndex.map { case ((lo, hi), i) => (i, lo, hi) }
        .toDF("iid", "lo", "hi")
      val got = graft.ops.Ranges.binnedRangeJoin(p, "v", iv, "lo", "hi", bw)
        .select("pid", "iid").collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      val expected = (for {
        (v, pi) <- pts.zipWithIndex
        ((lo, hi), ii) <- ivs.zipWithIndex
        if v >= lo && v <= hi
      } yield (pi, ii)).toSet
      Prop(got == expected) :| s"binWidth=$bw diff=${got.diff(expected)}/${expected.diff(got)}"
    }

  property("forwardFill == naive last-non-null scan per key") =
    forAll(Gen.listOfN(25, for {
      k <- Gen.choose(0, 2); o <- Gen.choose(0, 999)
      v <- Gen.option(Gen.choose(0.0, 9.0))
    } yield (k, o, v))) { rows =>
      import spark.implicits._
      // unique (k, o) so ordering is total
      val uniq = rows.groupBy(r => (r._1, r._2)).map(_._2.head).toList
      val df = uniq.toDF("k", "o", "v")
      val got = graft.ops.Relational
        .forwardFill(df, "v", Seq("k"), Seq(col("o")))
        .collect().map(r => ((r.getInt(0), r.getInt(1)),
          Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
      val expected = uniq.groupBy(_._1).flatMap { case (_, grp) =>
        val sorted = grp.sortBy(_._2)
        var last: Option[Double] = None
        sorted.map { case (k, o, v) =>
          if (v.isDefined) last = v
          ((k, o), last)
        }
      }
      Prop(got == expected)
    }

  private val wordLists: Gen[(List[String], List[String])] = {
    val word = Gen.oneOf("a", "b", "c", "d", "e", "f")
    for {
      x <- Gen.listOfN(8, word)
      y <- Gen.listOfN(8, word)
    } yield (x, y)
  }

  property("jaccard == |A∩B| / |A∪B| on the hashed shingle sets") =
    forAll(wordLists) { case (xs, ys) =>
      import spark.implicits._
      val df = Seq((xs.mkString(" "), ys.mkString(" "))).toDF("a", "b")
      val got = df.select(graft.ops.Dedup.jaccard(
        graft.functions.GraftFunctions.hashed_shingles(col("a"), 1),
        graft.functions.GraftFunctions.hashed_shingles(col("b"), 1)))
        .as[Double].collect()(0)
      val (sa, sb) = (xs.toSet, ys.toSet)
      val expected = sa.intersect(sb).size.toDouble / sa.union(sb).size
      Prop(math.abs(got - expected) < 1e-12) :| s"got=$got expected=$expected"
    }

  property("bm25Scores == driver-side reference of the same rounded-decimal formula") =
    forAll(
      Gen.listOfN(6, Gen.nonEmptyListOf(
        Gen.oneOf("ape", "bee", "cat", "dog", "elk")).map(_.take(8))),
      Gen.nonEmptyListOf(Gen.oneOf("ape", "bee", "cat", "dog", "elk"))
        .map(_.take(3))) { (docsT, queryT) =>
      import spark.implicits._
      val docs = docsT.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val q = Seq((0L, queryT.mkString(" "))).toDF("query_id", "query_text")
      val got = graft.ops.Retrieval.bm25Scores(docs, q)
        .select($"doc_id", $"score".cast("double"))
        .as[(Long, Double)].collect().toMap
      // reference: identical formula, driver-side — one IEEE division
      // per factor, HALF_UP round to 6, exact BigDecimal sums
      val n = docsT.size.toDouble
      val t = docsT.map(_.size).sum.toDouble
      def r6(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val df_ = docsT.flatMap(_.distinct).groupBy(identity).view
        .mapValues(_.size.toDouble).toMap
      val expected = docsT.zipWithIndex.flatMap { case (ws, i) =>
        val dl = ws.size.toDouble
        val terms = queryT.distinct.filter(ws.contains)
        if (terms.isEmpty) None
        else Some(i.toLong -> terms.map { w =>
          val dfv = df_(w)
          val tf = ws.count(_ == w).toDouble
          val idf = r6(math.log((2.0 * n - 2.0 * dfv + 1.0) / (2.0 * dfv + 1.0)))
          val tfp = r6((11.0 * tf * t) /
            (10.0 * t * tf + 3.0 * t + 9.0 * dl * n))
          idf * tfp
        }.sum.toDouble)
      }.toMap
      Prop(got == expected) :| s"got=$got expected=$expected"
    }

  property("tokens_in_set native == HOF filter+isin, incl. repeated spaces") =
    forAll(Gen.listOfN(12,
      Gen.oneOf("the", "a", "zz", "", "of", "qqq", " "))) { parts =>
      import spark.implicits._
      val text = parts.mkString(" ") // empty parts create repeated spaces
      val words = graft.ops.TextAnalysis.Stopwords
      val row = Seq(text).toDF("text")
        .select(
          graft.ops.TextAnalysis.tokensInSet(col("text"), words).as("native"),
          size(filter(split(col("text"), " "),
            t => t.isin(words: _*))).as("hof"))
        .collect()(0)
      Prop(row.getInt(0) == row.getInt(1)) :|
        s"native=${row.getInt(0)} hof=${row.getInt(1)} text='$text'"
    }

  property("ngrams_in_set native == HOF char-window substrings, incl. unicode") =
    forAll(Gen.listOfN(20,
      Gen.oneOf("t", "h", "e", "i", "n", "g", " ", "é", "中"))) { chars =>
      import spark.implicits._
      val text = chars.mkString
      val grams = graft.ops.TextAnalysis.CharNgramProfiles.head._2
      val lowered = lower(col("text"))
      val tris = when(length(lowered) >= 3,
        transform(sequence(lit(1), length(lowered) - 2),
          i => call_function("substring", lowered, i, lit(3))))
        .otherwise(array().cast("array<string>"))
      val row = Seq(text).toDF("text")
        .select(
          graft.functions.GraftFunctions.ngrams_in_set(lowered, grams).as("native"),
          size(filter(tris, t => t.isin(grams: _*))).as("hof"))
        .collect()(0)
      Prop(row.getInt(0) == row.getInt(1)) :|
        s"native=${row.getInt(0)} hof=${row.getInt(1)} text='$text'"
    }

  property("minhash signature agreement estimates jaccard (sketch soundness)") =
    forAll(wordLists) { case (xs, ys) =>
      import spark.implicits._
      val (a, b) = (xs.mkString(" "), ys.mkString(" "))
      val row = Seq((a, b)).toDF("a", "b")
        .select(
          graft.ops.Dedup.minhashSignature(
            graft.functions.GraftFunctions.hashed_shingles(col("a"), 1), 64).as("sa"),
          graft.ops.Dedup.minhashSignature(
            graft.functions.GraftFunctions.hashed_shingles(col("b"), 1), 64).as("sb"),
          graft.ops.Dedup.jaccard(
            graft.functions.GraftFunctions.hashed_shingles(col("a"), 1),
            graft.functions.GraftFunctions.hashed_shingles(col("b"), 1)).as("j"))
        .collect()(0)
      val (sa, sb) = (row.getSeq[Long](0), row.getSeq[Long](1))
      val estimate = sa.zip(sb).count { case (x, y) => x == y }.toDouble / 64
      val j = row.getDouble(2)
      // 64 hashes -> stderr <= sqrt(0.25/64) ~= 0.0625; 4 sigma bound
      Prop(math.abs(estimate - j) <= 0.25) :| s"estimate=$estimate jaccard=$j"
    }

  property("qualityScore is always within [0, 1]") =
    forAll(Gen.nonEmptyListOf(Gen.alphaStr.map(_.take(15))).map(_.take(30))) { ws =>
      import spark.implicits._
      val q = Seq(ws.mkString(" ")).toDF("text")
        .select(graft.ops.TextAnalysis.qualityScore(col("text")))
        .as[Double].collect()(0)
      Prop(q >= 0.0 && q <= 1.0) :| s"quality=$q for ${ws.take(3)}..."
    }

  property("TopKRewrite: rewritten plan == window plan as (key,score) multiset") =
    forAll(keyedScores) { case (rows, k) =>
      import graft.plans.TopKRewriteRule
      import org.apache.spark.sql.expressions.Window
      import spark.implicits._
      val df = rows.toDF("k", "v")
      val w = Window.partitionBy(col("k")).orderBy(col("v").desc)
      def idiom = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn")
      def multiset(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getInt(0), Option(r.get(1)))).toList
          .sortBy(t => (t._1, t._2.map(_.asInstanceOf[Double]).getOrElse(-1.0)))
      val plain = multiset(idiom)
      spark.conf.set(TopKRewriteRule.ConfKey, "true")
      try {
        val rewritten = idiom
        val fired = rewritten.queryExecution.optimizedPlan
          .collect { case t: graft.plans.TopKPerGroup => t }.nonEmpty
        Prop(fired) :| "rule must fire on the idiom" &&
          Prop(multiset(rewritten) == plain) :| s"multiset mismatch k=$k"
      } finally spark.conf.set(TopKRewriteRule.ConfKey, "false")
    }

  private val spaceyText: Gen[String] =
    Gen.listOf(Gen.frequency(
      5 -> Gen.alphaNumChar,
      2 -> Gen.const(' '),
      1 -> Gen.oneOf('é', 'ü', '€', '語')))
      .map(_.mkString)

  private val weights: Gen[List[Double]] =
    Gen.listOfN(20, Gen.oneOf(Gen.const(0.0), Gen.choose(0.0, 4.0)))

  property("replicateByWeight: copy count per row is floor(w) or floor(w)+1, " +
      "copy indices are exactly 1..n, deterministic") =
    forAll(weights) { ws =>
      import spark.implicits._
      val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("id", "w")
      def run() = Relational.replicateByWeight(df, "id", col("w"))
        .select($"id", $"copy").as[(Long, Long)].collect().toSeq
      val out = run()
      val byId = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      val perRowOk = ws.zipWithIndex.forall { case (w, i) =>
        val copies = byId.getOrElse(i.toLong, Seq.empty)
        val n = copies.size
        (n == math.floor(w).toLong || n == math.floor(w).toLong + 1) &&
          copies == (1L to n).toSeq
      }
      Prop.all(perRowOk, out.toSet == run().toSet)
    }

  property("deterministicShuffle: positions are a permutation of 1..n; " +
      "same seed reproduces, different seed permutes differently") =
    forAll(Gen.choose(5, 40)) { n =>
      import spark.implicits._
      val df = (0 until n).map(_.toLong).toDF("id")
      def pos(seed: Long) = Relational.deterministicShuffle(df, "id", seed)
        .select($"id", $"pos").as[(Long, Long)].collect().toMap
      val p1 = pos(42L)
      val p2 = pos(42L)
      val p3 = pos(43L)
      Prop.all(
        p1.values.toSeq.sorted == (1L to n).toSeq,
        p1 == p2,
        // n>=5 → 1/n! collision chance is negligible and deterministic
        p1 != p3)
    }

  property("qualityBudgetCut: survivors fit the budget and are exactly the " +
      "maximal quality-ordered prefix") =
    forAll(Gen.listOfN(15, Gen.zip(Gen.choose(0.0, 1.0), Gen.choose(1L, 40L)))) {
      qs =>
        import spark.implicits._
        val df = qs.zipWithIndex.map { case ((q, t), i) => (i.toLong, q, t) }
          .toDF("id", "q", "toks")
        val budget = 100L
        val got = graft.ops.Curation.qualityBudgetCut(
            df, col("q"), "id", col("toks"), budget)
          .select($"id").as[Long].collect().toSet
        // reference: walk the (q desc, id) order accumulating tokens
        val want = qs.zipWithIndex
          .map { case ((q, t), i) => (i.toLong, q, t) }
          .sortBy { case (i, q, _) => (-q, i) }
          .scanLeft(((-1L, 0.0, 0L), 0L)) { case ((_, acc), row) =>
            (row, acc + row._3)
          }.tail
          .takeWhile(_._2 <= budget)
          .map(_._1._1).toSet
        Prop(got == want) :| s"got $got want $want"
    }

  property("SimHash64 fused expression == interpreted HOF on arbitrary text") =
    forAll(Gen.listOfN(8, spaceyText)) { texts =>
      import spark.implicits._
      val rows = texts.toDF("text")
        .select(
          graft.functions.GraftFunctions.simhash64(col("text")).as("fused"),
          graft.ops.Dedup.simhash64Hof(col("text")).as("hof"))
        .collect()
      Prop.all(rows.map(r =>
        Prop(r.getLong(0) == r.getLong(1)) :|
          s"fused ${r.getLong(0)} != hof ${r.getLong(1)}"): _*)
    }

  property("SimHash64Md5 fused expression == interpreted HOF on arbitrary text") =
    forAll(Gen.listOfN(6, spaceyText)) { texts =>
      import spark.implicits._
      val rows = texts.toDF("text")
        .select(
          graft.functions.GraftFunctions.simhash64_md5(col("text")).as("fused"),
          graft.ops.Dedup.simhash64Md5Hof(col("text")).as("hof"))
        .collect()
      Prop.all(rows.map(r =>
        Prop(r.getLong(0) == r.getLong(1) &&
            r.getLong(0) >= 0 && r.getLong(0) < (1L << 60)) :|
          s"fused ${r.getLong(0)} != hof ${r.getLong(1)}"): _*)
    }

  property("CdcChunkStarts fused expression == interpreted HOF on arbitrary " +
      "text and modulus") =
    forAll(Gen.listOfN(5, spaceyText), Gen.oneOf(1, 3, 7, 20)) {
      (texts, target) =>
        import spark.implicits._
        val rows = texts.toDF("text")
          .select(
            graft.functions.GraftFunctions
              .cdc_chunk_starts(col("text"), target).as("fused"),
            graft.ops.TextAnalysis.cdcStartsHof(col("text"), target).as("hof"))
          .collect()
        Prop.all(rows.map(r =>
          Prop(r.getSeq[Int](0) == r.getSeq[Int](1)) :|
            s"fused ${r.getSeq[Int](0)} != hof ${r.getSeq[Int](1)}"): _*)
    }

  property("SqEuclideanDistance fused expression == interpreted HOF, " +
      "bit-identical fold order") =
    forAll(Gen.choose(1, 32).flatMap(n =>
      Gen.zip(Gen.listOfN(n, Gen.choose(-1e3, 1e3)),
        Gen.listOfN(n, Gen.choose(-1e3, 1e3))))) { case (a, b) =>
      import spark.implicits._
      val row = Seq((a, b)).toDF("a", "b")
        .select(
          graft.functions.GraftFunctions.sq_euclidean(col("a"), col("b"))
            .as("fused"),
          graft.ops.Similarity.sqEuclideanHof(col("a"), col("b")).as("hof"))
        .collect()(0)
      Prop(row.getDouble(0) == row.getDouble(1)) :|
        s"fused ${row.getDouble(0)} != hof ${row.getDouble(1)}"
    }

  property("groupAwareSplit: every group lands wholly on one side for any " +
      "seed and fraction") =
    forAll(Gen.choose(0L, 999L), Gen.choose(0.0, 1.0),
      Gen.listOfN(30, Gen.choose(0, 5))) { (seed, frac, groups) =>
      import spark.implicits._
      val df = groups.zipWithIndex.map { case (g, i) => (i.toLong, s"g$g") }
        .toDF("id", "g")
      val out = Relational.groupAwareSplit(df, col("g"), frac, seed)
        .select($"g", $"is_test").collect()
        .map(r => (r.getString(0), r.getBoolean(1)))
      val sidesPerGroup = out.groupBy(_._1).values.map(_.map(_._2).toSet.size)
      Prop(sidesPerGroup.forall(_ == 1)) :| s"straddling group at seed $seed"
    }
}
