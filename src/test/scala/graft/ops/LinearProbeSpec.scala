package graft.ops

import graft.SparkSpec
import graft.sources.TaggedSidecar
import org.apache.spark.sql.functions._

class LinearProbeSpec extends SparkSpec {
  import spark.implicits._

  // --- fitFromGram: exact integer GD against hand-computed values ---
  // rows (f1, y): (0.0, 0), (0.5, 1), (1.0, 1); d = 2 (intercept + f1)
  // Hand Gram (featScale 1e6): G = [[3e12, 1.5e12], [1.5e12, 1.25e12]],
  // B = [2e6, 1.5e6], n = 3. Two lr=1/4 iterations, worked by hand:
  //   it1: U = (-2e9, -1.5e9)        → T = (166666666, 125000000)
  //   it2: U = (-1312500002, -1093750001) → T = (276041666, 216145833)
  test("fitFromGram replays the exact integer GD recurrence") {
    val g = Array(
      Array(BigInt("3000000000000"), BigInt("1500000000000")),
      Array(BigInt("1500000000000"), BigInt("1250000000000")))
    val b = Array(BigInt(2000000), BigInt(1500000))
    val t = LinearProbe.fitFromGram(g, b, n = 3, iters = 2)
    assert(t.toSeq === Seq(BigInt(276041666), BigInt(216145833)))
  }

  test("scaled + gram reproduce the hand Gram; scoreFp the hand scores") {
    val df = Seq((1L, 0.0, 0L), (2L, 0.5, 1L), (3L, 1.0, 1L))
      .toDF("id", "x", "y")
    val s = LinearProbe.scaled(df, Seq("x"), col("y"))
    val (g, b, n) = LinearProbe.gram(s, 2)
    assert(n === 3L)
    assert(g(0)(0) === BigInt("3000000000000") &&
      g(0)(1) === BigInt("1500000000000") &&
      g(1)(1) === BigInt("1250000000000"))
    assert(b.toSeq === Seq(BigInt(2000000), BigInt(1500000)))
    val t = LinearProbe.fitFromGram(g, b, n, iters = 2)
    val scores = LinearProbe.scoreFp(s, 2, t)
      .orderBy("id").select("score_fp").as[Long].collect().toSeq
    assert(scores === Seq(276041666L, 384114582L, 492187499L))
  }

  test("a separable label is learned: probe AUC = 1.0") {
    val rows = (0 until 40).map { i =>
      val x = i / 39.0
      (i.toLong, x, if (x > 0.5) 1L else 0L)
    }
    val df = rows.toDF("id", "x", "y")
    val s = LinearProbe.scaled(df, Seq("x"), col("y"))
    val t = LinearProbe.fit(df, Seq("x"), col("y"), iters = 24)
    val scored = LinearProbe.scoreFp(s, 2, t)
    val auc = LinearProbe.rankingAuc(scored, col("score_fp"), col("id"),
      col("__y")).select("auc").as[Double].collect()(0)
    assert(auc === 1.0, s"separable data must rank perfectly, got $auc")
  }

  test("NULL contract: invalid rows contribute nothing to the Gram and " +
      "score NULL (groupedOls discipline, no pushable row filter)") {
    val df = Seq(
      (1L, Some(0.5), Some(1L)),
      (2L, None, Some(0L)),
      (3L, Some(0.25), None)).toDF("id", "x", "y")
    val s = LinearProbe.scaled(df, Seq("x"), col("y"))
    // rows are KEPT (the validity lives in the projection, so Catalyst
    // can never push an expression filter into the scan)…
    assert(s.count() === 3L)
    // …but n and every moment see only the one complete row
    val (g, b, n) = LinearProbe.gram(s, 2)
    assert(n === 1L)
    assert(g(0)(0) === BigInt("1000000000000") &&
      g(1)(1) === BigInt("250000000000") && b(0) === BigInt(1000000))
    // and the invalid rows' scores null-propagate
    val sc = LinearProbe.scoreFp(s, 2,
        Array(BigInt(1000000000), BigInt(0)))
      .orderBy("id").select("score_fp").collect()
    assert(!sc(0).isNullAt(0) && sc(1).isNullAt(0) && sc(2).isNullAt(0))
  }

  test("writeGramDeletion: sidecar minus a batch fits BIT-EQUAL to a " +
      "from-scratch fit over the remaining rows; empty deletion is a " +
      "no-op append") {
    val dir = s"target/tmp/probe_unlearn_spec_${System.nanoTime()}"
    graft.sources.Sinks.wipeForRebuild(spark, dir)
    val df = (1 to 40).map(i =>
        (i.toLong, (i % 7) / 7.0, (i % 3) / 3.0, (i % 2).toLong))
      .toDF("id", "x1", "x2", "y")
    val s = LinearProbe.scaled(df, Seq("x1", "x2"), col("y"))
    LinearProbe.writeGramSidecar(s.filter(col("id") <= 20L), 3, dir)
    LinearProbe.writeGramSidecar(s.filter(col("id") > 20L), 3, dir)
    // forget ids 1..10 by moment subtraction + compaction
    LinearProbe.writeGramDeletion(s.filter(col("id") <= 10L), 3, dir)
    LinearProbe.compactGramSidecar(spark, dir, 3)
    val unlearned = LinearProbe.fitFromSidecar(spark, dir, 3, iters = 8)
    val (g, b, n) = LinearProbe.gram(s.filter(col("id") > 10L), 3)
    val scratch = LinearProbe.fitFromGram(g, b, n, iters = 8)
    assert(unlearned.toSeq === scratch.toSeq)
    // exactly one compacted moment row; an empty deletion adds none
    assert(spark.read.parquet(dir).count() === 1L)
    LinearProbe.writeGramDeletion(s.filter(col("id") > 999L), 3, dir)
    assert(spark.read.parquet(dir).count() === 1L)
  }

  test("batch-tagged Gram sidecar: replayed appends and retried " +
      "deletions collapse at read — the exactly-once contract") {
    val dir = s"target/tmp/probe_tagged_spec_${System.nanoTime()}"
    graft.sources.Sinks.wipeForRebuild(spark, dir)
    val df = (1 to 40).map(i =>
        (i.toLong, (i % 7) / 7.0, (i % 3) / 3.0, (i % 2).toLong))
      .toDF("id", "x1", "x2", "y")
    val s = LinearProbe.scaled(df, Seq("x1", "x2"), col("y"))
    val (lo, hi) = (s.filter(col("id") <= 20L), s.filter(col("id") > 20L))
    LinearProbe.writeGramSidecar(lo, 3, dir, Some("b0"))
    LinearProbe.writeGramSidecar(hi, 3, dir, Some("b1"))
    val theta = LinearProbe.fitFromSidecar(spark, dir, 3, iters = 8)
    // crash-replayed append of b1: identical moments, same id — a
    // no-op at every read (the untagged contract would double-count)
    LinearProbe.writeGramSidecar(hi, 3, dir, Some("b1"))
    assert(LinearProbe.fitFromSidecar(spark, dir, 3, iters = 8).toSeq
      === theta.toSeq)
    // retried deletion (the ADVICE-r15 takedown-tooling trap): the
    // same deletion id subtracts AT MOST ONCE however often retried
    LinearProbe.writeGramDeletion(lo, 3, dir, Some("__del__:b0"))
    LinearProbe.writeGramDeletion(lo, 3, dir, Some("__del__:b0"))
    val afterDel = LinearProbe.fitFromSidecar(spark, dir, 3, iters = 8)
    val (g, b, n) = LinearProbe.gram(hi, 3)
    assert(afterDel.toSeq ===
      LinearProbe.fitFromGram(g, b, n, iters = 8).toSeq)
    // compaction collapses duplicate tags BEFORE summing, merges live
    // batches into the sentinel row, and PRESERVES the deletion row
    // UNMERGED (ADVICE r16): the batch-id evidence a post-compaction
    // deletion retry collapses against must survive the rewrite
    LinearProbe.compactGramSidecar(spark, dir, 3)
    assert(spark.read.parquet(dir).select("batch_id").collect()
      .map(_.getString(0)).sorted.toSeq
      === Seq(TaggedSidecar.CompactedBatchId, "__del__:b0"))
    assert(LinearProbe.fitFromSidecar(spark, dir, 3, iters = 8).toSeq
      === afterDel.toSeq)
    // the takedown retried AFTER the cadenced compaction — the ADVICE
    // r16 silent-double-subtraction window: still a no-op, because the
    // preserved deletion row is what the retry dedups against
    LinearProbe.writeGramDeletion(lo, 3, dir, Some("__del__:b0"))
    assert(LinearProbe.fitFromSidecar(spark, dir, 3, iters = 8).toSeq
      === afterDel.toSeq)
    // and compaction stays idempotent over its own output
    LinearProbe.compactGramSidecar(spark, dir, 3)
    assert(LinearProbe.fitFromSidecar(spark, dir, 3, iters = 8).toSeq
      === afterDel.toSeq)
    // mixed tagged/untagged appends fail loud, not silently drop tags
    val e = intercept[IllegalArgumentException] {
      LinearProbe.writeGramSidecar(hi, 3, dir)
    }
    assert(e.getMessage.contains("batch-tagged"))
  }

  test("Gram sidecar: weights fitted after two tagged appends are " +
      "bit-equal to a from-scratch fit over everything ingested") {
    val sidecar = s"target/tmp/probe_two_batch_spec_${System.nanoTime()}"
    graft.sources.Sinks.wipeForRebuild(spark, sidecar)
    // per-row [0,1] features (the LinearProbe convergence contract);
    // deterministic synthetic rows so the fit is non-trivial
    val rows = (1L to 60L).map { i =>
      (i, (i % 7).toDouble / 7.0, (i % 3).toDouble / 3.0,
        if (i % 2 == 0) 1L else 0L)
    }
    val (b1, b2) = rows.splitAt(25)
    Seq(b1 -> "b0", b2 -> "b1").foreach { case (b, tag) =>
      val scaled = LinearProbe.scaled(b.toDF("id", "fa", "fb", "y"),
        Seq("fa", "fb"), col("y"))
      LinearProbe.writeGramSidecar(scaled, 3, sidecar, Some(tag))
    }
    LinearProbe.compactGramSidecar(spark, sidecar, 3)
    val twoBatch = LinearProbe.fitFromSidecar(spark, sidecar, 3, iters = 24)
    val oneShot = LinearProbe.fit(rows.toDF("id", "fa", "fb", "y"),
      Seq("fa", "fb"), $"y", iters = 24)
    assert(twoBatch.toSeq === oneShot.toSeq)
    // compaction left exactly one moment row
    assert(spark.read.parquet(sidecar).count() === 1L)
  }

  test("divergence is loud: out-of-contract feature magnitudes raise") {
    // features must be in [0,1]; constant 1000.0 gives Hessian trace
    // ~1e6 so lr=1/4 explodes — the |theta| <= 32 guard must fire,
    // never a silent wrap.
    val df = (1 to 10).map(i => (i.toLong, 1000.0, (i % 2).toLong))
      .toDF("id", "x", "y")
    val e = intercept[IllegalArgumentException] {
      LinearProbe.fit(df, Seq("x"), col("y"), iters = 24)
    }
    assert(e.getMessage.contains("diverged"))
  }

  test("rankingAuc hand case with score ties broken by id") {
    // (score, id, y): (5,1,1) (5,2,0) (3,3,1) (1,4,0)
    // order by (score, id): ranks — id4:1, id3:2, id1:3, id2:4
    // rank_sum(pos) = 2 + 3 = 5; U = 5 - 2*3/2 = 2; AUC = 2/(2*2) = 0.5
    val df = Seq((5L, 1L, 1L), (5L, 2L, 0L), (3L, 3L, 1L), (1L, 4L, 0L))
      .toDF("s", "id", "y")
    val r = LinearProbe.rankingAuc(df, col("s"), col("id"), col("y"))
      .collect()(0)
    assert(r.getAs[Long]("n_pos") === 2L && r.getAs[Long]("n_neg") === 2L)
    assert(r.getAs[Long]("u_num") === 2L)
    assert(r.getAs[Double]("auc") === 0.5)
  }

  test("rankingAuc single-class input yields NULL auc, not 0/0") {
    val df = Seq((5L, 1L, 1L), (3L, 2L, 1L)).toDF("s", "id", "y")
    val r = LinearProbe.rankingAuc(df, col("s"), col("id"), col("y"))
      .collect()(0)
    assert(r.isNullAt(r.fieldIndex("auc")))
    assert(r.getAs[Long]("u_num") === 0L) // ranks 1+2 minus 2*3/2
  }

  test("reserved-name guard: inputs already carrying __f*/__y/__num " +
      "are rejected loudly, never silently duplicated") {
    val clash1 = Seq((1L, 0.5, 1L, 7L)).toDF("id", "x", "y", "__f1")
    val e1 = intercept[IllegalArgumentException] {
      LinearProbe.scaled(clash1, Seq("x"), col("y"))
    }
    assert(e1.getMessage.contains("__f1"))
    val clash2 = Seq((1L, 0.5, 1L, 7L)).toDF("id", "x", "y", "__y")
    val e2 = intercept[IllegalArgumentException] {
      LinearProbe.scaled(clash2, Seq("x"), col("y"))
    }
    assert(e2.getMessage.contains("__y"))
    val ok = LinearProbe.scaled(
      Seq((1L, 0.5, 1L)).toDF("id", "x", "y"), Seq("x"), col("y"))
    val e3 = intercept[IllegalArgumentException] {
      LinearProbe.scoreFp(ok.withColumn("__num", lit(1L)), 2,
        Array(BigInt(1), BigInt(1)))
    }
    assert(e3.getMessage.contains("__num"))
    // round-13 ADVICE: an existing score_fp must be rejected too, not
    // silently REPLACED by the withColumn
    val e4 = intercept[IllegalArgumentException] {
      LinearProbe.scoreFp(ok.withColumn("score_fp", lit(1L)), 2,
        Array(BigInt(1), BigInt(1)))
    }
    assert(e4.getMessage.contains("score_fp"))
  }
}
