package graft.ops

import graft.SparkSpec
import graft.sources.TaggedSidecar
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("incremental sidecar == from-scratch: shard-wise sketch union " +
      "gives IDENTICAL estimates to one global sketch") {
    val docs = Tables.documents(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("sketch").toString + "/s"
    // two shard ingests (even/odd doc_id halves), appended separately
    Sketches.writeSketchSidecar(
      docs.filter($"doc_id" % 2 === 0), Seq("source"), "text", dir)
    Sketches.writeSketchSidecar(
      docs.filter($"doc_id" % 2 === 1), Seq("source"), "text", dir)
    val merged = Sketches.mergedDistinct(spark, dir, Seq("source"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    // from-scratch single sketch over the whole corpus
    val global = Sketches.distinctSketches(docs, Seq("source"), "text")
      .select($"source", $"n_rows",
        hll_sketch_estimate($"sketch").as("approx_distinct"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(merged === global) // lossless union: equality, not tolerance
  }

  test("estimates track exact distinct counts within HLL error") {
    val docs = Tables.documents(spark, sf0001)
    val approx = Sketches.distinctSketches(docs, Seq("source"), "text")
      .select($"source",
        hll_sketch_estimate($"sketch").as("approx_distinct"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val exact = docs.groupBy($"source")
      .agg(countDistinct($"text").as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (src, d) =>
      val a = approx(src).toDouble
      // lgK=12 → ~1.6% RSE; 5% absolute bound is generous and stable
      assert(math.abs(a - d) <= math.max(1.0, 0.05 * d),
        s"$src: approx $a vs exact $d")
    }
  }

  test("overlapMatrix: planted shared values surface, disjoint pairs " +
      "stay near zero") {
    // three sources: A and B share 200 of 600 values, C is disjoint
    val rows =
      (0 until 600).map(i => ("A", s"v$i")) ++
      (400 until 1000).map(i => ("B", s"v$i")) ++          // 400..599 shared
      (0 until 600).map(i => ("C", s"w$i"))
    val df = rows.toDF("source", "value")
    val m = Sketches.overlapMatrix(
        Sketches.distinctSketches(df, Seq("source"), "value"), "source")
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        r.getAs[Long]("approx_overlap"))).toMap
    // lgK=12 → ~1.6% RSE per estimate; subtraction compounds to a few %
    assert(math.abs(m(("A", "B")) - 200L) <= 30, s"A∩B ${m(("A", "B"))}")
    assert(m(("A", "C")) <= 30, s"A∩C ${m(("A", "C"))}")
    assert(m(("B", "C")) <= 30, s"B∩C ${m(("B", "C"))}")
  }

  test("rollingDistinct: trailing-window estimates equal direct " +
      "computation over the same raw rows (sketches pre-aggregate " +
      "distinct exactly)") {
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(to_date($"ts").as("day"), $"user_id")
    val daily = Sketches.periodSketches(ev, $"day", "user_id")
    val rolled = Sketches.rollingDistinct(daily, periods = 3)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(3))).toMap
    val days = daily.select($"period").collect()
      .map(_.getDate(0)).sortBy(_.toString)
    assert(days.length >= 3)
    // for each day, recompute the trailing-3-day distinct directly
    // from raw events through a fresh sketch — must match EXACTLY
    days.zipWithIndex.foreach { case (d, i) =>
      val from = days(math.max(0, i - 2))
      val direct = ev.filter($"day" >= from && $"day" <= d)
        .agg(hll_sketch_estimate(hll_sketch_agg($"user_id")))
        .head().getLong(0)
      assert(rolled(d.toString) === direct, s"day $d")
    }
  }

  test("global (no-group) sketch row works and row counts are exact") {
    val docs = Tables.documents(spark, sf0001)
    val row = Sketches.distinctSketches(docs, Nil, "text")
      .select($"n_rows", hll_sketch_estimate($"sketch").as("a"))
      .head()
    assert(row.getLong(0) === docs.count())
    val d = docs.agg(countDistinct($"text")).head().getLong(0)
    assert(math.abs(row.getLong(1).toDouble - d) <= math.max(1.0, 0.05 * d))
  }

  test("exactOverlapMatrix: planted shared grams counted exactly, " +
      "disjoint pair reports 0") {
    // sources a/b share exactly the grams of one common sentence;
    // c is disjoint from both
    val common = "alpha beta gamma delta epsilon zeta"   // 6 toks → 4 3-grams
    val docs = Seq(
      ("a", common), ("a", "one two three four five six"),
      ("b", common), ("b", "seven eight nine ten eleven twelve"),
      ("c", "thirteen fourteen fifteen sixteen seventeen eighteen")
    ).toDF("source", "text")
    val m = Sketches.exactOverlapMatrix(docs, "source", "text", n = 3)
      .orderBy($"group_a", $"group_b")
      .select($"group_a", $"group_b", $"n_a", $"n_b", $"n_shared")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    // each source: 2 docs × 4 grams = 8 distinct grams
    assert(m === Seq(
      ("a", "b", 8L, 8L, 4L),
      ("a", "c", 8L, 4L, 0L),
      ("b", "c", 8L, 4L, 0L)))
  }

  test("batch-tagged histogram sidecar: a deliberately REPLAYED append " +
      "inflates no bin at read — the round-17 exactly-once contract") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hist_tagged")
      .toString + "/h"
    val all = Seq(("a", 1.0), ("a", 7.5), ("a", 55.0), ("b", 12.0),
      ("b", 88.0)).toDF("g", "v")
    val (lo, hi, bins) = (0.0, 100.0, 10)
    Sketches.writeHistSidecar(all.filter($"v" < 50), Seq("g"), "v",
      dir, lo, hi, bins, batchId = Some("b0"))
    Sketches.writeHistSidecar(all.filter($"v" >= 50), Seq("g"), "v",
      dir, lo, hi, bins, batchId = Some("b1"))
    // the crash-replay: the whole b1 append retried
    Sketches.writeHistSidecar(all.filter($"v" >= 50), Seq("g"), "v",
      dir, lo, hi, bins, batchId = Some("b1"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"g", $"bin", $"cnt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val oneShot = canon(Sketches.histogram(all, Seq("g"), "v", lo, hi, bins))
    assert(canon(Sketches.mergedHistogram(spark, dir, Seq("g"))) === oneShot)
    // mixed tagged/untagged appends fail loud
    val e = intercept[IllegalArgumentException] {
      Sketches.writeHistSidecar(all, Seq("g"), "v", dir, lo, hi, bins)
    }
    assert(e.getMessage.contains("batch-tagged"))
  }

  test("batch-tagged sketch sidecar: a deliberately REPLAYED append " +
      "inflates n_rows neither at read nor through compaction — the round-18 " +
      "exactly-once contract (the estimates were always " +
      "duplicate-insensitive; the exact counts now are too)") {
    val docs = Tables.documents(spark, sf0001)
    val dir = java.nio.file.Files.createTempDirectory("sketch_tagged")
      .toString + "/s"
    Sketches.writeSketchSidecar(
      docs.filter($"doc_id" % 2 === 0), Seq("source"), "text", dir,
      batchId = Some("even"))
    val odd = docs.filter($"doc_id" % 2 === 1)
    Sketches.writeSketchSidecar(odd, Seq("source"), "text", dir,
      batchId = Some("odd"))
    // the crash-replay: the whole odd append retried under its tag
    Sketches.writeSketchSidecar(odd, Seq("source"), "text", dir,
      batchId = Some("odd"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"source", $"n_rows", $"approx_distinct").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val oneShot = canon(Sketches.distinctSketches(docs, Seq("source"), "text")
      .select($"source", $"n_rows",
        hll_sketch_estimate($"sketch").as("approx_distinct")))
    assert(canon(Sketches.mergedDistinct(spark, dir, Seq("source")))
      === oneShot)
    // compaction collapses the duplicate before the union/sum, carries
    // the sentinel, and merged reads stay exact
    Sketches.compactSketchSidecar(spark, dir, Seq("source"))
    assert(spark.read.parquet(dir).select($"batch_id").distinct()
      .as[String].collect().toSeq === Seq(TaggedSidecar.CompactedBatchId))
    assert(canon(Sketches.mergedDistinct(spark, dir, Seq("source")))
      === oneShot)
    // the UNTAGGED legacy contract demonstrably still double-counts —
    // the caveat the tag retires
    val dirU = java.nio.file.Files.createTempDirectory("sketch_untagged")
      .toString + "/s"
    Sketches.writeSketchSidecar(odd, Seq("source"), "text", dirU)
    Sketches.writeSketchSidecar(odd, Seq("source"), "text", dirU)
    val inflated = Sketches.mergedDistinct(spark, dirU, Seq("source"))
      .agg(sum($"n_rows")).head().getLong(0)
    assert(inflated === 2 * odd.count())
    // mixed tagged/untagged appends fail loud
    val e = intercept[IllegalArgumentException] {
      Sketches.writeSketchSidecar(odd, Seq("source"), "text", dir)
    }
    assert(e.getMessage.contains("batch-tagged"))
  }

  test("histogram sidecar: two-shard merge equals one-shot LONG-FOR-LONG " +
      "(additivity), out-of-range values clamp to edge bins") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hist_side").toString + "/h"
    val all = Seq(("a", -5.0), ("a", 0.0), ("a", 7.5), ("a", 99.9),
      ("a", 250.0), ("b", 12.0), ("b", 12.0), ("b", 88.0))
      .toDF("g", "v")
    val (lo, hi, bins) = (0.0, 100.0, 10)
    Sketches.writeHistSidecar(all.filter($"v" < 50), Seq("g"), "v",
      dir, lo, hi, bins)
    Sketches.writeHistSidecar(all.filter($"v" >= 50), Seq("g"), "v",
      dir, lo, hi, bins)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"g", $"bin", $"cnt").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val merged = canon(Sketches.mergedHistogram(spark, dir, Seq("g")))
    val oneShot = canon(Sketches.histogram(all, Seq("g"), "v", lo, hi, bins))
    assert(merged === oneShot)
    // -5.0 clamps to bin 0 (with 0.0 and 7.5); 250.0 clamps to bin 9
    // (with 99.9); total count preserved
    val m = merged.filter(_._1 == "a").map(t => t._2 -> t._3).toMap
    assert(m(0L) === 3L && m(9L) === 2L)
    assert(merged.map(_._3).sum === 8L)
  }

  test("rollingQuantiles: every period's trailing estimate equals a direct " +
      "histQuantiles over that window's raw rows (gap-tolerant)") {
    val (lo, hi, bins, periods) = (0.0, 500.0, 100, 3)
    val ps = Seq(0.5, 0.9)
    val ev = graft.sources.Tables.events(spark, sf0001)
      .withColumn("__period", expr("unix_micros(ts) div 3600000000"))
    val ph = Sketches.periodHistograms(
      graft.sources.Tables.events(spark, sf0001),
      expr("unix_micros(ts) div 3600000000"), "value", lo, hi, bins)
    val rolled = Sketches.rollingQuantiles(ph, ps, periods, lo, hi, bins)
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1)) -> (r.getDouble(2), r.getLong(3)))
      .toMap
    val allPeriods = ph.select("period").distinct()
      .collect().map(_.getLong(0)).sorted
    // spot-check first, middle, last period against a direct build
    for (per <- Seq(allPeriods.head, allPeriods(allPeriods.length / 2),
        allPeriods.last)) {
      val direct = Sketches.histQuantiles(
          Sketches.histogram(
            ev.filter(col("__period").between(per - periods + 1, per)),
            Seq.empty, "value", lo, hi, bins),
          Seq.empty, ps, lo, hi, bins)
        .collect().map(r => r.getDouble(0) -> (r.getDouble(1), r.getLong(2)))
        .toMap
      ps.foreach { p =>
        assert(rolled((per, p)) === direct(p), s"period=$per p=$p")
      }
    }
  }

  test("histQuantiles: estimates sit within one bin width of the exact " +
      "quantile on the events table") {
    val ev = graft.sources.Tables.events(spark, sf001)
      .select(col("value"), col("event_id"))
    val (lo, hi, bins) = (0.0, 500.0, 100)
    val w = (hi - lo) / bins
    val ps = Seq(0.25, 0.5, 0.9)
    val est = Sketches.histQuantiles(
        Sketches.histogram(ev, Seq.empty, "value", lo, hi, bins),
        Seq.empty, ps, lo, hi, bins)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val exact = graft.ops.Relational.exactQuantilesGlobal(
        ev, "value", Seq("event_id"), ps)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    ps.foreach { p =>
      assert(est(p) <= exact(p) && exact(p) < est(p) + w,
        s"p=$p est=${est(p)} exact=${exact(p)}")
    }
  }

  test("histQuantiles at 10x: per-group estimates stay within one bin " +
      "width of q161's exact rank selection on a 10x-blown lineitem — " +
      "the documented scale pairing for exactQuantiles") {
    // the ScaleBench blow-up shape, inline: 10 re-keyed copies (values
    // copied verbatim) — per-group n grows 10x, group count does not,
    // which is exactly the regime where the per-group sort window
    // behind exactQuantiles stops scaling and the histogram sidecar is
    // the declared path (Relational.exactQuantiles scaladoc)
    val base = graft.sources.Tables.lineitem(spark, sf0001)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
    val blown = (0 until 10).map { i =>
      base.withColumn("l_orderkey", col("l_orderkey") + lit(i * (1L << 33)))
    }.reduce(_ unionByName _)
    val (lo, hi, bins) = (0.0, 120000.0, 200)
    val w = (hi - lo) / bins
    val ps = Seq(0.25, 0.5, 0.9, 0.99)
    val est = Sketches.histQuantiles(
        Sketches.histogram(blown, Seq("l_returnflag"), "l_extendedprice",
          lo, hi, bins),
        Seq("l_returnflag"), ps, lo, hi, bins)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val exact = graft.ops.Relational.exactQuantiles(blown,
        Seq("l_returnflag"), "l_extendedprice",
        Seq("l_orderkey", "l_linenumber"), ps)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(exact.keySet === est.keySet)
    exact.foreach { case (key, ex) =>
      assert(est(key) <= ex && ex < est(key) + w,
        s"$key est=${est(key)} exact=$ex width=$w")
    }
  }
}
