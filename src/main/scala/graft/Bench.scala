package graft

/** Benchmark main: times every registered query at the given scale
  * factor and prints ONE JSON line. A warmup action runs first so JVM
  * startup / first-codegen cost is not attributed to whichever query
  * happens to run first. */
object Bench {
  /** Accumulates executor spill bytes from task-end events — the
    * memory-pressure sweep's evidence that constrained-heap runs
    * engage the spill paths (hash-agg, sort, window buffers) instead
    * of failing. Reads are snapshotted between queries AFTER a
    * listener-bus drain, so deltas attribute to the right query. */
  private final class SpillListener
      extends org.apache.spark.scheduler.SparkListener {
    val mem = new java.util.concurrent.atomic.AtomicLong
    val disk = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        mem.addAndGet(m.memoryBytesSpilled)
        disk.addAndGet(m.diskBytesSpilled)
        ()
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the low-mem sweep raises partitions above the thread count so
    // each task's hash/sort state shrinks — the knob a real cluster
    // turns when executors are memory-tight
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt).getOrElse(GraftSession.cores)
    val spark = GraftSession.builder(shufflePartitions = shufflePartitions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val spillListener = new SpillListener
    spark.sparkContext.addSparkListener(spillListener)
    // pre-flight: fail ONCE with a named diff on testdata storage drift
    graft.sources.TestdataContract.assertContract(spark, sfDir)

    // warmup: a small join+agg exercises scan, shuffle, codegen paths
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }

    // (name, seconds, ok) — a failed query must NOT silently report a
    // wall-clock time as if it succeeded; it is emitted as -1 and
    // listed under "errors" so a broken query can't inflate the total.
    // Each query runs `runs` times and reports the MIN (steady-state
    // throughput; single-shot numbers carry 20-30% scheduler/GC noise
    // at local[32]). Three runs by default: round-4 showed min-of-2
    // still lets one noisy pair fabricate a 3-4× "regression"
    // (q73/q74, no code change); run order is pinned by the name sort.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // local-iteration filter: SPARK_GRAFT_BENCH_ONLY=q98_bigrams,q72_...
    // times just those queries (unset for the driver's full run)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results = selected.map { case (name, fn) =>
      val (memBefore, diskBefore) =
        (spillListener.mem.get(), spillListener.disk.get())
      // the last successful run's frame is kept for the plan-shape
      // guard — its optimizedPlan is already materialized by count(),
      // so the node count is free
      var lastDf: Option[org.apache.spark.sql.DataFrame] = None
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        val ok =
          try { val df = fn(spark, sfDir); df.count(); lastDf = Some(df); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false
          }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      val planNodes = lastDf.map { df =>
        try graft.plans.PlanGuard.nodeCount(df)
        catch { case _: Throwable => -1 }
      }.getOrElse(-1)
      val ok = times.forall(_._2)
      // neighborhood hygiene BETWEEN queries (never between a query's
      // own runs): round-5 showed the q58-q68 block "regressing"
      // 1.8-5x with zero code change purely because the new q12x
      // queries — IVF index builds, connected-components rounds,
      // sidecar writes, each leaving cached plans, localCheckpoint
      // blocks, and broadcast variables behind — landed just before it
      // in the pinned name sort; the same block re-run in isolation
      // matched round 4 exactly. Clearing the SQL cache and prompting
      // a driver GC (which lets the ContextCleaner reap checkpoint
      // RDDs and broadcasts) stops each query's residue from being
      // charged to whoever alphabetically follows it.
      //
      // ALL hygiene is PROPORTIONAL (round-9 verdict, finished round
      // 10): with 100+ queries at a 0.10-0.35 s floor, unconditional
      // between-pair work — a full GC (~16 s across the sweep), cache
      // clears, a listener-bus drain — costs more than many queries
      // themselves. A query that finished in <0.3 s with no observed
      // spill did no index build / checkpoint / broadcast worth
      // reaping, so such queries skip the hygiene entirely; the drain
      // is kept whenever the spill counters MOVED (attribution must
      // stay exact for the low-mem sweep) and after any failure (r7's
      // regressions were exception-neighborhood pollution; never skip
      // hygiene after an exception).
      val spillSeen = spillListener.mem.get() != memBefore ||
        spillListener.disk.get() != diskBefore
      val floorQuery = ok && !spillSeen && times.map(_._1).min < 0.3
      if (!floorQuery) {
        spark.catalog.clearCache()
        // BLOCKING unpersist: at a constrained heap a heavy query's
        // checkpoint blocks must actually be GONE before the next
        // query allocates — async removal raced q206's aggregation
        // into UNABLE_TO_ACQUIRE_MEMORY in the round-12 low-mem sweep
        // (passed in isolation, failed only behind q205's residue)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        System.gc()
        // drain async task-end events so this query's spills don't
        // bleed into the next snapshot (summed over all `runs` runs)
        org.apache.spark.graftbridge.ListenerBridge
          .waitUntilListenerBusEmpty(spark.sparkContext)
      }
      val spillMem = spillListener.mem.get() - memBefore
      val spillDisk = spillListener.disk.get() - diskBefore
      (name, times.map(_._1).min, ok, spillMem, spillDisk, planNodes)
    }
    val qs = results.map { case (k, v, ok, _, _, _) =>
      "\"" + k + "\":" + (if (ok) v else -1.0)
    }.mkString("{", ",", "}")
    val errors = results.collect { case (k, _, false, _, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true, _, _, _) => v }.sum
    // per-query spill deltas, nonzero only (empty at a roomy heap; the
    // low-mem sweep's whole point is which queries appear here)
    val spills = results.collect { case (k, _, _, m, d, _) if m > 0 || d > 0 =>
      s""""$k":{"mem_bytes":$m,"disk_bytes":$d}"""
    }.mkString("{", ",", "}")
    // plan-SHAPE regression guard (round-15; the r14 2^cadence find):
    // per-query optimized-plan node counts vs the committed baseline —
    // >2x unregistered growth fails the sweep AFTER both JSON lines
    // print (the artifact must still record what happened)
    val planCounts = results.collect {
      case (k, _, true, _, _, p) if p > 0 => k -> p
    }.toMap
    val planJson = graft.plans.PlanGuard.render(planCounts)
    java.nio.file.Files.write(
      java.nio.file.Paths.get("target/plan_sizes_current.json"),
      planJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val planViolations = graft.plans.PlanGuard.check(
      planCounts, graft.plans.PlanGuard.loadBaseline("PLAN_SIZES.json"))
    // Full per-query detail for humans/logs — this line is ~3k chars,
    // larger than the 2000-char stdout tail the driver keeps, so it
    // must NOT be the last line (rounds 1-3 recorded parsed:null
    // because the tail clipped the front of the one big JSON line).
    println(s"""{"metric":"detail","queries":$qs,"errors":$errors,"spills":$spills,"plan_nodes":$planJson}""")
    // Compact line LAST: total + a stable headline subset (one per
    // operator family, 3-decimal rounding) — guaranteed < 1 KB so the
    // driver's tail always contains the complete parseable line.
    val headline = Seq(
      "q01_pricing_summary", "q04_large_join", "q07_window_topk",
      "q21_token_stats", "q25_minhash_pairs", "q30_loan_pipeline_metrics",
      "q40_cosine_topk", "q54_embedding_dedup", "q59_topk_custom_op",
      "q72_salted_join", "q96_pipeline_e2e", "q173_seeded_kmeans",
      "q177_bm25_topk")
    val hs = results.collect {
      case (k, v, ok, _, _, _) if headline.contains(k) =>
        "\"" + k + "\":" + (if (ok) f"$v%.3f" else "-1")
    }.mkString("{", ",", "}")
    val nOk = results.count(_._3)
    val (spillMemTot, spillDiskTot) =
      (results.map(_._4).sum, results.map(_._5).sum)
    val nSpilled = results.count(r => r._4 > 0 || r._5 > 0)
    val planRegs = planViolations.map(v =>
      "\"" + v.takeWhile(_ != ':') + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$hs,"n_queries":${results.size},"n_ok":$nOk,"errors":$errors,"runs":$runs,"heap":"${Runtime.getRuntime.maxMemory() >> 20}m","shuffle_partitions":$shufflePartitions,"n_spilled":$nSpilled,"spill_mem_bytes":$spillMemTot,"spill_disk_bytes":$spillDiskTot,"plan_regressions":$planRegs,"sf":"$sfDir"}""")
    spark.stop()
    if (planViolations.nonEmpty) {
      planViolations.foreach(v => System.err.println(s"[plan-guard] $v"))
      sys.exit(1)
    }
  }
}
