package graft

import graft.functions.{GraftExtensions, GraftFunctions}
import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every main and the test session
  * build their session here. It sets exactly:
  *
  *  - the master, `local[cores]` by default ([[cores]]), and the app
  *    name `graft`;
  *  - shuffle partitions, [[cores]] by default: sized to the actual
  *    parallelism instead of the 200 default (AQE coalesces down, but
  *    the ceiling should reflect the cluster);
  *  - `spark.buffer.pageSize` from the master's thread count
  *    ([[tungstenPageSize]]);
  *  - UTC session timezone (oracle/cross-engine parity);
  *  - [[sessionConfs]]: the join strategy, a codegen cache sized to
  *    the engine's working set, and the `file:` filesystem
  *    ([[graft.sources.NioLocalFileSystem]]: Hadoop's checksummed local
  *    filesystem, permissions set in-process instead of by a forked
  *    `chmod` per created file and dir);
  *  - [[GraftExtensions]]: `cosine_sim` & co. resolve in SQL, plus the
  *    top-k planner strategy and its conf-gated rewrite rule.
  *
  * AQE, AQE skew-join splitting and 128 MB scan splits
  * (`files.maxPartitionBytes`) are Spark 4.1 defaults; the factory does
  * not restate them. A caller adds only what is its own (Faults its
  * fault-injection plugin and task retries, the test session its
  * warehouse dir).
  */
object GraftSession {

  /** Tungsten page size scaled to memory-per-TASK, not
    * memory-per-executor — the round-15 100×-at-default-heap find.
    * Spark's auto-computed page size tracks the heap (128 MB pages at
    * an 8 GiB local[32] heap), but a page is the GRANULARITY of
    * execution-memory accounting: every sorter/hash-map consumer
    * holds at least one page or dies, so at 256 MB-per-task (8 GiB /
    * 32 cores) the pool fits only ~36 live 128 MB pages while ~32
    * tasks × 3–6 consumers each need one — the q188/q206 100× power
    * iterations failed with UNABLE_TO_ACQUIRE_MEMORY (and G1's
    * GCLocker thrashed on the humongous long[] allocations) INSTEAD
    * of spilling, at any shuffle width. Sizing pages at
    * execPool / (cores × 12) — ~12 one-page consumers per concurrent
    * task before the pool is even half-committed — restores the
    * spill-not-die contract the memory model promises
    * ([[graft.ops.Graph]] scaladoc); floor 1 MiB, cap 64 MiB (Spark's
    * own ceiling), power-of-two. On a real cluster at ≥ 1 GiB/core
    * this computes the same 64 MiB Spark picks — the knob only moves
    * where memory-per-task is tight, exactly where it must. */
  def tungstenPageSize(cores: Int): Long = {
    val heapBytes = Runtime.getRuntime.maxMemory()
    val execPool = ((heapBytes - (300L << 20)) * 0.6).toLong max (64L << 20)
    val raw = execPool / (cores.toLong * 12L)
    val clamped = raw.max(1L << 20).min(64L << 20)
    java.lang.Long.highestOneBit(clamped)
  }

  /** Configuration [[builder]] applies to every engine entry point:
    * the join strategy (optimization round 19), the codegen cache
    * size and the local filesystem's class.
    *
    * Sort-merge was the de-facto strategy for all non-broadcast joins;
    * the q188 final adaptive plan showed each PageRank iteration
    * re-SORTING the data-sized edge table for its SMJ even though the
    * exchange itself was reused (sorts sit above the reused exchange
    * and re-run per join). A shuffled-hash join does the same keyed
    * join with a per-partition hash build of the SMALLER side — no
    * sort of either side — and its memory bound (build-side bytes per
    * partition) is exactly the node-sized-state-per-task budget the
    * graph/dedup operators already provision for their aggregations.
    *
    * Two knobs, both SCALE-ADAPTIVE rather than local-tuned (guide
    * §3.1/§9):
    *  - `preferSortMergeJoin=false` lets the static planner pick SHJ
    *    when its size conditions hold (stats-based, falls back to SMJ
    *    when the build side may not fit);
    *  - `adaptive.maxShuffledHashJoinLocalMapThreshold=64m` lets AQE
    *    rewrite a planned SMJ to SHJ at runtime when every
    *    post-shuffle build partition is measured ≤ 64 MB — the
    *    RUNTIME guard that keeps the choice correct at any corpus
    *    size (a 100 TB run whose build partitions exceed the bound
    *    keeps sort-merge exactly where it is needed).
    * 64 MB per partition matches the advisory shuffle-partition size
    * AQE already targets, so "build fits a partition" and "partition
    * is well-sized" are the same budget.
    *
    * Codegen cache. Spark keeps compiled generated classes in one
    * JVM-wide cache keyed on the generated source, sized by the static
    * `spark.sql.codegen.cache.maxEntries` (default 100). One q221
    * curation iteration (init, three `ingestShard`, finalize over
    * 1,000 docs) needs 203 distinct classes and one loan train+serve
    * iteration 51, so at 100 entries every curation iteration evicted
    * its own classes and Janino recompiled 238–272 of them, 2.7–3.4 s
    * of a 10–11 s iteration on 4 cores. 1000 entries (about 5× the
    * largest working set) make every repeat call a cache hit: 0
    * compiles per iteration after the first. The entry is static, so
    * it sizes the cache only when set before the JVM's first codegen.
    *
    * Local filesystem. [[graft.sources.NioLocalFileSystem]] is Hadoop's
    * checksummed `LocalFileSystem` with file permissions set through
    * `java.nio`: without libhadoop (the Spark distribution ships none)
    * Hadoop forks one `chmod` per file and dir it creates. JFR
    * `jdk.ProcessStart` over one `curation_ingest` run (warm-up + 1
    * iteration): 282 child processes, 277 of them `chmod` at 2–3 ms
    * each, serial on the driver thread or in a one-task job; 6 and none
    * with this entry. Hadoop caches filesystems by scheme, authority
    * and user, not by conf, so the first `file:` filesystem a JVM
    * creates fixes the class: build the session before any Hadoop
    * local-filesystem use, as every main does. Without the entry the
    * `file:` class is whichever service-loaded registration comes last
    * on the classpath, Hadoop's `LocalFileSystem` or Hive's
    * `ProxyLocalFileSystem` (hive-exec registers both). Only `file:`
    * paths are affected. */
  val sessionConfs: Seq[(String, String)] = Seq(
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" ->
      (64L << 20).toString,
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.hadoop.fs.file.impl" ->
      classOf[graft.sources.NioLocalFileSystem].getName)

  /** Executor threads of the engine's entry points:
    * `SPARK_GRAFT_CPUS`, else every available processor. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private val LocalThreads = """local\[(\d+)\s*(?:,\s*\d+)?\]""".r

  /** Executor threads of a master URL: N for `local[N]` and
    * `local[N, F]`, every available processor otherwise (`local[*]`). */
  private def masterThreads(master: String): Int = master match {
    case LocalThreads(n) => n.toInt
    case _ => Runtime.getRuntime.availableProcessors
  }

  def builder(master: String = s"local[$cores]",
              shufflePartitions: Int = cores): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.buffer.pageSize",
        tungstenPageSize(cores = masterThreads(master)).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(sessionConfs.toMap)
      .withExtensions(new GraftExtensions)

  /** Build (or attach to) a session and ensure the custom functions
    * are registered even when an existing session is returned
    * (getOrCreate ignores extensions on reuse). */
  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    GraftFunctions.register(spark)
    spark
  }
}
