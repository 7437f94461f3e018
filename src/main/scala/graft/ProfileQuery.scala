package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Scratch per-job profiler for any registered query (not part of the
  * driver contract) — optimization-round tooling: runs the named
  * queries and prints every Spark job's callsite + wall duration, so
  * per-ingest/per-iteration action cost is attributable to the code
  * line that triggered it (the round-18 method, made reusable).
  *
  * Run: SPARK_GRAFT_PROFILE_ONLY=q221_incremental_curation \
  *        SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *        sbt "runMain graft.ProfileQuery"
  */
object ProfileQuery {
  private final class JobTimer extends SparkListener {
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val totals = new java.util.concurrent.ConcurrentHashMap[String, (Double, Int)]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      // the result stage's name IS the action's callsite short form
      // ("count at CurationPipeline.scala:304")
      val cs = js.stageInfos.lastOption.map(_.name).getOrElse("?")
      starts.put(js.jobId, (cs, js.time)); ()
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = {
      val st = starts.remove(je.jobId)
      if (st != null) {
        val (cs, t0) = st
        val sec = (je.time - t0) / 1e3
        totals.merge(cs, (sec, 1),
          (a, b) => (a._1 + b._1, a._2 + b._2))
        println(f"[job] ${je.jobId}%4d $sec%8.3f s  $cs")
      }
    }
  }

  private final class ActionTimer
      extends org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit = {
      val cols = qe.analyzed.schema.fieldNames.take(4).mkString(",")
      println(f"[sql] ${durationNs / 1e9}%8.3f s  $funcName%-16s [$cols]")
    }
    override def onFailure(funcName: String,
                           qe: org.apache.spark.sql.execution.QueryExecution,
                           exception: Exception): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val timer = new JobTimer
    spark.sparkContext.addSparkListener(timer)
    if (sys.env.contains("SPARK_GRAFT_PROFILE_SQL"))
      spark.listenerManager.register(new ActionTimer)
    // warmup, as in Bench
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    val only = sys.env.getOrElse("SPARK_GRAFT_PROFILE_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROFILE_RUNS", "1").toInt
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
           if only.contains(name)) {
      // one untimed run first so JIT/page-cache don't skew attribution
      fn(spark, sfDir).count()
      timer.totals.clear()
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      println(s"=== $name ===")
      val t0 = System.nanoTime()
      (1 to runs).foreach(_ => fn(spark, sfDir).count())
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilListenerBusEmpty(spark.sparkContext)
      println(f"=== $name wall ${wall / runs}%.3f s/run over $runs run(s); per-callsite totals: ===")
      import scala.jdk.CollectionConverters._
      timer.totals.asScala.toSeq.sortBy(-_._2._1).foreach {
        case (cs, (sec, n)) =>
          println(f"[sum] ${sec / runs}%8.3f s/run  n=${n / runs}%3d  $cs")
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
    }
    spark.stop()
  }
}
