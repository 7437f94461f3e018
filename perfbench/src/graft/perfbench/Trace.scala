package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region around a public engine call (or a whole
  * iteration). `parent` is the enclosing span's id, -1 at top level. */
final case class Span(id: Int, name: String, parent: Int,
                      startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Task-level totals for one job group (= one span instance). */
final class TaskTotals {
  var tasks = 0L
  var busyMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
}

/** One Spark job: its job group and its submission/completion times. */
final case class JobRec(group: String, startMs: Long, endMs: Long)

/** Executed-plan facts of one SQL execution, counted after AQE. */
final case class PlanFacts(startMs: Long, planMs: Long, exchanges: Int,
                           smj: Int, shj: Int, bhj: Int,
                           singlePartitionWindows: Int)

/** The SparkListener half of the traced run: jobs, tasks, CPU,
  * shuffle, spill and peak execution memory, attributed to the span
  * that was current on the driver through the job group. */
final class JobProbe extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  def stageGroupOf(stageId: Int): Option[String] = Option(stageGroup.get(stageId))
  val totals = new ConcurrentHashMap[String, TaskTotals]()
  /** Task run times per stage, for the skew figure. */
  val stageTaskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, JobRec(g, e.time, e.time))
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val t = totals.computeIfAbsent(stageGroup.getOrDefault(e.stageId, ""),
      _ => new TaskTotals)
    t.synchronized {
      t.tasks += 1
      t.busyMs += e.taskInfo.duration
      t.cpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.peakExecMem = t.peakExecMem max m.peakExecutionMemory
    }
    val ms = stageTaskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer[Long]())
    ms.synchronized { ms += m.executorRunTime }
    ()
  }
}

/** The QueryExecution half: planning phases from the tracker and the
  * executed-plan walk, per SQL execution. */
final class PlanProbe extends QueryExecutionListener {
  val facts = new ConcurrentLinkedQueue[PlanFacts]()

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val start = if (phases.isEmpty) 0L else phases.map(_.startTimeMs).min
    val plan = PlanProbe.flatten(qe.executedPlan)
    facts.add(PlanFacts(start, phases.map(p => p.endTimeMs - p.startTimeMs).sum,
      plan.count(_.isInstanceOf[Exchange]),
      plan.count(_.isInstanceOf[SortMergeJoinExec]),
      plan.count(_.isInstanceOf[ShuffledHashJoinExec]),
      plan.count(_.isInstanceOf[BroadcastHashJoinExec]),
      plan.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }))
    ()
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

object PlanProbe {
  /** Every node of an executed plan, looking through AQE wrappers and
    * query stages. A reused exchange is not descended into: its plan
    * is counted where it first ran. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val next = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case other => other.children
    }
    p +: next.flatMap(flatten)
  }
}

/** Spans around public calls. With `traced` off it only times; with
  * it on, each span becomes the job group of the Spark jobs it runs,
  * and the two probes are attached to the session. */
final class Tracer(spark: SparkSession, val cores: Int) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  val jobs = new JobProbe
  val plans = new PlanProbe
  private var traced = false

  def setTraced(on: Boolean): Unit = if (on != traced) {
    traced = on
    if (on) {
      sc.addSparkListener(jobs)
      spark.listenerManager.register(plans)
    } else {
      drain()
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(plans)
    }
  }

  def isTraced: Boolean = traced

  def span[T](name: String)(body: => T): (T, Span) = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    if (traced) sc.setJobGroup(s.id.toString, name)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (traced) stack.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait until the listener bus has delivered every event so far. */
  def drain(): Unit =
    org.apache.spark.graftbridge.ListenerBridge.waitUntilListenerBusEmpty(sc)


  /** Per-call layer figures of one span instance. Time in Spark jobs
    * is the union of the span's job intervals; planning is the summed
    * tracker phases of the SQL executions that started inside it;
    * `build_s` is the rest of the span's wall (driver-side eager work). */
  def callFigures(s: Span): Map[String, Double] = {
    val ivs = jobs.jobs.values.asScala.toSeq.filter(_.group == s.id.toString)
      .map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var execMs = 0L
    var cur = (Long.MinValue, Long.MinValue)
    ivs.foreach { case (a, b) =>
      if (a > cur._2) { execMs += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, cur._2 max b)
    }
    if (cur._1 != Long.MinValue) execMs += cur._2 - cur._1
    val planMs = plans.facts.asScala
      .filter(f => innermost(f.startMs).contains(s.id)).map(_.planMs).sum
    val t = Option(jobs.totals.get(s.id.toString)).getOrElse(new TaskTotals)
    val wall = s.wallS
    Map(
      "wall_s" -> wall,
      "build_s" -> (wall - execMs / 1e3 - planMs / 1e3).max(0.0),
      "plan_s" -> planMs / 1e3,
      "exec_s" -> execMs / 1e3,
      "jobs" -> ivs.size.toDouble,
      "tasks" -> t.tasks.toDouble,
      "task_cpu_s" -> t.cpuNs / 1e9,
      "idle_frac" -> (1.0 - t.busyMs / 1e3 / (cores * wall)).max(0.0),
      "shuffle_write_mb" -> t.shuffleWriteBytes / 1048576.0,
      "spill_mb" -> t.spillBytes / 1048576.0)
  }

  /** The innermost span whose wall-clock interval holds `ms`. */
  private def innermost(ms: Long): Option[Int] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(s => s.endMs - s.startMs).headOption.map(_.id)

  /** Plan facts of the SQL executions that started inside `s`. */
  def planFactsIn(s: Span): Seq[PlanFacts] =
    plans.facts.asScala.filter(f => f.startMs >= s.startMs && f.startMs <= s.endMs).toSeq

  /** Tasks of the iteration `s` and its calls: peak execution memory
    * and the worst stage's longest-over-median task run time (stages of
    * at least `cores` tasks, so a lone straggler is not skew). */
  def iterationFigures(s: Span): Map[String, Double] = {
    val groups = spans.filter(c => c.id == s.id || c.parent == s.id).map(_.id.toString).toSet
    val peak = jobs.totals.asScala.collect {
      case (g, t) if groups(g) => t.peakExecMem
    }.foldLeft(0L)(_ max _)
    val skews = jobs.stageTaskMs.asScala.toSeq.collect {
      case (st, ms) if jobs.stageGroupOf(st).exists(groups) && ms.size >= cores =>
        val sorted = ms.sorted
        sorted.last.toDouble / (sorted(sorted.size / 2) max 1L)
    }
    Map("peak_exec_mem_mb" -> peak / 1048576.0,
      "max_task_skew" -> (if (skews.isEmpty) 1.0 else skews.max))
  }
}
