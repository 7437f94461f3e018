package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Random, Using}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession
import graft.functions.GraftFunctions
import graft.ml.{LoanPipeline, LoanScorer}
import graft.ml.LoanPipeline.LoanInput
import graft.ops.CurationPipeline
import graft.queries.CurationQueries
import graft.sources.Tables
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM half. Runs one workload against the engine's
  * public calls in a closed loop from this one driver thread, and
  * writes `result.json` into the work directory for `run.py`, which
  * owns input generation, the DuckDB gates and the printed result.
  *
  * Every run: session from [[GraftSession.builder]] at
  * local[nproc] with nproc shuffle partitions; one warm-up iteration
  * (part of set-up) that writes its outputs as parquet for the
  * correctness gates; then timed iterations, each output materialized
  * into the `noop` sink, until `--seconds` is spent. With `--trace 1`
  * timed iterations alternate between untraced and traced, so the same
  * run yields the per-layer figures and the tracing overhead. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, inputs: String, work: String,
                        launchedAtNs: Long)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("inputs"), m("work"), m("launched-at-ns").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = phase("session") {
      val s = GraftSession.builder(s"local[$cores]", cores).getOrCreate()
      GraftFunctions.register(s)
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val out = mutable.LinkedHashMap[String, Any]()
    try run(spark, cores, args, out)
    finally {
      spark.stop()
      writeJson("result.json", out)
    }
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()
  private var workDir = "."
  private def writeJson(name: String, v: Any): Unit =
    Files.write(Paths.get(workDir, name),
      json.writerWithDefaultPrettyPrinter().writeValueAsString(v)
        .getBytes(StandardCharsets.UTF_8))

  private def nowEpochNs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private def run(spark: SparkSession, cores: Int, args: Args,
                  out: mutable.Map[String, Any]): Unit = {
    workDir = args.work
    val tracer = new Tracer(spark, cores)
    val w: Workload = args.workload match {
      case "loan_train_serve" => new LoanTrainServe(spark, tracer, args)
      case "curation_ingest" => new CurationIngest(spark, tracer, args)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up: input-dependent preparation, then the warm-up iteration,
    // whose outputs go to parquet for the gates
    phase("prepare") { w.prepare() }
    phase("warm-up iteration") { tracer.span("warm-up") { w.iteration(gateOutputs = true) } }
    out("setup_jvm_s") = (nowEpochNs - args.launchedAtNs) / 1e9

    val t0 = System.nanoTime()
    val walls = ArrayBuffer[Double]()
    val tracedWalls = ArrayBuffer[Double]()
    val iterSpans = ArrayBuffer[Span]()
    val gcS = ArrayBuffer[Double]()
    var i = 0
    var error: Option[Throwable] = None
    def elapsed = (System.nanoTime() - t0) / 1e9
    // iterate until --seconds are spent; at least one iteration, two
    // when tracing. Traced runs go traced-untraced-untraced-traced, so
    // warm-up drift cancels over four iterations and, over two, can
    // only overstate the tracing overhead
    while (error.isEmpty && (i < (if (args.trace) 2 else 1) || elapsed < args.seconds)) {
      val traced = args.trace && (i % 4 == 0 || i % 4 == 3)
      tracer.setTraced(traced)
      try {
        val gc0 = gcMs()
        val (_, s) = tracer.span("iteration") { w.iteration(gateOutputs = false) }
        if (traced) { tracedWalls += s.wallS; iterSpans += s; gcS += (gcMs() - gc0) / 1e3 }
        else walls += s.wallS
        w.afterIteration(traced)
      } catch { case e: Throwable => error = Some(e) }
      i += 1
    }
    tracer.setTraced(false)
    out("walls_s") = walls.toSeq
    out("traced_walls_s") = tracedWalls.toSeq
    out("attempted") = w.attempted
    out("failed") = if (error.isDefined) 1 else 0
    error.foreach { e => out("error") = e.toString; e.printStackTrace() }

    val gates = phase("gates") {
      if (error.isEmpty) w.gates() else Seq("run" -> Some("not gated: a timed call failed"))
    }
    out("gates") = gates.map { case (name, failure) =>
      Map("name" -> name, "ok" -> failure.isEmpty, "detail" -> failure.getOrElse(""))
    }
    out("oracles") = w.oracles.toMap
    out("peak_rss_mb") = vmHwmMb()

    if (args.trace) {
      val layer = new LayerFigures(tracer, iterSpans.toSeq, gcS.toSeq)
      w.layerExtras(layer)
      out("per_layer") = mutable.LinkedHashMap(layer.result(tracedWalls.toSeq, walls.toSeq): _*)
      val t0 = tracer.spans.headOption.map(_.startNs).getOrElse(0L)
      writeJson("spans.json", tracer.spans.toSeq.map(s => mutable.LinkedHashMap(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9)))
    }
  }

  private val startNs = System.nanoTime()
  /** Run one phase of the run and log when it ended, to the JVM log. */
  private def phase[T](name: String)(body: => T): T = {
    val r = body
    System.err.println(f"[perfbench] $name done at ${(System.nanoTime() - startNs) / 1e9}%.2f s")
    r
  }

  /** Collection time of every collector of this JVM so far. */
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime max 0L).sum

  /** VmHWM (peak resident set) of this JVM, from /proc. */
  private def vmHwmMb(): Double =
    Using.resource(scala.io.Source.fromFile("/proc/self/status"))(_.getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0))

  /** Materialize every column of `df` into the `noop` sink. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Per-layer figures of the traced iterations: per public call the
  * median over its invocations, per iteration the median over
  * iterations. Every call of every workload is reported (zero where
  * a workload does not make the call), so all runs print one set. */
final class LayerFigures(tracer: Tracer, iterations: Seq[Span],
                         gcPerIteration: Seq[Double]) {
  import Main.median
  private val extras = ArrayBuffer[(String, Double)]()
  private val perIteration = iterations.map(tracer.iterationFigures)
  private val iterPlans = iterations.map(tracer.planFactsIn)
  private val callSpans: Map[String, Seq[Span]] = {
    val ids = iterations.map(_.id).toSet
    tracer.spans.toSeq.filter(s => ids(s.parent)).groupBy(_.name)
  }

  def put(k: String, v: Double): Unit = extras += k -> v

  def result(tracedWalls: Seq[Double], untracedWalls: Seq[Double]): Seq[(String, Double)] = {
    val calls = LayerFigures.Calls.flatMap { case (call, figs) =>
      val per = callSpans.getOrElse(call, Nil).map(tracer.callFigures)
      figs.map(f => s"$call.$f" -> median(per.map(_(f))))
    }
    def iterMedian(f: Seq[PlanFacts] => Double) = median(iterPlans.map(f))
    val plans = Seq(
      "plans.exchanges" -> iterMedian(_.map(_.exchanges).sum.toDouble),
      "plans.smj" -> iterMedian(_.map(_.smj).sum.toDouble),
      "plans.shj" -> iterMedian(_.map(_.shj).sum.toDouble),
      "plans.bhj" -> iterMedian(_.map(_.bhj).sum.toDouble),
      "plans.single_partition_windows" ->
        iterMedian(_.map(_.singlePartitionWindows).sum.toDouble))
    val runtime = Seq(
      "spark.gc_s" -> median(gcPerIteration),
      "spark.peak_exec_mem_mb" -> median(perIteration.map(_("peak_exec_mem_mb"))),
      "spark.max_task_skew" -> median(perIteration.map(_("max_task_skew"))),
      "trace_overhead_frac" -> (median(tracedWalls) / median(untracedWalls) - 1.0))
    val own = extras.toMap
    val extraNames = LayerFigures.ExtraNames.map(k => k -> own.getOrElse(k, 0.0))
    calls ++ plans ++ runtime ++ extraNames
  }
}

object LayerFigures {
  val SparkCallFigures: Seq[String] = Seq("wall_s", "build_s", "plan_s",
    "exec_s", "jobs", "tasks", "task_cpu_s", "idle_frac",
    "shuffle_write_mb", "spill_mb")

  /** Every public call any workload times, with the figures reported. */
  val Calls: Seq[(String, Seq[String])] = Seq(
    "sources.Tables.loan" -> SparkCallFigures,
    "ml.LoanPipeline.train" -> SparkCallFigures,
    "ml.LoanScorer.fromModel" -> Seq("wall_s", "jobs"),
    "ml.LoanPipeline.scoreWithOverride" -> SparkCallFigures,
    "queries.CurationQueries.probeScaled" -> SparkCallFigures,
    "ops.CurationPipeline.init" -> SparkCallFigures,
    "ops.CurationPipeline.ingestShard" -> SparkCallFigures,
    "ops.CurationPipeline.finalizePipeline" -> SparkCallFigures)

  /** Figures a workload adds itself through [[LayerFigures.put]]. */
  val ExtraNames: Seq[String] = Seq(
    "ml.LoanPipeline.train.lr_iterations",
    "ml.LoanPipeline.scoreWithOverride.rows_per_s",
    "ml.LoanScorer.decide.p50_us",
    "ml.LoanScorer.decide.p99_us",
    "ml.LoanScorer.decide.requests",
    "sources.bytes_written_mb",
    "sources.files_written")
}

/** One workload: its calls, its set-up, one iteration, its gates. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer,
                        val args: Main.Args) {
  import Main.noop
  /** Timed public calls made (requests count one each). */
  var attempted = 0L
  def prepare(): Unit
  def iteration(gateOutputs: Boolean): Unit
  def afterIteration(traced: Boolean): Unit = ()
  /** (gate, failure message if it failed). */
  def gates(): Seq[(String, Option[String])]
  /** Oracle SQL for the DuckDB gates, by output name. */
  def oracles: Seq[(String, String)] = Nil
  def layerExtras(l: LayerFigures): Unit = ()

  protected def call[T](name: String)(body: => T): (T, Span) = {
    attempted += 1
    tracer.span(name)(body)
  }

  /** Materialize: parquet under `out/<name>` for the gate iteration,
    * the `noop` sink otherwise. */
  protected def sink(df: DataFrame, name: String, gateOutputs: Boolean): Unit =
    if (gateOutputs) df.write.mode("overwrite").parquet(s"${args.work}/out/$name")
    else noop(df)

  protected def gate(name: String)(ok: => Either[String, Unit]): (String, Option[String]) =
    try name -> ok.left.toOption
    catch { case e: Throwable => name -> Some(e.toString) }
}

/** The paper's pipeline: CSV scan, uncached LR fit, scorer extraction,
  * batch scoring with the override rule, and a one-client closed loop
  * of driver-local `decide` requests. */
final class LoanTrainServe(spark: SparkSession, tracer: Tracer, args: Main.Args)
    extends Workload(spark, tracer, args) {
  private val csv = s"${args.inputs}/loan.csv"
  /** Requests per iteration in the `decide` loop. */
  private val Requests = 200000
  private var rows = 0L
  private var requests: Array[LoanInput] = Array()
  private var bundle: LoanPipeline.LoanModelBundle = _
  private var scorer: LoanScorer = _
  private val latenciesNs = ArrayBuffer[Array[Long]]()
  private val rowsPerS = ArrayBuffer[Double]()
  private val lrIters = ArrayBuffer[Double]()
  private var blackhole = 0.0

  def prepare(): Unit = {
    rows = Using.resource(Files.lines(Paths.get(csv)))(_.count()) - 1
    // requests: rows whose Int-typed inputs are present (LoanInput
    // cannot carry a null Int), in file order, nulls of the two
    // Double inputs as NaN
    requests = Tables.loan(spark, csv)
      .filter(col("income").isNotNull && col("property_value").isNotNull)
      .select(Tables.loanFeatureCols.map(col): _*).limit(20000).collect()
      .map(LoanTrainServe.input)
  }

  def iteration(gateOutputs: Boolean): Unit = {
    call("sources.Tables.loan") { Main.noop(Tables.loan(spark, csv)) }
    val (b, _) = call("ml.LoanPipeline.train") { LoanPipeline.train(spark, csv) }
    val (sc, _) = call("ml.LoanScorer.fromModel") { LoanScorer.fromModel(b.model) }
    val (_, s) = call("ml.LoanPipeline.scoreWithOverride") {
      sink(LoanPipeline.scoreWithOverride(b.model, Tables.loan(spark, csv)),
        "scored", gateOutputs)
    }
    val lat = new Array[Long](Requests)
    call("ml.LoanScorer.decide") {
      var acc = 0.0
      var i = 0
      while (i < Requests) {
        val t = System.nanoTime()
        acc += sc.decide(requests(i % requests.length))._1
        lat(i) = System.nanoTime() - t
        i += 1
      }
      blackhole += acc
    }
    attempted += Requests - 1
    if (gateOutputs) { bundle = b; scorer = sc }
    if (tracer.isTraced) {
      latenciesNs += lat
      rowsPerS += rows / s.wallS
      lrIters += b.model.stages.collectFirst {
        case m: LogisticRegressionModel => m.summary.totalIterations.toDouble
      }.getOrElse(0.0)
    }
  }

  override def layerExtras(l: LayerFigures): Unit = {
    val all = latenciesNs.flatMap(_.iterator).toArray
    java.util.Arrays.sort(all)
    def pct(p: Double) = if (all.isEmpty) 0.0 else all(((all.length - 1) * p).toInt) / 1e3
    l.put("ml.LoanScorer.decide.p50_us", pct(0.50))
    l.put("ml.LoanScorer.decide.p99_us", pct(0.99))
    l.put("ml.LoanScorer.decide.requests", all.length.toDouble)
    l.put("ml.LoanPipeline.scoreWithOverride.rows_per_s", Main.median(rowsPerS.toSeq))
    l.put("ml.LoanPipeline.train.lr_iterations", Main.median(lrIters.toSeq))
  }

  def gates(): Seq[(String, Option[String])] = {
    val prep = bundle.model.stages(0).asInstanceOf[PipelineModel]
    // LoanPipeline.train's own split, replayed: same scan, same
    // fitted preprocessing, same seeded randomSplit
    val Array(_, test) = prep.transform(Tables.loan(spark, csv))
      .randomSplit(Array(0.8, 0.2), 42L)
    val testIds = test.select(col("ID"))
    Seq(
      gate("loan.split_counts") {
        if (bundle.trainCount + bundle.testCount == rows) Right(())
        else Left(s"train ${bundle.trainCount} + test ${bundle.testCount} != $rows rows")
      },
      gate("loan.auc_vs_generator") {
        val truth = spark.read.option("header", "true")
          .schema("ID INT, Status INT, p_true DOUBLE")
          .csv(s"${args.inputs}/loan_truth.csv")
        val onTest = truth.join(testIds, "ID")
        val n = onTest.count()
        val genAuc = new BinaryClassificationEvaluator().setLabelCol("Status")
          .setRawPredictionCol("p_true").evaluate(onTest)
        if (n != bundle.testCount) Left(s"replayed split has $n test rows, train() had ${bundle.testCount}")
        else if (bundle.auc >= genAuc - 0.05) Right(())
        else Left(f"model AUC ${bundle.auc}%.4f < generator AUC $genAuc%.4f - 0.05")
      },
      gate("loan.decide_matches_batch") {
        val scored = spark.read.parquet(s"${args.work}/out/scored")
          .filter(col("income").isNotNull && col("property_value").isNotNull)
          .select((Tables.loanFeatureCols :+ "prediction_final" :+ "decision").map(col): _*)
          .collect()
        val bad = new Random(args.seed).shuffle(scored.toVector).take(500).flatMap { r =>
          val in = LoanTrainServe.input(r)
          val got = scorer.decide(in)
          val want = (r.getAs[Double]("prediction_final"), r.getAs[String]("decision"))
          if (got == want) None else Some(s"$in: decide $got, batch $want")
        }
        if (bad.isEmpty) Right(()) else Left(bad.take(3).mkString("; "))
      })
  }
}

object LoanTrainServe {
  private def dbl(r: Row, i: Int): Double = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
  def input(r: Row): LoanInput =
    LoanInput(r.getInt(0), dbl(r, 1), r.getInt(2), r.getInt(3), r.getInt(4), dbl(r, 5))
}

/** q221's incremental curation over the relabelled documents:
  * init (frozen eval-gram registry), the upstream feature frame, three
  * monotone doc_id shards through `ingestShard`, then the finalize. */
final class CurationIngest(spark: SparkSession, tracer: Tracer, args: Main.Args)
    extends Workload(spark, tracer, args) {
  private val dirs = CurationPipeline.Dirs(s"${args.work}/curation_state")
  private var cuts: Seq[Long] = Nil
  private val written = ArrayBuffer[(Double, Double)]()

  def prepare(): Unit = {
    val maxId = Tables.documents(spark, args.inputs).agg(max(col("doc_id"))).head().getLong(0)
    cuts = Seq(Long.MinValue, (maxId + 1) / 3, 2 * ((maxId + 1) / 3), Long.MaxValue)
  }

  def iteration(gateOutputs: Boolean): Unit = {
    val docs = Tables.documents(spark, args.inputs)
    val holdout = col("doc_id") % 19 === 0
    call("ops.CurationPipeline.init") { CurationPipeline.init(spark, dirs, docs.filter(holdout)) }
    val (withFeats, _) = call("queries.CurationQueries.probeScaled") {
      docs.select(col("doc_id"), col("source"), col("text"))
        .join(CurationQueries.probeScaled(spark, args.inputs), "doc_id")
    }
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      call("ops.CurationPipeline.ingestShard") {
        CurationPipeline.ingestShard(
          withFeats.filter(col("doc_id") >= lo && col("doc_id") < hi),
          dirs, holdout, shardId = s"s$i")
      }
    }
    call("ops.CurationPipeline.finalizePipeline") {
      sink(CurationPipeline.finalizePipeline(spark, dirs), "q221", gateOutputs)
    }
  }

  override def afterIteration(traced: Boolean): Unit = if (traced) {
    val files = Files.walk(Paths.get(dirs.base)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc")).toSeq
    written += ((files.map(Files.size).sum / 1048576.0, files.size.toDouble))
  }

  override def layerExtras(l: LayerFigures): Unit = {
    l.put("sources.bytes_written_mb", Main.median(written.map(_._1).toSeq))
    l.put("sources.files_written", Main.median(written.map(_._2).toSeq))
  }

  def gates(): Seq[(String, Option[String])] = Nil // DuckDB gate in run.py

  override def oracles: Seq[(String, String)] =
    Seq("q221" -> CurationQueries.q221IncrementalCuration.oracle.get)
}
