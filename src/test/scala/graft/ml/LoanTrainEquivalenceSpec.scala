package graft.ml

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** `LoanPipeline.train` against the formulation it replaced, on a
  * seeded loan CSV written here (so it needs no external dataset):
  * LR fit and both counts on the unpersisted split, the evaluators over
  * `lrModel.transform(test).coalesce(1)`. Persisting the narrowed train
  * side and evaluating the test side with `LoanPipeline.evaluate` must
  * change no figure, and the persisted frame must not outlive the call. */
class LoanTrainEquivalenceSpec extends SparkSpec {
  import LoanTrainEquivalenceSpec._

  private lazy val csvDir: String = writeLoanCsv(labelled = true)
  /** The same kind of rows with the IDs permuted across the files, so
    * randomSplit's per-partition sort really reorders them. */
  private lazy val shuffledCsvDir: String = writeLoanCsv(labelled = true, shuffledIds = true)

  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The pre-persist `train` tail, returning (auc, accuracy, trainCount, testCount). */
  private def unpersistedSplitFigures(path: String, seed: Long, withMean: Boolean,
                                      fitPrepOnTrainOnly: Boolean): (Double, Double, Long, Long) = {
    val df = Tables.loan(spark, path).cache()
    def prepFit(on: DataFrame) =
      new Pipeline().setStages(LoanPipeline.preprocessingStages(withMean)).fit(on)
    try {
      val (train, test) =
        if (!fitPrepOnTrainOnly) {
          val Array(tr, te) = prepFit(df).transform(df).randomSplit(Array(0.8, 0.2), seed)
          (tr, te)
        } else {
          val Array(tr, te) = df.randomSplit(Array(0.8, 0.2), seed)
          val prep = prepFit(tr)
          (prep.transform(tr), prep.transform(te))
        }
      val lrModel = new LogisticRegression()
        .setFeaturesCol("scaled_features").setLabelCol(Tables.loanLabelCol).fit(train)
      val scored = lrModel.transform(test).coalesce(1).cache()
      try (LoanPipeline.auc(scored), LoanPipeline.accuracy(scored), train.count(), test.count())
      finally scored.unpersist()
    } finally df.unpersist()
  }

  test("the seeded loan CSV scans as >= 3 partitions with nulls in every imputed column") {
    val df = Tables.loan(spark, csvDir)
    assert(df.rdd.getNumPartitions >= FileCount)
    assert(df.count() === FileCount * RowsPerFile)
    Tables.loanImputeCols.foreach { c =>
      assert(df.filter(col(c).isNull).count() > 0, s"no nulls in $c")
    }
  }

  for ((withMean, fitPrepOnTrainOnly) <- Seq((false, false), (true, false), (false, true)))
    test(s"train == the unpersisted-split formulation (withMean=$withMean, " +
        s"fitPrepOnTrainOnly=$fitPrepOnTrainOnly)") {
      val got = LoanPipeline.train(spark, csvDir, 42L, withMean, fitPrepOnTrainOnly)
      val want = unpersistedSplitFigures(csvDir, 42L, withMean, fitPrepOnTrainOnly)
      assert((got.auc, got.accuracy, got.trainCount, got.testCount) === want)
    }

  test("the shuffled-ID loan CSV scans out of ID order") {
    val ids = Tables.loan(spark, shuffledCsvDir).select("ID").collect().map(_.getInt(0)).toSeq
    assert(ids.sorted === (10000 until 10000 + FileCount * RowsPerFile))
    assert(ids !== ids.sorted)
  }

  for ((withMean, fitPrepOnTrainOnly) <- Seq((false, false), (true, false), (false, true)))
    test(s"train == the unpersisted-split formulation on rows in shuffled ID order " +
        s"(withMean=$withMean, fitPrepOnTrainOnly=$fitPrepOnTrainOnly)") {
      val got = LoanPipeline.train(spark, shuffledCsvDir, 42L, withMean, fitPrepOnTrainOnly)
      val want = unpersistedSplitFigures(shuffledCsvDir, 42L, withMean, fitPrepOnTrainOnly)
      assert((got.auc, got.accuracy, got.trainCount, got.testCount) === want)
    }

  test("train releases every frame it persists, also when the LR fit throws") {
    val before = persisted()
    LoanPipeline.train(spark, csvDir)
    assert(persisted() === before)
    // Null labels pass the scan, the preprocessing and the split counts,
    // then fail LR's label validation mid-fit.
    val unlabelled = writeLoanCsv(labelled = false)
    val e = intercept[Exception](LoanPipeline.train(spark, unlabelled))
    assert(e.getMessage.contains("Labels MUST NOT be Null"), e.getMessage)
    assert(persisted() === before)
  }

  test("train runs no MLlib evaluator job, and one job reads the train side before LR") {
    // (final-stage call site, every stage's name, persisted RDD ids) per job
    val jobs = new java.util.concurrent.ConcurrentSkipListMap[Int, (String, Seq[String], Set[Int])]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.put(j.jobId, (j.stageInfos.maxBy(_.stageId).name, j.stageInfos.map(_.name),
          j.stageInfos.flatMap(_.rddInfos.filter(_.storageLevel.isValid).map(_.id)).toSet))
        ()
      }
    }
    val sc = spark.sparkContext
    ListenerBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      LoanPipeline.train(spark, csvDir)
      ListenerBridge.waitUntilListenerBusEmpty(sc)
    } finally sc.removeSparkListener(listener)
    val inOrder = jobs.values.asScala.toSeq
    val evaluatorSites = inOrder.flatMap(_._2).filter(site =>
      Seq("BinaryClassificationMetrics", "AreaUnderCurve", "MulticlassMetrics").exists(site.contains))
    assert(evaluatorSites.isEmpty)
    // LR's first treeAggregate reads the loan scan's cache, which the
    // first (Imputer) job reads too, and the train side's
    val firstLr = inOrder.indexWhere(_._1.startsWith("treeAggregate"))
    assert(firstLr > 0, inOrder.map(_._1))
    val trainSide = inOrder(firstLr)._3 -- inOrder.head._3
    assert(trainSide.nonEmpty)
    assert(inOrder.take(firstLr).count(_._3.exists(trainSide)) === 1, inOrder.map(_._1))
  }

  test("train sorts once, caches no relation of the scan's columns, and holds no " +
      "raw input through L-BFGS") {
    // (final-stage call site, persisted RDD id -> name, stage ids) per job
    val jobs = new java.util.concurrent.ConcurrentSkipListMap[Int, (String, Map[Int, String], Seq[Int])]()
    val sortStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.put(j.jobId, (j.stageInfos.maxBy(_.stageId).name,
          j.stageInfos.flatMap(_.rddInfos.filter(_.storageLevel.isValid).map(r => r.id -> r.name)).toMap,
          j.stageIds))
        ()
      }
      // SortExec's metric, reported by every task that ran a sort
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (s.stageInfo.accumulables.values.exists(_.name.contains("sort time"))) {
          sortStages.add(s.stageInfo.stageId); ()
        }
    }
    val sc = spark.sparkContext
    ListenerBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(listener)
    try {
      LoanPipeline.train(spark, csvDir)
      ListenerBridge.waitUntilListenerBusEmpty(sc)
    } finally sc.removeSparkListener(listener)
    val inOrder = jobs.values.asScala.toSeq
    // An in-memory columnar relation's RDD is named after its plan, whose
    // root node lists the relation's columns (the first 25 of them,
    // `spark.sql.debug.maxToStringFields`).
    val overScanColumns = inOrder.flatMap(_._2.values).distinct.filter { name =>
      val root = name.linesIterator.nextOption().getOrElse("")
      Tables.loanSchema.fieldNames.take(20).forall(f => root.contains(s"$f#"))
    }
    assert(overScanColumns.isEmpty, overScanColumns)
    assert(inOrder.count(_._3.exists(sortStages.contains)) === 1, inOrder.map(_._1))
    // the raw input is what the first (Imputer) job reads persisted
    val rawInput = inOrder.head._2.keySet
    assert(rawInput.nonEmpty)
    val lossJobs = inOrder.filter(_._1.startsWith("treeAggregate at RDDLossFunction"))
    assert(lossJobs.nonEmpty, inOrder.map(_._1))
    assert(lossJobs.forall(j => (j._2.keySet & rawInput).isEmpty))
    // the test side's collect is the last job: composing the model runs none
    assert(inOrder.last._1.startsWith("collect at LoanPipeline"), inOrder.map(_._1))
  }

  test("a repeat train on the same input compiles no generated class") {
    LoanPipeline.train(spark, csvDir)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    LoanPipeline.train(spark, csvDir)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled === 0L)
  }
}

object LoanTrainEquivalenceSpec {
  val FileCount = 3
  val RowsPerFile = 400

  /** `FileCount` CSV files (header + `RowsPerFile` rows each) over
    * `Tables.loanSchema` with a unique leading ID, about 10% nulls in
    * the imputed columns and a label drawn from a logistic model of the
    * features (left empty when `labelled` is false). The IDs ascend in
    * file order, or, with `shuffledIds`, are the same IDs permuted
    * across the files (every other value is the same). Returns the
    * directory. */
  def writeLoanCsv(labelled: Boolean, seed: Long = 20L, shuffledIds: Boolean = false): String = {
    val rnd = new Random(seed)
    val ascending = (0 until FileCount * RowsPerFile).map(10000 + _)
    val ids = if (shuffledIds) new Random(seed + 1).shuffle(ascending) else ascending
    val dir: Path = Files.createTempDirectory("loan-equivalence")
    def nullable(v: String) = if (rnd.nextDouble() < 0.1) "" else v
    def round3(x: Double) = (math.round(x * 1000) / 1000.0).toString
    for (f <- 0 until FileCount) {
      val lines = (0 until RowsPerFile).map { i =>
        val amount = 50000 + rnd.nextInt(500000)
        val rate = 3.0 + 2.0 * rnd.nextDouble()
        val property = 100000 + rnd.nextInt(700000)
        val income = 1000 + rnd.nextInt(15000)
        val score = 500 + rnd.nextInt(401)
        val ltv = 40.0 + 60.0 * rnd.nextDouble()
        val logit = -1.0 + 0.8 * (amount - 300000) / 150000.0 + 0.6 * (rate - 4.0) -
          0.9 * (score - 700) / 115.0 - 0.4 * (income - 8500) / 4300.0
        val status = if (rnd.nextDouble() < 1.0 / (1.0 + math.exp(-logit))) "1" else "0"
        Tables.loanSchema.fields.map { field =>
          field.name match {
            case "ID" => ids(f * RowsPerFile + i).toString
            case "Status" => if (labelled) status else ""
            case "loan_amount" => amount.toString
            case "rate_of_interest" => nullable(round3(rate))
            case "property_value" => nullable(property.toString)
            case "income" => nullable(income.toString)
            case "Credit_Score" => score.toString
            case "LTV" => nullable(round3(ltv))
            case _ => field.dataType match {
              case IntegerType => rnd.nextInt(100).toString
              case DoubleType => round3(rnd.nextDouble())
              case _ => Seq("a", "b", "c")(rnd.nextInt(3))
            }
          }
        }.mkString(",")
      }
      val header = Tables.loanSchema.fieldNames.mkString(",")
      Files.write(dir.resolve(s"part-$f.csv"),
        (header +: lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    dir.toString
  }
}
