package graft.ml

import graft.ops.Relational
import graft.sources.Tables
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
import org.apache.spark.ml.feature.{Imputer, StandardScaler, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.{Ascending, RowOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Sample, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The reference's ML "query plan" (SURVEY.md §2.5 M1–M10) rebuilt as
  * one `org.apache.spark.ml.Pipeline`:
  *
  *   Imputer(mean, in-place, 4 cols)      — M1, reference spark.py:38-42
  *   → VectorAssembler(6 features)        — M2, spark.py:45-46
  *   → StandardScaler                     — M3 (withMean=false parity,
  *                                          spark.py:49) / M4 (withMean=
  *                                          true, sklearn parity app.py:76)
  *   → LogisticRegression                 — M6/M8, spark.py:62-65
  *
  * plus batch scoring (M7), single-row scoring (M10), the P6 rule
  * override and P7 decision label composed as Catalyst expressions,
  * and the A4/A5 evaluators.
  *
  * Scale: every stage is a distributed MLlib estimator — Imputer is a
  * partial+final mean aggregate, StandardScaler/LogisticRegression fit
  * via treeAggregate over executors — and what [[train]] persists
  * stays on the executors (memory, spilling to disk):
  *  - the CSV scan, as plain rows (an RDD, not `Dataset.cache()`'s
  *    compressed columns, whose encoding pass over all 34 columns cost
  *    more than parsing the CSV), read by the preprocessing fits and by
  *    the split, and released once the split is built;
  *  - the split's one per-partition sort, narrowed to the columns the
  *    rest of the fit reads, from which both sides are sampled; one job
  *    builds it and counts the train side, and it is released when
  *    [[train]] returns.
  * The test side is read once, by a partial+final aggregate per
  * distinct score, and one task folds that aggregate into the single
  * summary row the driver receives ([[evaluate]]). Nothing here
  * collects the data to the driver, so the same code trains on 999 rows
  * or 10^9.
  */
object LoanPipeline {

  /** One scoring request (the reference UI's 6 widgets, app.py:153-158).
    * Field types mirror the pinned loan schema. */
  final case class LoanInput(
      loan_amount: Int, rate_of_interest: Double, property_value: Int,
      income: Int, Credit_Score: Int, LTV: Double)

  /** The UI defaults (app.py:153-158). */
  val DefaultInput: LoanInput = LoanInput(10000, 5.0, 200000, 50000, 700, 80.0)

  final case class LoanModelBundle(
      model: PipelineModel,
      auc: Double, accuracy: Double,
      trainCount: Long, testCount: Long)

  /** Imputed-column names: the reference imputes in place
    * (spark.py:38-42, inputCols == outputCols), but Spark 4's Imputer
    * appends output columns — same-name outputs now yield an ambiguous
    * schema — so we impute into `<col>_imp` and feed those to the
    * assembler. Semantics are identical. */
  private val imputedName: Map[String, String] =
    Tables.loanImputeCols.map(c => c -> s"${c}_imp").toMap

  /** Assembler inputs in the reference's feature order (spark.py:45),
    * with imputed names substituted for the 4 imputed columns. */
  val assembledCols: Array[String] =
    Tables.loanFeatureCols.map(c => imputedName.getOrElse(c, c)).toArray

  /** Preprocessing stages M1–M3.
    * @param withMean false = MLlib parity (divide by σ only,
    *   spark.py:49 defaults); true = sklearn parity (z-score,
    *   app.py:76-78). The reference's two paths disagree — both are
    *   exposed (SURVEY.md §7.4 risk 3). */
  def preprocessingStages(withMean: Boolean): Array[PipelineStage] = Array(
    new Imputer()
      .setInputCols(Tables.loanImputeCols.toArray)
      .setOutputCols(Tables.loanImputeCols.map(imputedName).toArray)
      .setStrategy("mean"),
    // A fixed uid: it is compiled into the generated code (the assembler
    // UDF's struct field names), so a random one recompiles every fit.
    new VectorAssembler("vecAssembler_loan")
      .setInputCols(assembledCols)
      .setOutputCol("features"),
    new StandardScaler()
      .setInputCol("features").setOutputCol("scaled_features")
      .setWithMean(withMean).setWithStd(true))

  private def logisticRegression(): LogisticRegression =
    new LogisticRegression()
      .setFeaturesCol("scaled_features")
      .setLabelCol(Tables.loanLabelCol)

  /** Reference-parity training (spark.py end-to-end): preprocessing is
    * fit on the FULL dataset before the split — faithful to the
    * reference's train/test leakage (spark.py:55-59, SURVEY.md §4) —
    * then a seeded 80/20 Bernoulli split and an LR fit on train.
    *
    * The scan is persisted once as rows and wrapped as a DataFrame; the
    * first preprocessing job fills it. [[split]] sorts it once (after
    * the preprocessing transform, or raw in the corrected mode) and
    * persists the sorted rows narrowed; the job that counts the train
    * side builds that cache, and the scan is released right after, so
    * LR's iterations hold only the split. Both are released on return,
    * also when a fit throws.
    *
    * @param fitPrepOnTrainOnly corrected-mode option (no leakage):
    *   preprocessing statistics come from the train split only. */
  def train(spark: SparkSession,
            path: String = Tables.LoanCsvPath,
            seed: Long = 42L,
            withMean: Boolean = false,
            fitPrepOnTrainOnly: Boolean = false): LoanModelBundle = {
    val scan = Tables.loan(spark, path)
    // copied: the scan reuses one row buffer per task
    val rows = scan.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val df = ColumnBridge.rowsFrame(spark, rows, scan.schema)
      def fitPrep(on: DataFrame) =
        new Pipeline().setStages(preprocessingStages(withMean)).fit(on)
      if (!fitPrepOnTrainOnly) {
        val prep = fitPrep(df)
        split(prep.transform(df), LrInputs, seed, rows) { (train, test, trainCount) =>
          fitAndEvaluate(prep, train, test, trainCount, df)
        }
      } else
        split(df, Tables.loanFeatureCols :+ Tables.loanLabelCol, seed, rows) {
          (trainRaw, testRaw, trainCount) =>
            val prep = fitPrep(trainRaw)
            fitAndEvaluate(prep, prep.transform(trainRaw), prep.transform(testRaw), trainCount, df)
        }
    } finally rows.unpersist()
  }

  /** The columns LR and [[evaluate]] read. */
  private val LrInputs = Seq("scaled_features", Tables.loanLabelCol)

  /** `frame.randomSplit(Array(0.8, 0.2), seed)`, as Spark 4.1's
    * `Dataset.randomSplit` plans it — `Sort(<every orderable output
    * column, ascending>, global = false)`, then per side `Sample(lb, ub,
    * withReplacement = false, seed)` over the cumulative normalized
    * weights, (0, 0.8) and (0.8, 1) — with the sort run once: the sorted rows, narrowed to
    * `cols` after the sort, are persisted, and both sides sample that
    * cache, so each side's rows and their order are `randomSplit`'s.
    * One job builds the cache and counts the train side; `input` is
    * then released, before `body` runs. The cache is released when
    * `body` returns or throws. `body` gets (train, test, train count). */
  private def split[A](frame: DataFrame, cols: Seq[String], seed: Long, input: RDD[_])
                      (body: (DataFrame, DataFrame, Long) => A): A = {
    val spark = frame.sparkSession
    val plan = frame.queryExecution.analyzed
    val order = plan.output.filter(a => RowOrdering.isOrderable(a.dataType)).map(SortOrder(_, Ascending))
    val sorted = ColumnBridge.ofRows(spark, Sort(order, global = false, plan))
      .select(cols.map(col): _*).persist()
    try {
      // the cumulative normalized weights of Array(0.8, 0.2)
      val Seq(train, test) = Seq((0.0, 0.8), (0.8, 1.0)).map { case (lb, ub) =>
        ColumnBridge.ofRows(spark, Sample(lb, ub, withReplacement = false, seed,
          sorted.queryExecution.analyzed))
      }
      // One job over the sorted cache; `Dataset.count` would be three
      // under AQE (cache stage, partial count, result).
      val trainCount = train.queryExecution.toRdd.count()
      input.unpersist()
      body(train, test, trainCount)
    } finally sorted.unpersist()
  }

  /** LR fit on `train` and evaluation on `test`, the two sides of one
    * [[split]] (its cache is what both read): LR's passes read the
    * train side, and [[evaluate]]'s aggregate reads the test side once
    * and gives its count, accuracy and AUC. */
  private def fitAndEvaluate(prep: PipelineModel, train: DataFrame, test: DataFrame,
                             trainCount: Long, fitDf: DataFrame): LoanModelBundle = {
    val needed = LrInputs.map(col)
    val lrModel = logisticRegression().fit(train.select(needed: _*))
    val eval = evaluate(lrModel.transform(test.select(needed: _*)))
    // Composing the fitted prep + LR into one PipelineModel: stages
    // that are already Transformers are passed through by Pipeline.fit
    // (no refit), so this is metadata-only.
    val full = new Pipeline()
      .setStages(Array[PipelineStage](prep, lrModel)).fit(fitDf.limit(1))
    LoanModelBundle(full, eval.auc, eval.accuracy, trainCount, eval.testCount)
  }

  /** A scored side's row count, hits (prediction == label) and area
    * under ROC, as [[evaluate]] returns them. */
  final case class Evaluation(testCount: Long, hits: Long, auc: Double) {
    def accuracy: Double = hits.toDouble / testCount.toDouble
  }

  /** `BinaryClassificationEvaluator`'s default `numBins`. */
  private val AucBins = 1000

  /** Count, accuracy ([[accuracy]]) and AUC ([[auc]]) of a scored frame
    * (rawPrediction, prediction, label) in two jobs: a partial+final
    * aggregate of rows, positives (label > 0.5) and hits per distinct
    * score, and one task over that aggregate that returns one summary
    * row to the driver. The task holds one entry per distinct score —
    * the state MLlib's single-partition `BinaryClassificationMetrics`
    * sort holds too.
    *
    * The AUC replicates `BinaryClassificationMetrics(numBins = 1000)
    * .areaUnderROC` over one partition (a `coalesce(1)` input, as
    * `LoanTrainEquivalenceSpec`'s reference formulation runs it): scores
    * descending by
    * `java.lang.Double.compare`; bins of `distinct / 1000` consecutive
    * scores when that is ≥ 2, the remainder as the last bin; cumulative
    * TPR/FPR with 0.0 for a zero denominator; (0,0) and (1,1) end
    * points; trapezoids summed in order. Every count is an exact
    * integer double, so the figures equal MLlib's bit for bit.
    *
    * Scores are keyed as MLlib keys them over one partition: its
    * map-side combine compares (partition, score) tuples numerically,
    * which merges 0.0 with -0.0, and its reduce side merges NaNs by
    * `Double.equals` — the two normalizations SQL grouping applies. Over
    * a multi-partition input MLlib can keep the zeros apart and sums
    * per-partition areas in another order, so it may differ there. */
  def evaluate(scored: DataFrame): Evaluation = {
    val label = col(Tables.loanLabelCol)
    val perScore = scored
      .groupBy(vector_to_array(col("rawPrediction")).getItem(1).as("score"))
      .agg(count(lit(1)), count_if(label > 0.5), count_if(col("prediction") === label))
    perScore.coalesce(1).queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(summarize(rows.map(r =>
        (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3))))))
      .collect().head
  }

  /** [[evaluate]]'s single-task fold over (score, rows, positives,
    * hits), one entry per distinct score. */
  private def summarize(perScore: Iterator[(Double, Long, Long, Long)]): Evaluation = {
    val byScore = perScore.toArray
      .sortWith((a, b) => java.lang.Double.compare(a._1, b._1) > 0)
    val counts = byScore.map { case (_, rows, pos, _) => (pos, rows - pos) }
    val grouping = counts.length / AucBins
    val bins =
      if (grouping < 2) counts
      else counts.grouped(grouping).map(g => (g.map(_._1).sum, g.map(_._2).sum)).toArray
    val (positives, negatives) = (counts.map(_._1).sum, counts.map(_._2).sum)
    def rate(n: Long, total: Long) = if (total == 0) 0.0 else n.toDouble / total.toDouble
    // (FPR, TPR) per cumulative bin; the scan's (0, 0) head is the
    // curve's (0, 0) end point
    val roc = bins.scanLeft((0L, 0L)) { case ((tp, fp), (pos, neg)) => (tp + pos, fp + neg) }
      .map { case (tp, fp) => (rate(fp, negatives), rate(tp, positives)) } :+ ((1.0, 1.0))
    val area = roc.iterator.zip(roc.iterator.drop(1)).foldLeft(0.0) {
      case (sum, ((x0, y0), (x1, y1))) => sum + (x1 - x0) * (y1 + y0) / 2.0
    }
    Evaluation(byScore.map(_._2).sum, byScore.map(_._4).sum, area)
  }

  private val bundleCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Boolean, Boolean), LoanModelBundle]()

  /** Memoized [[train]] — the reference's `st.cache_resource` semantics
    * (S7, app.py:98): one fitted model per (path, seed, mode) per JVM,
    * reused across scoring requests. */
  def trainCached(spark: SparkSession,
                  path: String = Tables.LoanCsvPath,
                  seed: Long = 42L,
                  withMean: Boolean = false,
                  fitPrepOnTrainOnly: Boolean = false): LoanModelBundle =
    bundleCache.computeIfAbsent((path, seed, withMean, fitPrepOnTrainOnly),
      _ => train(spark, path, seed, withMean, fitPrepOnTrainOnly))

  /** A4: area under ROC from (rawPrediction, label), by MLlib's
    * evaluator — the reference [[evaluate]]'s AUC is checked against. */
  def auc(scored: DataFrame): Double =
    new BinaryClassificationEvaluator()
      .setLabelCol(Tables.loanLabelCol)
      .setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")
      .evaluate(scored)

  /** A5: accuracy from (prediction, label), by MLlib's evaluator — the
    * reference [[evaluate]]'s accuracy is checked against. Cross-checked
    * relationally in tests via avg(prediction == label). */
  def accuracy(scored: DataFrame): Double =
    new MulticlassClassificationEvaluator()
      .setLabelCol(Tables.loanLabelCol)
      .setPredictionCol("prediction")
      .setMetricName("accuracy")
      .evaluate(scored)

  /** M7 batch scoring + P6 override + P7 labeling, all in one plan:
    * the override composes into the same Catalyst projection instead
    * of living in app code (reference app.py:187-202). */
  def scoreWithOverride(model: PipelineModel, input: DataFrame): DataFrame =
    model.transform(input)
      .withColumn("prediction_final",
        Relational.ruleOverride(col("prediction"), col("income"),
          col("loan_amount"), col("property_value")))
      .withColumn("decision", Relational.decisionLabel(col("prediction_final")))

  /** M10 single/multi-row interactive scoring from typed inputs. */
  def scoreInputs(spark: SparkSession, model: PipelineModel,
                  inputs: Seq[LoanInput]): DataFrame = {
    import spark.implicits._
    scoreWithOverride(model, inputs.toDF())
  }

  /** S4/S5: model artifact sink/source (the reference's .pth
    * state_dict, app.py:130/137-141, in Spark-native form). */
  def save(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)

  def load(path: String): PipelineModel = PipelineModel.load(path)
}
