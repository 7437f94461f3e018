package graft.ml

import graft.ops.Relational
import graft.sources.Tables
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
import org.apache.spark.ml.feature.{Imputer, StandardScaler, VectorAssembler}
import org.apache.spark.ml.{Pipeline, PipelineModel, PipelineStage}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * via treeAggregate over executors, and the split sides that [[train]]
  * persists stay on the executors (memory, spilling to disk). Nothing
  * here collects the data to the driver, so the same code trains on 999
  * rows or 10^9.
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
    new VectorAssembler()
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
    * @param fitPrepOnTrainOnly corrected-mode option (no leakage):
    *   preprocessing statistics come from the train split only. */
  def train(spark: SparkSession,
            path: String = Tables.LoanCsvPath,
            seed: Long = 42L,
            withMean: Boolean = false,
            fitPrepOnTrainOnly: Boolean = false): LoanModelBundle = {
    val df = Tables.loan(spark, path).cache()
    try {
      if (!fitPrepOnTrainOnly) {
        val prep = new Pipeline().setStages(preprocessingStages(withMean)).fit(df)
        val Array(train, test) = prep.transform(df).randomSplit(Array(0.8, 0.2), seed)
        fitAndEvaluate(prep, train, test, df)
      } else {
        val Array(trainRaw, testRaw) = df.randomSplit(Array(0.8, 0.2), seed)
        val prep = new Pipeline().setStages(preprocessingStages(withMean)).fit(trainRaw)
        fitAndEvaluate(prep, prep.transform(trainRaw), prep.transform(testRaw), df)
      }
    } finally df.unpersist()
  }

  /** LR fit on `train` and evaluation on `test`, the two sides of one
    * `randomSplit`. */
  private def fitAndEvaluate(prep: PipelineModel, train: DataFrame, test: DataFrame,
                             fitDf: DataFrame): LoanModelBundle = {
    // Each split side is narrowed after the split (so its per-partition
    // sort and row membership are unchanged) and persisted by the count
    // that sizes it, since every action on an unpersisted side re-runs
    // randomSplit's sort over all columns: the train side serves LR's
    // passes, the scored test side the two evaluators.
    val needed = Seq(col("scaled_features"), col(Tables.loanLabelCol))
    val trainSet = train.select(needed: _*).persist()
    val (trainCount, lrModel) =
      try (trainSet.count(), logisticRegression().fit(trainSet))
      finally trainSet.unpersist()
    val scored = lrModel.transform(test.select(needed: _*)).persist()
    try {
      val testCount = scored.count()
      // The evaluators' sortByKey/aggregate stages inherit the partition
      // count; one partition of the cached frame concatenates the cached
      // partitions in split order.
      val evalInput = scored.coalesce(1)
      // Composing the fitted prep + LR into one PipelineModel: stages
      // that are already Transformers are passed through by Pipeline.fit
      // (no refit), so this is metadata-only.
      val full = new Pipeline()
        .setStages(Array[PipelineStage](prep, lrModel)).fit(fitDf.limit(1))
      LoanModelBundle(full, auc(evalInput), accuracy(evalInput), trainCount, testCount)
    } finally scored.unpersist()
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

  /** A4: area under ROC from (rawPrediction, label). */
  def auc(scored: DataFrame): Double =
    new BinaryClassificationEvaluator()
      .setLabelCol(Tables.loanLabelCol)
      .setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC")
      .evaluate(scored)

  /** A5: accuracy from (prediction, label). Cross-checked relationally
    * in tests via avg(prediction == label). */
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
