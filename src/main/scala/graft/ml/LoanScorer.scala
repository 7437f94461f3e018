package graft.ml

import graft.ml.LoanPipeline.LoanInput
import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.feature.{ImputerModel, StandardScalerModel}
import org.apache.spark.ml.linalg.Vectors

/** Driver-local low-latency scorer (M10 fast path, SURVEY.md §7.1.5):
  * extracts the fitted pipeline's parameters once — imputer
  * surrogates, scaler σ/μ, LR coefficients — and scores a single
  * request in pure JVM math, no Spark job, no DataFrame. Microseconds
  * per call vs. a full `model.transform(oneRowDF)` plan execution;
  * the serving path the reference implements with its in-process
  * torch forward pass (app.py:178-184).
  *
  * Predictions are exactly `PipelineModel.transform`'s: same imputed
  * values, same scaling, same LR decision function (verified in
  * LoanScorerSpec), and the same P6 override / P7 label applied on
  * top.
  */
final class LoanScorer private (
    surrogates: Map[String, Double],
    scalerStd: Array[Double],
    scalerMean: Option[Array[Double]],
    lr: LogisticRegressionModel) extends Serializable {

  /** Assemble → impute → scale → LR predict, locally. */
  def predict(in: LoanInput): Double = {
    val raw = Array[Double](
      in.loan_amount.toDouble,
      impute("rate_of_interest", in.rate_of_interest),
      impute("property_value", in.property_value.toDouble),
      impute("income", in.income.toDouble),
      in.Credit_Score.toDouble,
      impute("LTV", in.LTV))
    val scaled = new Array[Double](raw.length)
    var i = 0
    while (i < raw.length) {
      val centered = scalerMean.map(m => raw(i) - m(i)).getOrElse(raw(i))
      scaled(i) = if (scalerStd(i) != 0.0) centered / scalerStd(i) else 0.0
      i += 1
    }
    lr.predict(Vectors.dense(scaled))
  }

  private def impute(col: String, v: Double): Double =
    if (v.isNaN) surrogates(col) else v

  /** Full serving decision: model predict + P6 override + P7 label. */
  def decide(in: LoanInput): (Double, String) = {
    val p = predict(in)
    val overridden =
      if (in.income < 30000 && in.loan_amount > 200000 && in.property_value < 100000)
        0.0
      else p
    (overridden, if (overridden == 1.0) "sanctioned" else "rejected")
  }
}

object LoanScorer {

  /** Extract serving parameters from a fitted pipeline (the
    * [[LoanPipeline.train]] shape: [prep=[Imputer, Assembler, Scaler],
    * LR]). One small driver-side collect of the surrogate row. */
  def fromModel(model: PipelineModel): LoanScorer = {
    val stages = model.stages.flatMap {
      case pm: PipelineModel => pm.stages
      case s => Array(s)
    }
    val imputer = stages.collectFirst { case m: ImputerModel => m }.get
    val scaler = stages.collectFirst { case m: StandardScalerModel => m }.get
    val lr = stages.collectFirst { case m: LogisticRegressionModel => m }.get

    val surRow = imputer.surrogateDF.collect()(0)
    val surrogates = imputer.getInputCols.map { c =>
      c -> surRow.getAs[Double](c)
    }.toMap
    new LoanScorer(
      surrogates,
      scaler.std.toArray,
      if (scaler.getWithMean) Some(scaler.mean.toArray) else None,
      lr)
  }
}
