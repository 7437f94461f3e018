package graft.ml

import scala.util.Random

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame

/** `LoanPipeline.evaluate` against MLlib's evaluators (`LoanPipeline.auc`
  * and `LoanPipeline.accuracy`) over the same scored rows in one
  * partition, the input `train` gave them before: the replica must be
  * bit for bit equal on every branch of `BinaryClassificationMetrics`. */
class LoanEvaluationSpec extends SparkSpec {

  /** (score, label, prediction) rows as a 4-partition scored frame:
    * rawPrediction = [-score, score], as a binomial LR writes it. */
  private def scoredFrame(rows: Seq[(Double, Int, Double)]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, 4)
      .map { case (s, y, p) => (Vectors.dense(-s, s), y, p) }
      .toDF("rawPrediction", Tables.loanLabelCol, "prediction")
  }

  private def assertMatchesMllib(rows: Seq[(Double, Int, Double)]): Unit = {
    val scored = scoredFrame(rows)
    val got = LoanPipeline.evaluate(scored)
    val onePartition = scored.coalesce(1)
    assert(got.testCount === rows.size.toLong)
    assert(got.auc === LoanPipeline.auc(onePartition))
    assert(got.accuracy === LoanPipeline.accuracy(onePartition))
  }

  /** `n` rows with scores from `score`, labels drawn from a logistic
    * model of the score and predictions that are wrong about 1 time in 5. */
  private def seeded(n: Int, seed: Long)(score: Random => Double): Seq[(Double, Int, Double)] = {
    val rnd = new Random(seed)
    Seq.fill(n) {
      val s = score(rnd)
      val y = if (rnd.nextDouble() < 1.0 / (1.0 + math.exp(-2.0 * s))) 1 else 0
      val p = if (rnd.nextDouble() < 0.8) y.toDouble else 1.0 - y
      (s, y, p)
    }
  }

  test("fewer than 2,000 distinct scores: one ROC point per score") {
    val rows = seeded(1500, 1L)(r => math.round(r.nextGaussian() * 1000) / 1000.0)
    val distinct = rows.map(_._1).distinct.size
    assert(distinct >= 1000 && distinct < 2000, s"$distinct distinct scores")
    assertMatchesMllib(rows)
  }

  for (n <- Seq(4321, 12345))
    test(s"$n distinct scores: bins of ${n / 1000} with a remainder bin of ${n % (n / 1000)}") {
      val rows = seeded(n, n.toLong)(_.nextGaussian())
      assert(rows.map(_._1).distinct.size === n)
      assertMatchesMllib(rows)
    }

  test("scores tied across both labels") {
    val rows = seeded(600, 3L)(r => (r.nextInt(7) - 3) / 2.0)
    rows.groupBy(_._1).values.foreach(g => assert(g.map(_._2).toSet === Set(0, 1)))
    assertMatchesMllib(rows)
  }

  test("a test side with only one class takes the zero-denominator branches") {
    val rows = seeded(300, 4L)(_.nextGaussian())
    assertMatchesMllib(rows.map { case (s, _, p) => (s, 0, p) })
    assertMatchesMllib(rows.map { case (s, _, p) => (s, 1, p) })
  }

  test("an empty test side: no rows, MLlib's AUC of 0.5 and a NaN accuracy") {
    val empty = scoredFrame(Seq((1.0, 1, 1.0))).limit(0)
    val got = LoanPipeline.evaluate(empty)
    assert(got.testCount === 0L)
    assert(got.auc === LoanPipeline.auc(empty.coalesce(1)))
    assert(got.accuracy.isNaN && LoanPipeline.accuracy(empty.coalesce(1)).isNaN)
  }

  test("0.0 and -0.0 are one score, and so are NaNs, as MLlib keys them over one partition") {
    // apart, the two zeros would make two ROC points and AUC 1.0
    val rows = Seq((1.0, 1, 1.0), (0.0, 1, 1.0), (-0.0, 0, 0.0), (-1.0, 0, 0.0))
    assert(LoanPipeline.evaluate(scoredFrame(rows)).auc === 0.875)
    assertMatchesMllib(rows)
    assertMatchesMllib(seeded(400, 5L)(r => Seq(0.0, -0.0, 0.5, -0.5, Double.NaN)(r.nextInt(5))))
  }
}
