package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types._

/** Table readers for the engine.
  *
  * Two source families:
  *  1. The driver-generated TPC-H-ish parquet tables (TESTDATA.md):
  *     `region nation customer supplier part orders lineitem events
  *     documents embeddings`, loaded per scale-factor directory.
  *  2. The reference's loan table (`/root/reference/Loan_Default.csv`,
  *     read-only), with the schema `inferSchema=True` produces at the
  *     reference's `spark.py:29` — pinned here as an explicit
  *     [[StructType]] so production reads are a single pass (no
  *     schema-inference double scan), with an `inferSchema` parity
  *     switch for faithfulness tests.
  */
object Tables {

  /** Parquet scan of one testdata table. Filters/projections composed on
    * top of this are pushed into the parquet reader by Catalyst
    * (visible as PushedFilters/ReadSchema in explain).
    *
    * The schema comes from one data file's footer, read driver-side
    * on every call ([[Sinks.readParquet]]): a bare
    * `spark.read.parquet` runs a footer-reading schema-INFERENCE job
    * per call — 30–100 ms per read, several reads per query. It is
    * not cached per path: a table rewritten with a different schema
    * in the same JVM must read with the new schema, never the old
    * one's nulls (ADVICE r19 #1). The footer is what inference reads,
    * so the [[events]] nanos/micros dispatch sees exactly what
    * inference would see. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Sinks.readParquet(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** The events table's `ts` column has shipped under two physical
    * parquet encodings, and the reader must not assume either:
    *
    *  - INT64 TIMESTAMP(NANOS): Spark has no nanosecond type, so we
    *    read it as a long (legacy `nanosAsLong`) and floor-convert to
    *    microsecond TimestampType — the same truncation DuckDB applies.
    *  - INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it
    *    as TIMESTAMP_NTZ; we cast to TimestampType. The session
    *    timezone is pinned to UTC ([[graft.GraftSession]]), so the cast
    *    preserves the stored microsecond value exactly — the same naive
    *    micros DuckDB sees.
    *
    * Dispatch is on the file footer (what `spark.read` actually
    * inferred), not on a hard-coded writer assumption: landing-zone
    * writers change, and the contract is "ts is an event-time instant",
    * not one physical encoding. */
  def events(s: SparkSession, d: String): DataFrame = {
    // Harmless for micros/NTZ files; required to even read nanos footers.
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(table(s, d, "events"))
  }

  /** Normalize an events DataFrame's `ts` to TimestampType whatever
    * the storage encoding produced (see [[events]] for the contract). */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType => // legacy INT64 TIMESTAMP(NANOS) read as long
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => // TIMESTAMP(MICROS, adjusted=false)
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw // already instant-typed
      case other => throw new IllegalStateException(
        s"events.ts: unsupported storage type $other (expected " +
          "INT64 nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  /** Events with `ts` normalized to TIMESTAMP_NTZ — the naive-semantics
    * twin of [[events]], for queries that operate on the stored
    * wall-clock value (q166). Same footer dispatch as
    * [[normalizeEventTs]], landing on NTZ instead of instant: the
    * session timezone is pinned UTC ([[graft.GraftSession]]), so the
    * instant→NTZ cast preserves the stored microseconds bit-exactly,
    * and the legacy nanos long floors to micros first (the same
    * truncation DuckDB applies). Without this dispatch, a
    * contract-legal encoding change (instant-typed or legacy-nanos
    * files) would make a raw NTZ-assuming query fail with an opaque
    * analysis error even though the pre-flight contract check passed. */
  def eventsNtz(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // legacy INT64 TIMESTAMP(NANOS) read as long
        raw.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case TimestampType => // instant-typed; UTC session tz => bit-exact
        raw.withColumn("ts", col("ts").cast(TimestampNTZType))
      case TimestampNTZType => raw // already naive-typed
      case other => throw new IllegalStateException(
        s"events.ts: unsupported storage type $other (expected " +
          "INT64 nanos, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }

  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** All testdata table names, in TESTDATA.md order. */
  val allTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table as a temp view so the SQL front
    * end (`spark.sql`) can query the full catalog by name — the
    * SQL-first entry point for users who don't touch the Column API.
    * Events goes through the nanos-normalizing reader. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    allTables.foreach {
      case "events" => events(spark, sfDir).createOrReplaceTempView("events")
      case t => table(spark, sfDir, t).createOrReplaceTempView(t)
    }

  /** Default location of the reference's loan dataset (read-only). */
  val LoanCsvPath = "/root/reference/Loan_Default.csv"

  /** Pinned schema of `Loan_Default.csv` — exactly what
    * `inferSchema=True` yields on the 999-row file (FIXTURES.md §1).
    * Reference: `spark.py:29`. Nulls are empty CSV fields. */
  val loanSchema: StructType = StructType(Seq(
    StructField("ID", IntegerType),
    StructField("year", IntegerType),
    StructField("loan_limit", StringType),
    StructField("Gender", StringType),
    StructField("approv_in_adv", StringType),
    StructField("loan_type", StringType),
    StructField("loan_purpose", StringType),
    StructField("Credit_Worthiness", StringType),
    StructField("open_credit", StringType),
    StructField("business_or_commercial", StringType),
    StructField("loan_amount", IntegerType),
    StructField("rate_of_interest", DoubleType),
    StructField("Interest_rate_spread", DoubleType),
    StructField("Upfront_charges", DoubleType),
    StructField("term", IntegerType),
    StructField("Neg_ammortization", StringType),
    StructField("interest_only", StringType),
    StructField("lump_sum_payment", StringType),
    StructField("property_value", IntegerType),
    StructField("construction_type", StringType),
    StructField("occupancy_type", StringType),
    StructField("Secured_by", StringType),
    StructField("total_units", StringType),
    StructField("income", IntegerType),
    StructField("credit_type", StringType),
    StructField("Credit_Score", IntegerType),
    StructField("co-applicant_credit_type", StringType),
    StructField("age", StringType),
    StructField("submission_of_application", StringType),
    StructField("LTV", DoubleType),
    StructField("Region", StringType),
    StructField("Security_Type", StringType),
    StructField("Status", IntegerType),
    StructField("dtir1", IntegerType),
  ))

  /** The 6 numeric feature columns fed to the model (reference
    * `spark.py:45`, `app.py:69`). */
  val loanFeatureCols: Seq[String] =
    Seq("loan_amount", "rate_of_interest", "property_value", "income",
        "Credit_Score", "LTV")

  /** The 4 columns mean-imputed by the reference (`spark.py:38`,
    * `app.py:34`). */
  val loanImputeCols: Seq[String] =
    Seq("rate_of_interest", "property_value", "income", "LTV")

  val loanLabelCol: String = "Status"

  /** CSV scan of the loan table (SURVEY.md §2.1 S1).
    *
    * @param inferSchema parity switch: `true` reproduces the
    *   reference's double-scan schema inference (`spark.py:29`);
    *   `false` (production default) uses the pinned [[loanSchema]] —
    *   one pass over the file. */
  def loan(spark: SparkSession, path: String = LoanCsvPath,
           inferSchema: Boolean = false): DataFrame = {
    val base = spark.read.option("header", "true")
    if (inferSchema) base.option("inferSchema", "true").csv(path)
    else base.schema(loanSchema).csv(path)
  }
}
