package graft.queries

import graft.QueryDef
import graft.ops.Relational.{decSum, saltedJoin}
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-2 coverage widening: statistical aggregates from exact sums,
  * exact quantiles, ordered string aggregation, regexp/math/date scalar
  * surfaces, the full ranking-window suite, range frames, sink
  * round-trips (CSV/JSON/partitioned parquet), the salted skew join,
  * and SQL-front-end IN/NOT IN subqueries. Every query here carries a
  * DuckDB oracle.
  *
  * Cross-engine exactness pattern for derived doubles (variance, corr,
  * percent_rank...): every input to the final arithmetic is either an
  * exact decimal sum CAST to double (one correctly-rounded conversion,
  * identical in both engines) or an exact integer, and the final
  * expression tree is written with the SAME shape and association in
  * both engines — IEEE ops are deterministic, so the doubles match
  * bit-for-bit.
  */
object ExtendedQueries {

  /** Sample variance / stddev / correlation from exact decimal moments
    * — order-independent under any partitioning (a naive double sum of
    * squares would drift between a 1000-executor run and the oracle).
    * Small-magnitude measures (quantity, discount) keep every unscaled
    * decimal below 2^53 so the decimal→double conversions are exact. */
  val q60StatsMoments = QueryDef(
    "q60_stats_moments",
    """WITH s AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS syy,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  (sxx - sx * sx / n) / (n - 1) AS var_qty,
      |  sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_qty,
      |  ((sxy - sx * sy / n) / (n - 1)) /
      |    (sqrt((sxx - sx * sx / n) / (n - 1)) * sqrt((syy - sy * sy / n) / (n - 1)))
      |    AS corr_qty_disc
      |FROM s ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val qd = col("l_quantity").cast(DecimalType(18, 2))
    val dd = col("l_discount").cast(DecimalType(18, 2))
    val agg = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(qd).cast("double").as("sx"),
        sum(qd * qd).cast("double").as("sxx"),
        sum(dd).cast("double").as("sy"),
        sum(dd * dd).cast("double").as("syy"),
        sum(qd * dd).cast("double").as("sxy"))
    val n = col("n"); val sx = col("sx"); val sxx = col("sxx")
    val sy = col("sy"); val syy = col("syy"); val sxy = col("sxy")
    val varQty = (sxx - sx * sx / n) / (n - 1)
    val varDisc = (syy - sy * sy / n) / (n - 1)
    val cov = (sxy - sx * sy / n) / (n - 1)
    agg.select(col("l_returnflag"), n,
      varQty.as("var_qty"),
      sqrt(varQty).as("stddev_qty"),
      (cov / (sqrt(varQty) * sqrt(varDisc))).as("corr_qty_disc"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact discrete percentiles (p50/p90/p99) per group via the
    * row_number formulation — value at rank ceil(p*n), no
    * interpolation, so both engines pick the identical row. One
    * shuffle on the group key. */
  val q61Percentiles = QueryDef(
    "q61_percentiles",
    """WITH r AS (
      |  SELECT o_orderpriority, o_totalprice, o_orderkey,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice, o_orderkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      |  FROM orders)
      |SELECT o_orderpriority, CAST(MAX(n) AS BIGINT) AS n,
      |  MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN o_totalprice END) AS p50,
      |  MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN o_totalprice END) AS p90,
      |  MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN o_totalprice END) AS p99
      |FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val byPrio = Window.partitionBy(col("o_orderpriority"))
    val w = byPrio.orderBy(col("o_totalprice"), col("o_orderkey"))
    def pick(p: Double) = max(when(
      col("rn") === ceil(lit(p) * col("n")).cast("long"), col("o_totalprice")))
    Tables.orders(s, d)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(byPrio))
      .groupBy(col("o_orderpriority"))
      .agg(max(col("n")).as("n"),
        pick(0.5).as("p50"), pick(0.9).as("p90"), pick(0.99).as("p99"))
      .orderBy(col("o_orderpriority"))
  }

  /** Ordered string aggregation (LISTAGG): suppliers per nation as a
    * sorted comma-joined list. collect_list order is
    * partitioning-dependent, so the sort happens INSIDE the row
    * (array_sort) — deterministic at any cluster size. */
  val q62Listagg = QueryDef(
    "q62_listagg",
    """SELECT n_name, COUNT(*) AS n_supp,
      | string_agg(s_name, ',' ORDER BY s_name) AS suppliers
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
    val su = Tables.supplier(s, d)
    val n = Tables.nation(s, d)
    su.join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_supp"),
        array_join(array_sort(collect_list(col("s_name"))), ",").as("suppliers"))
      .orderBy(col("n_name"))
  }

  /** Regexp scalar surface: rlike filter, group extraction, global
    * replacement, and a regexp-based token count. Patterns stay in the
    * RE2-compatible subset where Java and RE2 semantics agree. */
  val q63Regexp = QueryDef(
    "q63_regexp",
    """SELECT p_partkey,
      | regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
      | regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled,
      | len(regexp_extract_all(p_name, '[a-z]+')) AS n_words
      |FROM part
      |WHERE regexp_matches(p_name, '^[a-z]+ [a-z]+')
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d)
      .filter(col("p_name").rlike("^[a-z]+ [a-z]+"))
      .select(col("p_partkey"),
        regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("devoweled"),
        size(regexp_extract_all(col("p_name"), lit("[a-z]+"), lit(0))).as("n_words"))
      .orderBy(col("p_partkey"))
  }

  /** Math scalar surface restricted to IEEE-deterministic ops (sqrt is
    * correctly rounded; ln/exp/pow are libm-dependent and excluded):
    * abs/ceil/floor/sign/greatest/least/mod + decimal round. */
  val q64MathFuncs = QueryDef(
    "q64_math_funcs",
    """SELECT l_orderkey, l_linenumber,
      | abs(l_discount - 0.05) AS abs_ddisc,
      | CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_price,
      | CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
      | sqrt(l_quantity) AS sqrt_qty,
      | CAST(sign(l_discount - 0.05) AS DOUBLE) AS sign_ddisc,
      | greatest(l_quantity, 25.0) AS g25,
      | least(l_tax, 0.04) AS l04,
      | l_orderkey % 7 AS key_mod7,
      | CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)), 1) AS DOUBLE) AS price_r1
      |FROM lineitem WHERE l_orderkey < 500
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 500)
      .select(col("l_orderkey"), col("l_linenumber"),
        abs(col("l_discount") - 0.05).as("abs_ddisc"),
        ceil(col("l_extendedprice")).as("ceil_price"),
        floor(col("l_extendedprice")).as("floor_price"),
        sqrt(col("l_quantity")).as("sqrt_qty"),
        signum(col("l_discount") - 0.05).as("sign_ddisc"),
        greatest(col("l_quantity"), lit(25.0)).as("g25"),
        least(col("l_tax"), lit(0.04)).as("l04"),
        (col("l_orderkey") % 7).as("key_mod7"),
        round(col("l_extendedprice").cast(DecimalType(12, 2)), 1)
          .cast("double").as("price_r1"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** IN / NOT IN subqueries through the engine's SQL front end (temp
    * views + spark.sql) — planned as left-semi and null-safe left-anti
    * joins; the NOT IN subquery is null-free by construction (the
    * null-poisoning variant is covered in q53's null semantics). */
  val q65InSubquery = QueryDef(
    "q65_in_subquery",
    """SELECT o_orderkey, o_custkey, o_orderpriority FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer
      |                    WHERE c_mktsegment = 'AUTOMOBILE')
      |  AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem
      |                         WHERE l_quantity > 48)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders_v65")
    Tables.customer(s, d).createOrReplaceTempView("customer_v65")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v65")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_orderpriority FROM orders_v65
        |WHERE o_custkey IN (SELECT c_custkey FROM customer_v65
        |                    WHERE c_mktsegment = 'AUTOMOBILE')
        |  AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem_v65
        |                         WHERE l_quantity > 48)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Cross join (cartesian): every (region, returnflag) combination —
    * the deliberate-broadcast nested-loop case. */
  val q66CrossJoin = QueryDef(
    "q66_cross_join",
    """SELECT r_name, l_returnflag FROM region
      |CROSS JOIN (SELECT DISTINCT l_returnflag FROM lineitem)
      |ORDER BY r_name, l_returnflag""".stripMargin) { (s, d) =>
    val flags = Tables.lineitem(s, d).select(col("l_returnflag")).distinct()
    Tables.region(s, d).crossJoin(broadcast(flags))
      .select(col("r_name"), col("l_returnflag"))
      .orderBy(col("r_name"), col("l_returnflag"))
  }

  /** The full ranking-window suite in one pass: rank / dense_rank /
    * ntile / percent_rank / cume_dist / first_value / nth_value / lead
    * — one shuffle on the partition key, unique (score, key) ordering
    * so every function is deterministic. */
  val q67WindowSuite = QueryDef(
    "q67_window_suite",
    """SELECT o_orderkey, o_orderpriority,
      | CAST(rank() OVER w AS BIGINT) AS rnk,
      | CAST(dense_rank() OVER w AS BIGINT) AS drnk,
      | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      | percent_rank() OVER w AS prank,
      | cume_dist() OVER w AS cdist,
      | first_value(o_totalprice) OVER w AS top_price,
      | nth_value(o_totalprice, 2) OVER w AS second_price,
      | lead(o_totalprice, 1, -1.0) OVER w AS next_price
      |FROM orders
      |WHERE o_custkey < 100
      |WINDOW w AS (PARTITION BY o_orderpriority
      |             ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_orderpriority, rnk""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_custkey") < 100)
      .select(col("o_orderkey"), col("o_orderpriority"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("prank"),
        cume_dist().over(w).as("cdist"),
        first_value(col("o_totalprice")).over(w).as("top_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"),
        lead(col("o_totalprice"), 1, -1.0).over(w).as("next_price"))
      .orderBy(col("o_orderpriority"), col("rnk"))
  }

  /** RANGE frame over event time: per-user 10-minute trailing sum —
    * value-based frame bounds (not row counts), exact decimal sum
    * surfaced as double. */
  val q68RangeFrame = QueryDef(
    "q68_range_frame",
    """SELECT event_id, user_id,
      | CAST(SUM(CAST(value AS DECIMAL(18,2)))
      |       OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
      |      AS DOUBLE) AS sum_10min
      |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-600000000L, 0L)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        sum(col("value").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("sum_10min"))
      .orderBy(col("event_id"))
  }

  private def tmpDir(s: org.apache.spark.sql.SparkSession, tag: String,
                     sfDir: String): String = {
    val sf = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    s"target/tmp/${tag}_$sf"
  }

  /** CSV sink → source round-trip (S1/S3): write a projected subset as
    * CSV, re-read it with an explicit schema (single pass, no
    * inference), aggregate. The oracle aggregates the base table
    * directly — the round-trip must be lossless. */
  val q69CsvRoundtrip = QueryDef(
    "q69_csv_roundtrip",
    """SELECT o_orderpriority, COUNT(*) AS n,
      | CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      |FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val path = tmpDir(s, "q69_csv", d)
    Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === 1995)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
      .write.mode("overwrite").option("header", "true").csv(path)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderpriority", StringType)))
    s.read.option("header", "true").schema(schema).csv(path)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_key"))
      .orderBy(col("o_orderpriority"))
  }

  /** JSON-lines sink → source round-trip (interchange path): doubles
    * survive exactly (shortest-round-trip serialization), schema
    * supplied on read. */
  val q70JsonRoundtrip = QueryDef(
    "q70_json_roundtrip",
    """SELECT event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events WHERE user_id < 50
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val path = tmpDir(s, "q70_json", d)
    graft.sources.Sinks.writeJson(
      Tables.events(s, d).filter(col("user_id") < 50)
        .select(col("event_id"), col("event_type"), col("value")), path)
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType)))
    graft.sources.Sinks.readJson(s, path, schema)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Partitioned-parquet sink → pruned source: write orders
    * partitioned by priority, read back filtered to ONE partition —
    * the filter prunes directories (PartitionFilters), scanning 1/5 of
    * the data; asserted in the spec. */
  val q71PartitionedParquet = QueryDef(
    "q71_partitioned_parquet",
    """SELECT o_orderpriority, COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val path = tmpDir(s, "q71_part", d)
    graft.sources.Sinks.writePartitioned(
      Tables.orders(s, d).select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority")), path, "o_orderpriority")
    s.read.parquet(path)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  /** Skew-safe salted join (identical result to the plain equi-join —
    * the oracle IS the plain join): the hot key's rows spread over 8
    * salted reducers instead of one straggler. */
  val q72SaltedJoin = QueryDef(
    "q72_salted_join",
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_quantity < 10
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d).filter(col("l_quantity") < 10)
      .withColumnRenamed("l_orderkey", "jk")
    val o = Tables.orders(s, d)
      .select(col("o_orderkey").as("jk"), col("o_orderpriority"))
    saltedJoin(li, o, "jk", nSalts = 8)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), decSum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Date/time arithmetic surface: interval add, datediff, date_trunc,
    * last_day, ISO week/quarter extraction. Timestamp-typed outputs go
    * through VARCHAR (cross-engine repr parity). */
  val q76DateArith = QueryDef(
    "q76_date_arith",
    """SELECT o_orderkey,
      | CAST(o_orderdate + INTERVAL 30 DAY AS VARCHAR) AS d30,
      | CAST(datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT) AS days_since,
      | CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
      | CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS month_end,
      | CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS q,
      | CAST(EXTRACT(week FROM o_orderdate) AS INT) AS iso_week
      |FROM orders WHERE o_orderkey < 300
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 300)
      .select(col("o_orderkey"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).cast("string").as("d30"),
        datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).as("days_since"),
        date_trunc("month", col("o_orderdate")).cast("date").cast("string")
          .as("month_start"),
        last_day(col("o_orderdate").cast("date")).cast("string").as("month_end"),
        quarter(col("o_orderdate")).as("q"),
        weekofyear(col("o_orderdate")).as("iso_week"))
      .orderBy(col("o_orderkey"))
  }

  /** ORC sink → source round-trip (second columnar format; same
    * pushdown story as parquet — asserted in SinksSpec). */
  val q73OrcRoundtrip = QueryDef(
    "q73_orc_roundtrip",
    """SELECT c_mktsegment, COUNT(*) AS n,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal
      |FROM customer WHERE c_nationkey < 10
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val path = tmpDir(s, "q73_orc", d)
    graft.sources.Sinks.writeOrc(
      Tables.customer(s, d).filter(col("c_nationkey") < 10), path)
    s.read.orc(path)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), decSum(col("c_acctbal")).as("acctbal"))
      .orderBy(col("c_mktsegment"))
  }

  /** DISTINCT projection (the Deduplicate operator — hash aggregate
    * with no aggregate functions). */
  val q74Distinct = QueryDef(
    "q74_distinct",
    """SELECT DISTINCT l_returnflag, l_linestatus, CAST(l_quantity AS INT) % 10 AS qmod
      |FROM lineitem ORDER BY l_returnflag, l_linestatus, qmod""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_linestatus"),
        (col("l_quantity").cast("int") % 10).as("qmod"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"), col("qmod"))
  }

  /** Bag (multiset) set operations: INTERSECT ALL / EXCEPT ALL keep
    * duplicate multiplicities — the multiset twins of q10. */
  val q75BagSetOps = QueryDef(
    "q75_bag_set_ops",
    """SELECT o_custkey, 'both_all' AS op FROM (
      |  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
      |  INTERSECT ALL
      |  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996)
      |UNION ALL
      |SELECT o_custkey, 'extra_1995' AS op FROM (
      |  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
      |  EXCEPT ALL
      |  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996)
      |ORDER BY o_custkey, op""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    def keysIn(y: Int) =
      o.filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
    val a = keysIn(1995)
    val b = keysIn(1996)
    a.intersectAll(b).withColumn("op", lit("both_all"))
      .union(a.exceptAll(b).withColumn("op", lit("extra_1995")))
      .orderBy(col("o_custkey"), col("op"))
  }

  /** Nested types: struct construction + field access, map
    * construction + key lookup, array construction / indexing /
    * membership / in-row sort. Outputs are scalar extractions only
    * (nested cells never reach the verification harness, which can't
    * sort them). */
  val q77NestedTypes = QueryDef(
    "q77_nested_types",
    """WITH n AS (
      |  SELECT o_orderkey, o_custkey,
      |    {'key': o_orderkey, 'price': o_totalprice} AS st,
      |    MAP(['prio','status'], [o_orderpriority, o_orderstatus]) AS m,
      |    [o_orderkey, o_custkey, 42] AS arr
      |  FROM orders WHERE o_orderkey < 2000)
      |SELECT o_orderkey,
      |  st.price AS st_price,
      |  m['prio'][1] AS m_prio,
      |  arr[2] AS arr_second,
      |  CAST(len(arr) AS INT) AS arr_len,
      |  list_contains(arr, 42) AS has42,
      |  CAST(list_sort([o_custkey % 5, o_orderkey % 3])[1] AS BIGINT) AS sorted_first
      |FROM n ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"),
        struct(col("o_orderkey").as("key"), col("o_totalprice").as("price")).as("st"),
        map(lit("prio"), col("o_orderpriority"),
          lit("status"), col("o_orderstatus")).as("m"),
        array(col("o_orderkey"), col("o_custkey"), lit(42L)).as("arr"),
        col("o_custkey"))
      .select(col("o_orderkey"),
        col("st").getField("price").as("st_price"),
        element_at(col("m"), "prio").as("m_prio"),
        element_at(col("arr"), 2).as("arr_second"),
        size(col("arr")).as("arr_len"),
        array_contains(col("arr"), 42L).as("has42"),
        element_at(array_sort(array(col("o_custkey") % 5, col("o_orderkey") % 3)), 1)
          .as("sorted_first"))
      .orderBy(col("o_orderkey"))
  }

  /** Positional explode (generator with ordinality) — the lateral-join
    * shape: each doc row fans out to (pos, token) rows. */
  val q78Posexplode = QueryDef(
    "q78_posexplode",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE doc_id < 50)
      |SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[i] AS token
      |FROM t, unnest(generate_series(1, len(toks))) AS g(i)
      |ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "token")
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Bounded ROWS frame: centered moving average (3 preceding to 3
    * following) of order value per customer — exact decimal numerator,
    * one double division per row. */
  val q79MovingAvg = QueryDef(
    "q79_moving_avg",
    """SELECT o_orderkey, o_custkey,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS DOUBLE) /
      | COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS mavg
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    val f = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-3, 3)
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"),
        (sum(col("o_totalprice").cast(DecimalType(18, 2))).over(f).cast("double") /
          count(lit(1)).over(f)).as("mavg"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Safe-cast + null-function surface: try_cast (ANSI-mode-safe
    * failure → null), nullif, ifnull-with-fallback. */
  val q80TryCast = QueryDef(
    "q80_try_cast",
    """SELECT p_partkey,
      | TRY_CAST(substring(p_brand, 7) AS INT) AS brand_num,
      | TRY_CAST(p_type AS INT) AS bad_cast,
      | nullif(p_size, 25) AS size_nz,
      | ifnull(TRY_CAST(p_type AS INT), -1) AS fallback
      |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d)
      .select(col("p_partkey"),
        substring(col("p_brand"), 7, 100).try_cast("int").as("brand_num"),
        col("p_type").try_cast("int").as("bad_cast"),
        nullif(col("p_size"), lit(25)).as("size_nz"),
        ifnull(col("p_type").try_cast("int"), lit(-1)).as("fallback"))
      .orderBy(col("p_partkey"))
  }

  /** UNION by column NAME (not position), null-filling columns missing
    * from either side — the schema-evolution-friendly union. */
  val q81UnionByName = QueryDef(
    "q81_union_by_name",
    """SELECT k, prio, price FROM (
      |  SELECT o_orderkey AS k, o_orderpriority AS prio FROM orders WHERE o_orderkey < 500
      |  UNION ALL BY NAME
      |  SELECT o_totalprice AS price, o_orderkey AS k FROM orders WHERE o_orderkey < 300)
      |ORDER BY k, prio NULLS FIRST""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val a = o.filter(col("o_orderkey") < 500)
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("prio"))
    val b = o.filter(col("o_orderkey") < 300)
      .select(col("o_totalprice").as("price"), col("o_orderkey").as("k"))
    a.unionByName(b, allowMissingColumns = true)
      .select(col("k"), col("prio"), col("price"))
      .orderBy(col("k"), col("prio").asc_nulls_first)
  }

  /** Bitwise operator surface: AND / OR / XOR / shifts / popcount on
    * the integer keys. */
  val q82BitOps = QueryDef(
    "q82_bit_ops",
    """SELECT l_orderkey, l_linenumber,
      | l_orderkey & l_partkey AS b_and,
      | l_orderkey | 255 AS b_or,
      | xor(l_orderkey, l_partkey) AS b_xor,
      | l_orderkey << 2 AS shl,
      | l_orderkey >> 1 AS shr,
      | CAST(bit_count(l_orderkey) AS INT) AS pc
      |FROM lineitem WHERE l_orderkey < 400
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 400)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_orderkey").bitwiseAND(col("l_partkey")).as("b_and"),
        col("l_orderkey").bitwiseOR(lit(255L)).as("b_or"),
        col("l_orderkey").bitwiseXOR(col("l_partkey")).as("b_xor"),
        shiftleft(col("l_orderkey"), 2).as("shl"),
        shiftright(col("l_orderkey"), 1).as("shr"),
        bit_count(col("l_orderkey")).as("pc"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** max_by / min_by (argmax aggregation) with a deterministic
    * tiebreak: the ordering key is a fixed-width padded string of
    * (value, unique key), identical in both engines — plain
    * max_by(x, value) is nondeterministic under value ties. */
  val q83MinMaxBy = QueryDef(
    "q83_min_max_by",
    """SELECT o_custkey,
      | arg_max(o_orderkey, printf('%020.2f|%020d', o_totalprice, o_orderkey)) AS best_order,
      | arg_min(o_orderkey, printf('%020.2f|%020d', o_totalprice, o_orderkey)) AS worst_order,
      | max(o_totalprice) AS best_price
      |FROM orders WHERE o_custkey < 200
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val ordKey = format_string("%020.2f|%020d", col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_custkey") < 200)
      .groupBy(col("o_custkey"))
      .agg(max_by(col("o_orderkey"), ordKey).as("best_order"),
        min_by(col("o_orderkey"), ordKey).as("worst_order"),
        max(col("o_totalprice")).as("best_price"))
      .orderBy(col("o_custkey"))
  }

  /** Sketch-based quantiles (approx_percentile, the streaming-friendly
    * bounded-memory path): estimates are engine-specific → rows-only;
    * the spec asserts they bracket q61's exact percentiles. */
  val q84ApproxQuantiles = QueryDef.rowsOnly("q84_approx_quantiles") { (s, d) =>
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        approx_percentile(col("o_totalprice"), lit(0.5), lit(10000)).as("ap50"),
        approx_percentile(col("o_totalprice"), lit(0.9), lit(10000)).as("ap90"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Join-strategy hints: force a sort-merge join where AQE would
    * broadcast — results are identical to the unhinted join (the
    * oracle IS the plain join); the spec asserts the physical plan
    * obeyed the hint. The knob that matters at 100 TB when a
    * "small" side isn't. */
  val q85JoinHints = QueryDef(
    "q85_join_hints",
    """SELECT n_name, COUNT(*) AS n_cust
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d).hint("merge")
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"))
      .orderBy(col("n_name"))
  }

  /** One order row for the typed API (fields = the columns used). */
  final case class OrderRow(o_orderkey: Long, o_custkey: Long,
                            o_orderdate: java.sql.Timestamp)

  /** Typed Dataset API + per-group imperative logic
    * (KeyValueGroupedDataset.flatMapGroups): the maximum day-gap
    * between a customer's consecutive orders. The group logic is a
    * genuine sort-and-scan (awkward as pure SQL composition, natural
    * as code); the oracle re-derives it with lag + datediff. Day
    * arithmetic is done on the epoch millis (floorDiv) — timezone- and
    * JVM-default-independent. Groups are bounded (orders per
    * customer), so the in-memory per-group sort is safe at any corpus
    * size. */
  val q86TypedMaxGap = QueryDef(
    "q86_typed_max_gap",
    """SELECT o_custkey, CAST(MAX(d) AS INT) AS max_gap_days FROM (
      |  SELECT o_custkey,
      |    datediff('day',
      |      lag(o_orderdate) OVER (PARTITION BY o_custkey
      |                             ORDER BY o_orderdate, o_orderkey),
      |      o_orderdate) AS d
      |  FROM orders)
      |WHERE d IS NOT NULL GROUP BY o_custkey ORDER BY o_custkey""".stripMargin) { (s, d) =>
    import s.implicits._
    val dayMs = 86400000L
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .as[OrderRow]
      .groupByKey(_.o_custkey)
      .flatMapGroups { (custkey, rows) =>
        val sorted = rows.toSeq.sortBy(r => (r.o_orderdate.getTime, r.o_orderkey))
        if (sorted.size < 2) Iterator.empty
        else {
          val days = sorted.map(r => Math.floorDiv(r.o_orderdate.getTime, dayMs))
          val maxGap = days.sliding(2).map { case Seq(a, b) => b - a }.max
          Iterator((custkey, maxGap.toInt))
        }
      }
      .toDF("o_custkey", "max_gap_days")
      .orderBy(col("o_custkey"))
  }

  /** Second string-function tranche: pad/reverse/position/repeat/
    * left/right/trim/replace/predicates/translate. */
  val q87StringSuite2 = QueryDef(
    "q87_string_suite2",
    """SELECT p_partkey,
      | lpad(p_brand, 12, '*') AS lp, rpad(p_brand, 12, '.') AS rp,
      | reverse(p_name) AS rev,
      | CAST(strpos(p_name, 'a') AS INT) AS pos_a,
      | repeat(p_brand, 2) AS rep,
      | left(p_name, 4) AS l4, right(p_name, 4) AS r4,
      | trim(concat(' ', p_name, ' ')) AS trimmed,
      | replace(p_type, 'ECONOMY', 'ECO') AS repl,
      | contains(p_name, 'gear') AS has_gear,
      | starts_with(p_type, 'STA') AS st,
      | ends_with(p_type, 'RD') AS en,
      | translate(p_brand, '#', '-') AS tr
      |FROM part WHERE p_partkey < 800
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d)
      .filter(col("p_partkey") < 800)
      .select(col("p_partkey"),
        lpad(col("p_brand"), 12, "*").as("lp"),
        rpad(col("p_brand"), 12, ".").as("rp"),
        reverse(col("p_name")).as("rev"),
        instr(col("p_name"), "a").as("pos_a"),
        repeat(col("p_brand"), 2).as("rep"),
        expr("left(p_name, 4)").as("l4"),
        expr("right(p_name, 4)").as("r4"),
        trim(concat(lit(" "), col("p_name"), lit(" "))).as("trimmed"),
        expr("replace(p_type, 'ECONOMY', 'ECO')").as("repl"),
        col("p_name").contains("gear").as("has_gear"),
        col("p_type").startsWith("STA").as("st"),
        col("p_type").endsWith("RD").as("en"),
        translate(col("p_brand"), "#", "-").as("tr"))
      .orderBy(col("p_partkey"))
  }

  /** Spark's built-in session windows (session_window) in BATCH mode —
    * dynamic-length windows that extend while events keep arriving
    * within the gap. Oracled against the gaps-and-islands formulation
    * (new island when the gap >= 30 min; window end = last event +
    * gap). Bounds surfaced as epoch micros: exact integers, immune to
    * fractional-second repr drift between engines. */
  val q88SessionWindow = QueryDef(
    "q88_session_window",
    """WITH g AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT user_id, ts, value,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |                        ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM g)
      |SELECT user_id,
      |  min(epoch_us(ts)) AS s_start_us,
      |  max(epoch_us(ts)) + 1800000000 AS s_end_us,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, s_start_us""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("s_start_us"),
        unix_micros(col("sw.end")).as("s_end_us"),
        col("n"), col("sum_value"))
      .orderBy(col("user_id"), col("s_start_us"))
  }

  /** Forward fill (LOCF gap filling) via an ignore-nulls window:
    * sparse sensor readings (only values ≥ 100 observed) carried
    * forward per user in event order. */
  val q89ForwardFill = QueryDef(
    "q89_forward_fill",
    """SELECT event_id, user_id,
      | last_value(CASE WHEN value >= 100 THEN value END IGNORE NULLS)
      |   OVER (PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    import graft.ops.Relational.forwardFill
    val sparse = Tables.events(s, d)
      .withColumn("filled", when(col("value") >= 100, col("value")))
    forwardFill(sparse, "filled", Seq("user_id"),
      Seq(col("ts"), col("event_id")))
      .select(col("event_id"), col("user_id"), col("filled"))
      .orderBy(col("event_id"))
  }

  /** Full outer join: rows null-extended on BOTH sides — customers
    * without big orders and (synthetic) order groups without a
    * customer row, keys coalesced. */
  val q90FullOuter = QueryDef(
    "q90_full_outer",
    """SELECT coalesce(c_custkey, o_custkey) AS custkey, c_mktsegment, n_big
      |FROM (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey < 700)
      |FULL OUTER JOIN (
      |  SELECT o_custkey, COUNT(*) AS n_big FROM orders
      |  WHERE o_totalprice > 300000 AND o_custkey < 1000
      |  GROUP BY o_custkey
      |) ON c_custkey = o_custkey
      |ORDER BY custkey, c_mktsegment NULLS FIRST""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d).filter(col("c_custkey") < 700)
      .select(col("c_custkey"), col("c_mktsegment"))
    val big = Tables.orders(s, d)
      .filter(col("o_totalprice") > 300000 && col("o_custkey") < 1000)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_big"))
    c.join(big, c("c_custkey") === big("o_custkey"), "full_outer")
      .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_mktsegment"), col("n_big"))
      .orderBy(col("custkey"), col("c_mktsegment").asc_nulls_first)
  }

  /** Scalar subqueries through the SQL front end: an uncorrelated
    * scalar in the WHERE (broadcast as a literal after its own
    * 1-row plan) and a correlated scalar in the SELECT (decorrelated
    * by Catalyst into an aggregate + left outer join). */
  val q91ScalarSubquery = QueryDef(
    "q91_scalar_subquery",
    """SELECT o_orderkey, o_totalprice,
      | CAST((SELECT COUNT(*) FROM lineitem l
      |       WHERE l.l_orderkey = o.o_orderkey) AS BIGINT) AS n_lines
      |FROM orders o
      |WHERE o_totalprice >= (SELECT max(o_totalprice) FROM orders) * 0.5
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d).createOrReplaceTempView("orders_v91")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v91")
    s.sql(
      """SELECT o_orderkey, o_totalprice,
        | (SELECT COUNT(*) FROM lineitem_v91 l
        |  WHERE l.l_orderkey = o.o_orderkey) AS n_lines
        |FROM orders_v91 o
        |WHERE o_totalprice >= (SELECT max(o_totalprice) FROM orders_v91) * 0.5
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Date spine + zero-fill: a generated calendar (sequence/explode —
    * no source table) left-joined to daily counts so empty days show
    * as 0 — the standard time-series densification. */
  val q93DateSpine = QueryDef(
    "q93_date_spine",
    """WITH spine AS (
      |  SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-03-31',
      |                                INTERVAL 1 DAY)) AS d),
      |daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
      |  FROM orders GROUP BY 1)
      |SELECT CAST(CAST(spine.d AS DATE) AS VARCHAR) AS day,
      |  coalesce(n, 0) AS n_orders
      |FROM spine LEFT JOIN daily ON CAST(spine.d AS DATE) = daily.d
      |ORDER BY day""".stripMargin) { (s, d) =>
    val spine = s.range(1)
      .select(explode(sequence(
        lit("1995-01-01").cast("date"), lit("1995-03-31").cast("date"),
        expr("INTERVAL 1 DAY"))).as("d"))
    val daily = Tables.orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("d"))
      .agg(count(lit(1)).as("n"))
    spine.join(daily, Seq("d"), "left_outer")
      .select(col("d").cast("string").as("day"),
        coalesce(col("n"), lit(0L)).as("n_orders"))
      .orderBy(col("day"))
  }

  /** Share-of-total via an unpartitioned window. The denominator
    * window-sums the DECIMAL revenue, not the double: a double
    * `SUM(rev) OVER ()` accumulates in engine/partition order and
    * drifts by an ulp between engines; the decimal window sum is
    * order-independent, so both sides divide bit-identical doubles. */
  val q94ShareOfTotal = QueryDef(
    "q94_share_of_total",
    """WITH g AS (
      |  SELECT o_orderpriority,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority, CAST(rev_dec AS DOUBLE) AS rev,
      |  CAST(rev_dec AS DOUBLE) / CAST(SUM(rev_dec) OVER () AS DOUBLE) AS share
      |FROM g ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val w = Window.partitionBy()
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("rev_dec"))
      .select(col("o_orderpriority"),
        col("rev_dec").cast("double").as("rev"),
        (col("rev_dec").cast("double") /
          sum(col("rev_dec")).over(w).cast("double")).as("share"))
      .orderBy(col("o_orderpriority"))
  }

  /** Latest record per key (CDC-style compaction): the newest order
    * per customer, full row, deterministic tiebreak. */
  val q95LatestPerKey = QueryDef(
    "q95_latest_per_key",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      |  FROM orders)
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }

  /** Binary/encoding scalar surface: UTF-8 byte length, hex and
    * base64 of string payloads — the provenance/dedup-key encodings. */
  val q97BinaryFuncs = QueryDef(
    "q97_binary_funcs",
    """SELECT p_partkey,
      | base64(encode(p_name)) AS b64,
      | hex(encode(p_brand)) AS hx,
      | CAST(octet_length(encode(p_name)) AS INT) AS n_bytes
      |FROM part WHERE p_partkey < 1000
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d)
      .filter(col("p_partkey") < 1000)
      .select(col("p_partkey"),
        base64(col("p_name").cast("binary")).as("b64"),
        hex(col("p_brand").cast("binary")).as("hx"),
        octet_length(col("p_name")).as("n_bytes"))
      .orderBy(col("p_partkey"))
  }

  /** Word-bigram frequencies (n-gram corpus statistics): in-row
    * windowed concat → explode → count, the n>1 twin of q29's unigram
    * explode. Scale note: this materializes every bigram STRING
    * through the shuffle — exact and fine to ~10^9 bigrams; beyond
    * that, count hashed bigrams (the fused `hashed_shingles` path)
    * under a heavy-hitter sketch (q92's shape) and recover strings
    * for the winners only. */
  val q98Bigrams = QueryDef(
    "q98_bigrams",
    """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
      |bi AS (SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
      |              i -> toks[i] || ' ' || toks[i+1])) AS bigram FROM t)
      |SELECT bigram, COUNT(*) AS n FROM bi GROUP BY bigram
      |ORDER BY n DESC, bigram LIMIT 20""".stripMargin) { (s, d) =>
    // materialize the token array in its own projection first: inside a
    // HOF lambda, element_at(split(text), i) re-runs split PER ELEMENT
    // (no common-subexpression elimination across lambda invocations),
    // turning the bigram build O(tokens^2) per document
    val toks = col("toks")
    Tables.documents(s, d)
      .select(split(col("text"), " ").as("toks"))
      .select(explode(when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  /** Higher-order array functions as user surface: exists / forall /
    * aggregate / transform+sort over token arrays, scalar outputs. */
  val q100HofSuite = QueryDef(
    "q100_hof_suite",
    """SELECT doc_id,
      | len(list_filter(string_split(text,' '), t -> t = 'the')) > 0 AS has_the,
      | len(list_filter(string_split(text,' '), t -> length(t) < 20))
      |   = len(string_split(text,' ')) AS all_short,
      | CAST(list_sum(list_transform(string_split(text,' '), t -> length(t)))
      |      AS BIGINT) AS total_chars,
      | list_sort(list_transform(string_split(text,' '), t -> length(t)))[1]
      |   AS min_tok_len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
    val toks = split(col("text"), " ")
    Tables.documents(s, d)
      .select(col("doc_id"),
        exists(toks, t => t === "the").as("has_the"),
        forall(toks, t => length(t) < 20).as("all_short"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("total_chars"),
        array_min(transform(toks, t => length(t))).as("min_tok_len"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-width histogram (profiling primitive): bucket counts via
    * floor division — one hash aggregate, no sort, any scale. */
  val q101Histogram = QueryDef(
    "q101_histogram",
    """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
      | COUNT(*) AS n,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bucket_sum
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), decSum(col("o_totalprice")).as("bucket_sum"))
      .orderBy(col("bucket"))
  }

  val all: Seq[QueryDef] = Seq(
    q60StatsMoments, q61Percentiles, q62Listagg, q63Regexp, q64MathFuncs,
    q65InSubquery, q66CrossJoin, q67WindowSuite, q68RangeFrame,
    q69CsvRoundtrip, q70JsonRoundtrip, q71PartitionedParquet, q72SaltedJoin,
    q73OrcRoundtrip, q74Distinct, q75BagSetOps, q76DateArith, q77NestedTypes,
    q78Posexplode, q79MovingAvg, q80TryCast, q81UnionByName, q82BitOps,
    q83MinMaxBy, q84ApproxQuantiles, q85JoinHints, q86TypedMaxGap,
    q87StringSuite2, q88SessionWindow, q89ForwardFill, q90FullOuter,
    q91ScalarSubquery, q93DateSpine, q94ShareOfTotal, q95LatestPerKey,
    q97BinaryFuncs, q98Bigrams, q100HofSuite, q101Histogram)
}
