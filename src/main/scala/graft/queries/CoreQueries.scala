package graft.queries

import graft.QueryDef
import graft.ops.Relational._
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Core relational operator coverage (SURVEY.md §2.2–§2.4, §2.6, plus
  * the join/window/set-op/grouping-set surface listed absent in §2.7
  * that any user of the engine needs at scale). Every query here is
  * oracle-checked against DuckDB on the same parquet tables.
  *
  * Scale design notes (local[32] now, 1000 executors later):
  *  - dimension tables (`region`, `nation`) are explicitly
  *    `broadcast()`; mid-size dims (`customer`) are left to AQE which
  *    broadcasts them while they fit and shuffle-joins beyond;
  *  - aggregates are partial+final hash aggregates (map-side combine)
  *    by construction — no driver-side collects anywhere;
  *  - exact decimal aggregation makes results partitioning-invariant,
  *    so correctness is independent of cluster size;
  *  - top-n uses TakeOrderedAndProject (per-partition top-n + merge),
  *    never a global sort.
  */
object CoreQueries {

  /** TPC-H Q1-style pricing summary: filter → hash agg → order.
    * Exercises P1 projection, filter pushdown, grouped aggregation. */
  val q01PricingSummary = QueryDef(
    "q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      | COUNT(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2000-12-01 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
            (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
          .cast("double").as("sum_disc_price"),
        decAvg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Filter + projection + conditional clamp (P1/P3/P4 analog) with
    * per-row decimal arithmetic. Predicates and the 4-column read
    * schema are pushed into the parquet scan. */
  val q02FilterProject = QueryDef(
    "q02_filter_project",
    """SELECT l_orderkey, l_linenumber,
      | CASE WHEN l_discount > 0.03 THEN l_discount ELSE 0.01 END AS disc_clamped,
      | CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_quantity") > 45 &&
        col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_discount") > 0.03, col("l_discount")).otherwise(lit(0.01))
          .as("disc_clamped"),
        (col("l_extendedprice").cast(DecimalType(12, 2)) *
          (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
          .cast("double").as("revenue"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Star join: orders ⋈ customer ⋈ nation ⋈ region, revenue per
    * nation. nation/region are broadcast (tiny at any SF); customer is
    * left to AQE (broadcasts while small, shuffle-joins at scale). */
  val q03JoinAgg = QueryDef(
    "q03_join_agg",
    """SELECT r_name, n_name, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("revenue"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Fact-fact join: lineitem ⋈ orders on the shared key — a shuffle
    * (sort-merge) join at scale; AQE may downgrade to broadcast at
    * small SF. Grouped on the orders side after the join. */
  val q04LargeJoin = QueryDef(
    "q04_large_join",
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_quantity >= 25
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val li = Tables.lineitem(s, d).filter(col("l_quantity") >= 25)
    val o = Tables.orders(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        decSum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Left-semi join (EXISTS): customers holding at least one big
    * order. The filter on orders is applied before the join so the
    * semi-join build side is minimal. */
  val q05SemiJoin = QueryDef(
    "q05_semi_join",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join (NOT EXISTS): customers with no big order. */
  val q06AntiJoin = QueryDef(
    "q06_anti_join",
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Window function top-k per group: top-3 orders per customer by
    * value. Single shuffle on the partition key; deterministic
    * tiebreak on o_orderkey. */
  val q07WindowTopk = QueryDef(
    "q07_window_topk",
    """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
      |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
      |        ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |      FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Distinct aggregation (expand-based in Spark). */
  val q08DistinctAgg = QueryDef(
    "q08_distinct_agg",
    """SELECT l_returnflag,
      | COUNT(DISTINCT l_partkey) AS nd_part,
      | COUNT(DISTINCT l_suppkey) AS nd_supp,
      | COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** ROLLUP grouping sets over the region/nation hierarchy. */
  val q09Rollup = QueryDef(
    "q09_rollup",
    """SELECT r_name, n_name, COUNT(*) AS n_cust,
      | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), decSum(col("c_acctbal")).as("acctbal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** Set operations: INTERSECT + EXCEPT of customer key sets from two
    * order-year predicates, tagged and unioned into one relation. */
  val q10SetOps = QueryDef(
    "q10_set_ops",
    """SELECT o_custkey, 'both' AS op FROM (
      |  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
      |  INTERSECT
      |  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996)
      |UNION ALL
      |SELECT o_custkey, 'only_1995' AS op FROM (
      |  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1995
      |  EXCEPT
      |  SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1996)
      |ORDER BY o_custkey, op""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    def keysIn(y: Int) =
      o.filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
    val a = keysIn(1995)
    val b = keysIn(1996)
    a.intersect(b).withColumn("op", lit("both"))
      .union(a.except(b).withColumn("op", lit("only_1995")))
      .orderBy(col("o_custkey"), col("op"))
  }

  /** Deterministic pseudo-random exact-n sample (L5 analog): md5-hash
    * order + limit → cross-engine reproducible, planned as
    * TakeOrderedAndProject (no global sort). */
  val q11HashSample = QueryDef(
    "q11_hash_sample",
    """SELECT l_orderkey, l_linenumber,
      |  md5(concat(CAST(l_orderkey AS VARCHAR), '_', CAST(l_linenumber AS VARCHAR))) AS h
      |FROM lineitem
      |ORDER BY h LIMIT 100""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        md5(concat(col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string"))).as("h"))
      .orderBy(col("h"))
      .limit(100)
  }

  /** Mean imputation (P5) at scale: nulls introduced by predicate,
    * filled with the column mean computed as a partial+final aggregate
    * and broadcast back — no single-partition window. */
  val q12MeanFill = QueryDef(
    "q12_mean_fill",
    """WITH base AS (
      |  SELECT event_id, CASE WHEN value >= 50 THEN value END AS value FROM events),
      |m AS (
      |  SELECT CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / COUNT(value) AS mv
      |  FROM base)
      |SELECT event_id, coalesce(base.value, m.mv) AS value
      |FROM base, m
      |ORDER BY event_id""".stripMargin) { (s, d) =>
    val base = Tables.events(s, d)
      .select(col("event_id"),
        when(col("value") >= 50, col("value")).as("value"))
    meanFillAgg(base, Seq("value")).orderBy(col("event_id"))
  }

  /** Conjunctive rule override + decision labeling (P6/P7 analog on
    * the customer table): pure when/otherwise expressions. */
  val q13RuleOverride = QueryDef(
    "q13_rule_override",
    """SELECT c_custkey,
      | CASE WHEN c_acctbal < 1000 AND c_mktsegment = 'BUILDING'
      |      THEN 0.0 ELSE 1.0 END AS pred,
      | CASE WHEN (CASE WHEN c_acctbal < 1000 AND c_mktsegment = 'BUILDING'
      |            THEN 0.0 ELSE 1.0 END) = 1.0
      |      THEN 'sanctioned' ELSE 'rejected' END AS decision
      |FROM customer ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val pred = when(col("c_acctbal") < 1000 && col("c_mktsegment") === "BUILDING",
      lit(0.0)).otherwise(lit(1.0))
    Tables.customer(s, d)
      .select(col("c_custkey"), pred.as("pred"), decisionLabel(pred).as("decision"))
      .orderBy(col("c_custkey"))
  }

  /** Tumbling-hour aggregation over the events table. */
  val q14EventsHourly = QueryDef(
    "q14_events_hourly",
    """SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).cast("string").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("sum_value"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Per-user event gap (lag window): as-of-previous-event semantics
    * expressed as a lag over (user, time) — one shuffle on user_id. */
  val q15LagGap = QueryDef(
    "q15_lag_gap",
    """SELECT event_id, user_id,
      | epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
      |                                       ORDER BY ts, event_id)) AS gap_us
      |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** String scalar function surface: upper/substr/length/concat/LIKE. */
  val q16StringFuncs = QueryDef(
    "q16_string_funcs",
    """SELECT p_partkey, upper(p_name) AS up_name, substr(p_name, 1, 5) AS prefix,
      | length(p_name) AS name_len, concat(p_brand, ':', p_type) AS brand_type
      |FROM part WHERE p_name LIKE '%gear%' OR p_size > 45
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d)
      .filter(col("p_name").like("%gear%") || col("p_size") > 45)
      .select(col("p_partkey"), upper(col("p_name")).as("up_name"),
        substring(col("p_name"), 1, 5).as("prefix"),
        length(col("p_name")).as("name_len"),
        concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"))
      .orderBy(col("p_partkey"))
  }

  /** Date/time function surface: year/month extraction + grouped agg. */
  val q17DateFuncs = QueryDef(
    "q17_date_funcs",
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
      | CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
      | COUNT(*) AS n_orders,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin) { (s, d) =>
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n_orders"), decSum(col("o_totalprice")).as("revenue"))
      .orderBy(col("y"), col("m"))
  }

  /** Outer-join null production: every customer with their big-order
    * stats, null-extended where none exist (left outer), plus the
    * null-bucket count via a full-width aggregate. */
  val q52OuterJoin = QueryDef(
    "q52_outer_join",
    """SELECT c_custkey, n_big, big_rev FROM customer
      |LEFT OUTER JOIN (
      |  SELECT o_custkey, COUNT(*) AS n_big,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS big_rev
      |  FROM orders WHERE o_totalprice > 350000 GROUP BY o_custkey
      |) ON c_custkey = o_custkey
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val big = Tables.orders(s, d).filter(col("o_totalprice") > 350000)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_big"), decSum(col("o_totalprice")).as("big_rev"))
    c.join(big, c("c_custkey") === big("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("n_big"), col("big_rev"))
      .orderBy(col("c_custkey"))
  }

  /** Null semantics: null-safe equality (<=> / IS NOT DISTINCT FROM),
    * coalesce chains, and null-aware counting over columns with real
    * nulls (introduced by predicate). */
  val q53NullSemantics = QueryDef(
    "q53_null_semantics",
    """WITH base AS (
      |  SELECT event_id,
      |    CASE WHEN value >= 50 THEN value END AS a,
      |    CASE WHEN value < 150 THEN value END AS b
      |  FROM events)
      |SELECT
      |  COUNT(*) AS n,
      |  COUNT(a) AS n_a, COUNT(b) AS n_b,
      |  CAST(SUM(CASE WHEN a IS NOT DISTINCT FROM b THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
      |  CAST(SUM(CASE WHEN coalesce(a, b, -1.0) = -1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_both_null
      |FROM base""".stripMargin) { (s, d) =>
    val base = Tables.events(s, d).select(col("event_id"),
      when(col("value") >= 50, col("value")).as("a"),
      when(col("value") < 150, col("value")).as("b"))
    base.agg(
      count(lit(1)).as("n"),
      count(col("a")).as("n_a"), count(col("b")).as("n_b"),
      sum(when(col("a") <=> col("b"), 1L).otherwise(0L)).as("n_nullsafe_eq"),
      sum(when(coalesce(col("a"), col("b"), lit(-1.0)) === -1.0, 1L)
        .otherwise(0L)).as("n_both_null"))
  }

  val all: Seq[QueryDef] = Seq(
    q01PricingSummary, q02FilterProject, q03JoinAgg, q04LargeJoin,
    q05SemiJoin, q06AntiJoin, q07WindowTopk, q08DistinctAgg, q09Rollup,
    q10SetOps, q11HashSample, q12MeanFill, q13RuleOverride,
    q14EventsHourly, q15LagGap, q16StringFuncs, q17DateFuncs,
    q52OuterJoin, q53NullSemantics)
}
