package graft.queries

import graft.QueryDef
import graft.ops.AsOf
import graft.ops.Relational.decSum
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced operator coverage: semi-structured JSON extraction,
  * gaps-and-islands sessionization, as-of (point-in-time) joins, and
  * sketch aggregation.
  */
object AdvancedQueries {

  /** Semi-structured access: extract a field from the JSON `props`
    * string and aggregate on it. */
  val q18JsonExtract = QueryDef(
    "q18_json_extract",
    """SELECT event_type, COUNT(*) AS n,
      | CAST(SUM(CAST(CAST(props->>'k' AS INT) AS DECIMAL(18,0))) AS BIGINT) AS sum_k,
      | MIN(CAST(props->>'k' AS INT)) AS min_k,
      | MAX(CAST(props->>'k' AS INT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val k = get_json_object(col("props"), "$.k").cast("int")
    Tables.events(s, d)
      .select(col("event_type"), k.as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("k").cast("long")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  }

  /** Batch sessionization (gaps-and-islands): sessions split on
    * >30 min inactivity per user, via lag + running sum — one shuffle
    * on user_id, oracle-checkable. */
  val q19Sessionize = QueryDef(
    "q19_sessionize",
    """WITH g AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, event_id, value,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS sess_seq
      |  FROM g)
      |SELECT user_id, CAST(sess_seq AS BIGINT) AS sess_seq, COUNT(*) AS n_events,
      |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sess_seq
      |ORDER BY user_id, sess_seq""".stripMargin) { (s, d) =>
    val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byTime))
    val newSess = when(gapUs.isNull || gapUs > 1800000000L, 1).otherwise(0)
    Tables.events(s, d)
      .withColumn("new_sess", newSess)
      .withColumn("sess_seq",
        sum(col("new_sess")).over(byTime.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sess_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        decSum(col("value")).as("sum_value"))
      .orderBy(col("user_id"), col("sess_seq"))
  }

  /** As-of join: each error event picks up the latest prior purchase
    * of the same user. The oracle is an explicit row_number
    * formulation ordered by (ts DESC, p_event DESC) — the SAME
    * greatest-tiebreak-wins rule the Spark path applies — rather than
    * DuckDB's native ASOF, which returns an ARBITRARY row when several
    * purchases share the maximal qualifying timestamp. */
  val q42AsofJoin = QueryDef(
    "q42_asof_join",
    """WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
      |     p AS (SELECT user_id, ts, event_id AS p_event, value AS p_value
      |           FROM events WHERE event_type = 'purchase'),
      |     m AS (
      |       SELECT e.event_id, p.p_event, p.p_value,
      |         ROW_NUMBER() OVER (PARTITION BY e.event_id
      |           ORDER BY p.ts DESC, p.p_event DESC) AS rn
      |       FROM e JOIN p ON e.user_id = p.user_id AND p.ts <= e.ts
      |     )
      |SELECT e.event_id, e.user_id, m.p_event AS asof_p_event,
      |       m.p_value AS asof_p_value
      |FROM e LEFT JOIN m ON m.event_id = e.event_id AND m.rn = 1
      |ORDER BY e.event_id""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("p_event"), col("value").as("p_value"))
    AsOf.asOfJoin(errors, purchases, Seq("user_id"), "ts", "ts",
      Seq("p_event", "p_value"), tiebreak = Some("p_event"))
      .select(col("event_id"), col("user_id"),
        col("asof_p_event"), col("asof_p_value"))
      .orderBy(col("event_id"))
  }

  /** Sketch aggregation: HyperLogLog++ approximate distinct counts —
    * estimates are engine-specific, so rows-only here; accuracy vs the
    * exact count is asserted in the spec. */
  val q43ApproxDistinct = QueryDef.rowsOnly("q43_approx_distinct") { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  /** CUBE grouping sets: all 4 aggregation granularities of
    * (returnflag, linestatus) in one pass. */
  val q44Cube = QueryDef(
    "q44_cube",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), decSum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** Correlated-subquery semantics (TPC-H Q2 shape): parts priced at
    * the minimum retail price within their type — decorrelated into a
    * window min (one shuffle) instead of a per-row subquery. */
  val q45MinPerGroup = QueryDef(
    "q45_min_per_group",
    """SELECT p_partkey, p_type, p_retailprice FROM part
      |WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
      |                       WHERE p2.p_type = part.p_type)
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("p_type"))
    Tables.part(s, d)
      .withColumn("__min_price", min(col("p_retailprice")).over(w))
      .filter(col("p_retailprice") === col("__min_price"))
      .select(col("p_partkey"), col("p_type"), col("p_retailprice"))
      .orderBy(col("p_partkey"))
  }

  /** Window-frame running totals: cumulative revenue per customer in
    * order-date order. */
  val q46RunningTotal = QueryDef(
    "q46_running_total",
    """SELECT o_custkey, o_orderkey,
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_rev
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
          .cast("double").as("running_rev"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** TPC-H Q3 shape: top-10 highest-revenue orders in a segment via
    * join → agg → TakeOrderedAndProject (per-partition top-n + driver
    * merge, never a global sort). */
  val q48TopkJoin = QueryDef(
    "q48_topk_join",
    """SELECT o_orderkey,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |          (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))
      |      AS DOUBLE) AS revenue,
      | CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val li = Tables.lineitem(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(li, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
        .cast("double").as("revenue"))
      .select(col("o_orderkey"), col("revenue"),
        year(col("o_orderdate")).as("o_year"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q14 shape: conditional-aggregate ratio (promo revenue
    * share) — CASE-WHEN inside the sum, exact decimal numerator and
    * denominator, one final double division. */
  val q49ConditionalRatio = QueryDef(
    "q49_conditional_ratio",
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
      | CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
      |               THEN CAST(o_totalprice AS DECIMAL(18,2))
      |               ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
      | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS urgent_share,
      | COUNT(*) AS n
      |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    val dec = col("o_totalprice").cast(DecimalType(18, 2))
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        (sum(when(col("o_orderpriority") === "1-URGENT", dec)
          .otherwise(lit(0).cast(DecimalType(18, 2)))).cast("double") /
          sum(dec).cast("double")).as("urgent_share"),
        count(lit(1)).as("n"))
      .orderBy(col("o_year"))
  }

  /** Bounded per-group sampling via the custom reservoir aggregate:
    * k event ids per event type in one pass, O(k) state per group
    * (collect_list+slice would buffer whole groups). Sample membership
    * is row-order-dependent → rows-only; sizes asserted in spec. The
    * sample array is surfaced as scalar summary columns (size + value
    * bounds), not as an array column: the verification harness sorts
    * result rows in pandas, where array cells are unhashable and abort
    * the whole comparison. */
  val q50ReservoirSample = QueryDef.rowsOnly("q50_reservoir_sample") { (s, d) =>
    val sample = graft.functions.GraftFunctions.reservoir_sample(col("event_id"), 5)
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(sample.as("__sample"), count(lit(1)).as("n"))
      .select(col("event_type"),
        size(col("__sample")).as("n_sampled"),
        array_min(col("__sample")).as("sample_min"),
        array_max(col("__sample")).as("sample_max"),
        col("n"))
      .orderBy(col("event_type"))
  }

  /** Explicit GROUPING SETS with grouping_id, through the engine's SQL
    * entry path (temp views + spark.sql) rather than the DataFrame
    * API — exercising the full SQL front end. */
  val q51GroupingSets = QueryDef(
    "q51_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
      | CAST(grouping(l_returnflag) AS INT) AS g_rf,
      | CAST(grouping(l_linestatus) AS INT) AS g_ls,
      | COUNT(*) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        | CAST(grouping(l_returnflag) AS INT) AS g_rf,
        | CAST(grouping(l_linestatus) AS INT) AS g_ls,
        | COUNT(*) AS n
        |FROM lineitem_v
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  /** Range join via binning: lineitems whose extended price falls in
    * a ±5 band around some part's retail price — one equality shuffle
    * on the bin id instead of the nested-loop join a raw interval
    * predicate plans as. Oracle uses the plain BETWEEN join (DuckDB
    * IEJoin), same result set. */
  val q56RangeJoin = QueryDef(
    "q56_range_join",
    """SELECT l_orderkey, l_linenumber, p_partkey FROM lineitem
      |JOIN part ON l_extendedprice BETWEEN p_retailprice - 5.0
      |                               AND p_retailprice + 5.0
      |ORDER BY l_orderkey, l_linenumber, p_partkey""".stripMargin) { (s, d) =>
    import graft.ops.Ranges
    val points = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice").as("v"))
    val intervals = Tables.part(s, d)
      .select(col("p_partkey"),
        (col("p_retailprice") - 5.0).as("lo"),
        (col("p_retailprice") + 5.0).as("hi"))
    Ranges.binnedRangeJoin(points, "v", intervals, "lo", "hi", binWidth = 10.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_partkey"))
  }

  /** Pivot: long → wide on the linestatus domain, exact decimal sums
    * per cell. Values are pinned (F/O) so the output schema is static
    * — the scale-safe form; an unpinned pivot needs a distinct-scan
    * first. */
  val q57Pivot = QueryDef(
    "q57_pivot",
    """SELECT l_returnflag,
      | CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
      | CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.DecimalType
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double"))
      .orderBy(col("l_returnflag"))
  }

  /** Unpivot: wide → long over the three lineitem measures. */
  val q58Unpivot = QueryDef(
    "q58_unpivot",
    """SELECT l_orderkey, l_linenumber, metric, value FROM (
      |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
      |WHERE l_orderkey < 200
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 200)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric"))
  }

  /** The custom heap-based top-k physical operator (no per-partition
    * sort; see [[graft.plans.TopKPerGroup]]). With the o_orderkey
    * tiebreak the heap's selection is EXACTLY the rows the ROW_NUMBER
    * formulation keeps — the oracle checks full rows, not just the
    * (key, score) multiset. */
  val q59TopkCustomOp = QueryDef(
    "q59_topk_custom_op",
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin) { (s, d) =>
    graft.plans.TopKPerGroup.topKPerGroup(
      Tables.orders(s, d), Seq("o_custkey"), "o_totalprice", 3,
      tiebreakCol = Some("o_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  }

  val all: Seq[QueryDef] =
    Seq(q18JsonExtract, q19Sessionize, q42AsofJoin, q43ApproxDistinct, q44Cube,
      q45MinPerGroup, q46RunningTotal, q48TopkJoin, q49ConditionalRatio,
      q50ReservoirSample, q51GroupingSets, q56RangeJoin, q57Pivot, q58Unpivot,
      q59TopkCustomOp)
}
