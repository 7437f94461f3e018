package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TaggedSidecar

/** Mergeable sketch sidecars: bounded-size summaries written per shard
  * at ingest time and combined WITHOUT rescanning the data to answer
  * corpus-wide questions later.
  *
  * At 100 TB, "how many distinct values per group" is a full scan plus
  * a two-pass distinct aggregate every time someone asks. With a
  * KB-sized HLL sketch per (group) persisted at write time, the same
  * answer is an aggregate over sidecar rows — IO proportional to the
  * number of shards ingested, not to corpus bytes — and stays current
  * by appending each new shard's sketch rows (the same
  * append-accumulate lifecycle as the dedup fingerprint sidecar, with
  * [[graft.sources.Sinks.compactParquetDir]] as the periodic fix).
  *
  * The key algebraic property (Flajolet et al., HyperLogLog; the
  * Apache DataSketches HLL implementation Spark ships): union is
  * LOSSLESS at equal precision — merging per-shard sketches yields
  * byte-equivalent state to sketching the concatenated data — so
  * incrementally-maintained estimates are IDENTICAL to a from-scratch
  * rebuild, not merely close (SketchesSpec asserts equality, not
  * tolerance). Estimates are deterministic functions of the value SET:
  * order- and partitioning-independent, duplicate-insensitive.
  *
  * Everything runs through Spark's native `hll_sketch_agg` /
  * `hll_union_agg` / `hll_sketch_estimate` (codegen'd DataSketches
  * aggregates) — no UDFs, map-side partial aggregation applies, and a
  * sketch row is ~2^lgConfigK bytes (4 KB at the default 12, ~1.6%
  * relative standard error).
  */
object Sketches {

  /** One row per group: the group columns, exact row count, and the
    * HLL sketch of `valueCol` (binary, mergeable). Empty `groupCols`
    * produces the single global row. */
  def distinctSketches(df: DataFrame, groupCols: Seq[String],
                       valueCol: String, lgConfigK: Int = 12): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("n_rows"),
      hll_sketch_agg(col(valueCol), lit(lgConfigK)).as("sketch"))
    if (groupCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Append one shard's sketch rows to the sidecar. Same single-writer
    * contract as the other appenders ([[Dedup.dedupAgainstSidecar]]),
    * enforced by the `.lock` marker ([[graft.sources.Sinks
    * .withDirLock]]) — a concurrent second writer fails loud.
    * `batchId` makes it exactly-once ([[graft.sources.TaggedSidecar]];
    * replay key: the group columns; merge: sum of `n_rows`, union of
    * sketches). The HLL estimate was always replay-insensitive; the
    * exact `n_rows` is what an untagged replay double-counts. Replicas
    * carry equal counts and value-equal sketches (serialized bytes may
    * order sparse coupons differently, which the estimate ignores). */
  def writeSketchSidecar(df: DataFrame, groupCols: Seq[String],
                         valueCol: String, sidecarDir: String,
                         lgConfigK: Int = 12,
                         batchId: Option[String] = None): Unit =
    TaggedSidecar.append(df.sparkSession, sidecarDir, batchId,
        "writeSketchSidecar") {
      distinctSketches(df, groupCols, valueCol, lgConfigK)
    }

  /** Per-period sketch table: one row per (`periodCol` value) with the
    * exact row count and the HLL sketch of `valueCol` — the
    * pre-aggregation that turns "distinct over ANY date range" from a
    * full rescan into a sketch union. The classic OLAP problem
    * distinct counts don't pre-aggregate (they're not additive); HLL
    * sketches ARE (lossless union), so a day-grain sketch table
    * answers week/month/arbitrary-range distincts exactly as if
    * computed from raw data. */
  def periodSketches(df: DataFrame, period: org.apache.spark.sql.Column,
                     valueCol: String, lgConfigK: Int = 12): DataFrame =
    df.groupBy(period.as("period"))
      .agg(count(lit(1)).as("n_rows"),
        hll_sketch_agg(col(valueCol), lit(lgConfigK)).as("sketch"))

  /** Trailing-window distinct estimates over a period-sketch table:
    * for each period, the distinct count of the last `periods` rows
    * (current included) by unioning their sketches in a window frame —
    * `hll_union_agg` runs as a window aggregate, so the rollup is one
    * pass over PERIOD-cardinality rows (days, not events). The window
    * orders by period with no partition: bounded by construction
    * (#periods rows — the same bounded-window class as q126's
    * per-source budget share). */
  def rollingDistinct(periodSketches: DataFrame, periods: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("period")).rowsBetween(-(periods - 1), 0)
    periodSketches.select(col("period"), col("n_rows"),
      hll_sketch_estimate(col("sketch")).as("approx_distinct"),
      hll_sketch_estimate(hll_union_agg(col("sketch")).over(w))
        .as(s"approx_distinct_${periods}p"))
  }

  /** Pairwise overlap matrix between groups, straight from sketch
    * rows — the decontamination screening question ("how much do
    * sources share?") answered WITHOUT rescanning any text: by
    * inclusion–exclusion, |A∩B| ≈ est(A) + est(B) − est(A∪B), and the
    * union sketch is the lossless `hll_union` of the two group
    * sketches. Input is one MERGED sketch row per group (the
    * [[distinctSketches]] output, or a sidecar's rows merged per
    * group); the pair join is a self-join on group < group —
    * |groups|² sketch pairs, each a KB-sized union, trivially
    * parallel and independent of corpus size.
    *
    * Estimates subtract, so small true overlaps can surface as small
    * negatives within HLL error — clamped to 0 (`greatest`).
    * `groupCol` must be the single group column of the sketch rows. */
  def overlapMatrix(sketches: DataFrame, groupCol: String): DataFrame = {
    val a = sketches.select(col(groupCol).as("group_a"),
      col("sketch").as("__sa"))
    val b = sketches.select(col(groupCol).as("group_b"),
      col("sketch").as("__sb"))
    a.join(b, col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        hll_sketch_estimate(col("__sa")).as("approx_a"),
        hll_sketch_estimate(col("__sb")).as("approx_b"),
        hll_sketch_estimate(hll_union(col("__sa"), col("__sb")))
          .as("approx_union"))
      .withColumn("approx_overlap",
        greatest(col("approx_a") + col("approx_b") - col("approx_union"),
          lit(0L)))
  }

  /** Merge ALL accumulated sidecar rows (one per shard × group) into
    * per-group totals: exact row counts sum, sketches union, and the
    * estimate is read off the merged sketch. The only data touched is
    * the sidecar itself. */
  def mergedDistinct(spark: SparkSession, sidecarDir: String,
                     groupCols: Seq[String]): DataFrame = {
    val side = TaggedSidecar.collapse(spark.read.parquet(sidecarDir),
      groupCols: _*)
    val aggs = Seq(
      sum(col("n_rows")).as("n_rows"),
      hll_sketch_estimate(hll_union_agg(col("sketch")))
        .as("approx_distinct"))
    if (groupCols.isEmpty) side.agg(aggs.head, aggs.tail: _*)
    else side.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Many appended sketch rows → one merged row per group (counts
    * summed, sketches unioned — lossless at equal precision) via
    * [[graft.sources.TaggedSidecar.compact]]. */
  def compactSketchSidecar(spark: SparkSession, sidecarDir: String,
                           groupCols: Seq[String]): Unit =
    TaggedSidecar.compact(spark, sidecarDir, groupCols,
        sortCol = groupCols.headOption) {
      _.groupBy(groupCols.map(col): _*)
        .agg(sum(col("n_rows")).as("n_rows"),
          hll_union_agg(col("sketch")).as("sketch"))
    }

  /** Equi-width histogram of `valueCol` per group: one row per
    * (group, bin) with the EXACT count of values in that bin — the
    * quantile twin of [[distinctSketches]]. Distinct counts need HLL
    * because they are not additive; bin counts ARE additive exact
    * longs, so the histogram sidecar gets the stronger property for
    * free: merged per-shard histograms are IDENTICAL to a
    * from-scratch build (not estimate-equal — long-sum equal), and
    * every downstream number replays in ANSI SQL (q170), which no
    * sketch-library intermediate can offer.
    *
    * Binning: `bin = clamp(floor((v - lo) / w), 0, bins-1)` with
    * `w = (hi - lo) / bins` — values outside [lo, hi) clamp to the
    * edge bins, so the total count is preserved and out-of-range
    * drift is visible as edge-bin mass. The bin id is exact integer
    * arithmetic on one IEEE division — cross-engine reproducible.
    *
    * Scale shape: one aggregation, map-side partials collapse each
    * task to ≤ groups×bins rows; the sidecar grows by shards×groups×
    * bins rows per append (KBs), answers come from sidecar rows only. */
  def histogram(df: DataFrame, groupCols: Seq[String], valueCol: String,
                lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0 && hi > lo, s"need bins>0, hi>lo; got $bins, [$lo,$hi)")
    val w = (hi - lo) / bins
    val bin = least(greatest(
      floor((col(valueCol) - lit(lo)) / lit(w)).cast("long"), lit(0L)),
      lit((bins - 1).toLong))
    // Null/NaN values are DROPPED, explicitly (round-9 ADVICE):
    // floor(NaN) casts to null long and least/greatest propagate it, so
    // without this filter a NaN row lands in a null bin that silently
    // survives sidecar merges while a SQL replay's CAST diverges.
    // ±Infinity needs no special case — the long cast saturates and the
    // clamp sends it to an edge bin. Total-count preservation therefore
    // holds over FINITE, NON-NULL values of valueCol.
    df.filter(col(valueCol).isNotNull && !isnan(col(valueCol).cast("double")))
      .groupBy((groupCols.map(col) :+ bin.as("bin")): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Append one shard's histogram rows to a sidecar — the
    * [[writeSketchSidecar]] lifecycle with exact additive counts.
    * (lo, hi, bins) MUST match across every appender of one sidecar:
    * bin ids are a function of all three (the same parameter contract
    * as the minhash sidecar's band keys). `batchId` makes it
    * exactly-once ([[graft.sources.TaggedSidecar]]; replay key: the
    * group columns and `bin`; merge: sum of `cnt`). */
  def writeHistSidecar(df: DataFrame, groupCols: Seq[String],
                       valueCol: String, sidecarDir: String,
                       lo: Double, hi: Double, bins: Int,
                       batchId: Option[String] = None): Unit =
    TaggedSidecar.append(df.sparkSession, sidecarDir, batchId,
        "writeHistSidecar") {
      histogram(df, groupCols, valueCol, lo, hi, bins)
    }

  /** Merged per-group histogram from a sidecar: exact long sums per
    * (group, bin) — equal to a from-scratch build by additivity
    * (tagged replays collapsed first). */
  def mergedHistogram(spark: SparkSession, sidecarDir: String,
                      groupCols: Seq[String]): DataFrame =
    TaggedSidecar.collapse(spark.read.parquet(sidecarDir),
        groupCols :+ "bin": _*)
      .groupBy((groupCols.map(col) :+ col("bin")): _*)
      .agg(sum(col("cnt")).as("cnt"))

  /** Quantile estimates from a merged histogram: for each p, the
    * LOWER EDGE of the first bin whose cumulative count reaches
    * `ceil(p * n)` — a deterministic, SQL-replayable selection rule
    * (the exact-quantile rank rule of q161 lifted to bins). The
    * estimate is within one bin width of the true quantile by
    * construction; halve the error by doubling `bins`, which costs
    * sidecar rows, never a rescan. The cumulative window partitions
    * by group and orders by bin: ≤ bins rows per group — bounded
    * state, the q126 bounded-window class. */
  def histQuantiles(hist: DataFrame, groupCols: Seq[String],
                    ps: Seq[Double], lo: Double, hi: Double,
                    bins: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = (hi - lo) / bins
    val win = Window.partitionBy(groupCols.map(col): _*).orderBy(col("bin"))
    val withCum = hist
      .withColumn("__cum", sum(col("cnt")).over(win))
      .withColumn("__n", sum(col("cnt")).over(
        Window.partitionBy(groupCols.map(col): _*)))
    val p = explode(array(ps.map(lit): _*)).as("p")
    withCum.select((groupCols.map(col) :+ col("bin") :+ col("cnt") :+
        col("__cum") :+ col("__n") :+ p): _*)
      .filter(col("__cum") - col("cnt") <
          greatest(lit(1L), ceil(col("__n") * col("p")).cast("long")) &&
        greatest(lit(1L), ceil(col("__n") * col("p")).cast("long")) <=
          col("__cum"))
      .select((groupCols.map(col) :+ col("p") :+
        (lit(lo) + col("bin") * lit(w)).as("quantile_lo") :+
        col("__n").as("n_rows")): _*)
  }

  /** Per-period histogram table: one row per (period, bin) with the
    * exact count — the [[periodSketches]] pattern for VALUES instead
    * of distincts. `period` must be LONG-typed (an epoch-hour/day
    * index) so trailing windows can use RANGE frames that tolerate
    * gaps. */
  def periodHistograms(df: DataFrame, period: org.apache.spark.sql.Column,
                       valueCol: String, lo: Double, hi: Double,
                       bins: Int, groupCols: Seq[String] = Nil): DataFrame =
    histogram(df.withColumn("__period", period), groupCols :+ "__period",
        valueCol, lo, hi, bins)
      .withColumnRenamed("__period", "period")

  /** Trailing-window quantiles over a period-histogram table: for
    * each period, quantile estimates of the last `periods` periods'
    * values (current included) — "p99 over any trailing window"
    * WITHOUT rescanning raw data, the rolling twin of
    * [[histQuantiles]] and the exact-long analogue of
    * [[rollingDistinct]] (whose HLL internals keep it rows-only;
    * additive bin counts make THIS one fully SQL-replayable — q171).
    *
    * Mechanics: densify to the (period × occupied-bin) grid (bounded:
    * periods × bins rows — zero-count rows are needed so RANGE
    * trailing sums see every bin at every period), trailing bin mass
    * via a RANGE frame per bin (gap-tolerant: missing periods simply
    * contribute nothing), then the [[histQuantiles]] cumulative rank
    * selection per period. All three windows are bounded by grid
    * cardinality, never by row count. */
  def rollingQuantiles(periodHist: DataFrame, ps: Seq[Double],
                       periods: Int, lo: Double, hi: Double,
                       bins: Int, groupCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(periods > 0, s"periods must be > 0, got $periods")
    val w = (hi - lo) / bins
    val g = groupCols.map(col)
    // densify per group: a group's period set is the periods it was
    // active in (no output for fully-inactive periods — the q141
    // rolling-distinct convention); trailing mass from earlier periods
    // reaches each active period through the RANGE frame
    val grid = periodHist.select((g :+ col("period")): _*).distinct()
      .crossJoin(periodHist.select(col("bin")).distinct())
      .join(periodHist, groupCols ++ Seq("period", "bin"), "left")
      .na.fill(0L, Seq("cnt"))
    val wTrail = Window.partitionBy((g :+ col("bin")): _*)
      .orderBy(col("period"))
      .rangeBetween(-(periods - 1).toLong, 0L)
    val wCum = Window.partitionBy((g :+ col("period")): _*)
      .orderBy(col("bin"))
    val withCum = grid
      .withColumn("__t", sum(col("cnt")).over(wTrail))
      .withColumn("__cum", sum(col("__t")).over(wCum))
      .withColumn("__n", sum(col("__t")).over(
        Window.partitionBy((g :+ col("period")): _*)))
    val p = explode(array(ps.map(lit): _*)).as("p")
    withCum
      .select((g ++ Seq(col("period"), col("bin"), col("__t"), col("__cum"),
        col("__n"), p)): _*)
      .filter(col("__n") > 0L &&
        col("__cum") - col("__t") <
          greatest(lit(1L), ceil(col("__n") * col("p")).cast("long")) &&
        greatest(lit(1L), ceil(col("__n") * col("p")).cast("long")) <=
          col("__cum"))
      .select((g ++ Seq(col("period"), col("p"),
        (lit(lo) + col("bin") * lit(w)).as("quantile_lo"),
        col("__n").as("n_rows"))): _*)
  }

  /** EXACT cross-group n-gram overlap matrix — the ground-truth twin
    * of [[overlapMatrix]] (whose HLL inclusion–exclusion estimates
    * carry sketch error and are engine-specific, q139's rows-only
    * reason). Every (group_a < group_b) pair reports its exact shared
    * distinct-gram count and Jaccard — the decontamination screen you
    * run when the HLL screen flags a pair and you need the real
    * number before dropping a source.
    *
    * Shape: one explode + distinct compresses each group to its
    * distinct (group, gram) set; the pair counts come from a gram-key
    * EQUALITY self-join — a gram lands ≤ |groups| rows on its
    * reducer, so with bounded group cardinality (sources, shards,
    * snapshot versions: the same low-cardinality rule as partitionBy
    * and the sketch sidecars) no join key is hot regardless of corpus
    * size. Per-group totals cross-join (|groups|² pairs — broadcast
    * bounded) so DISJOINT pairs report 0 instead of vanishing.
    * Jaccard = shared/(na+nb-shared) is one IEEE division of exact
    * longs — replays anywhere; the grams ride as strings (the q113
    * exact-decontamination precedent), which is what makes the whole
    * matrix oracle-checkable (q165). */
  def exactOverlapMatrix(df: DataFrame, groupCol: String,
                         textCol: String, n: Int = 5): DataFrame = {
    val grams = df
      .select(col(groupCol).as("g"), TextAnalysis.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= n)
      .select(col("g"),
        explode(array_distinct(TextAnalysis.wordNgrams(col("ts"), n))).as("gram"))
      .distinct()
    exactOverlapFromGramSets(grams)
  }

  /** Shared tail: distinct (group, gram) rows → full ordered pair
    * matrix with exact shared counts and Jaccard. */
  private def exactOverlapFromGramSets(grams: DataFrame): DataFrame = {
    val counts = grams.groupBy(col("g")).agg(count(lit(1)).as("n_grams"))
    val shared = grams.as("a")
      .join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("group_a"), col("b.g").as("group_b"))
      .agg(count(lit(1)).as("n_shared"))
    val pairs = counts.select(col("g").as("group_a"), col("n_grams").as("n_a"))
      .join(counts.select(col("g").as("group_b"), col("n_grams").as("n_b")),
        col("group_a") < col("group_b"))
    pairs.join(shared, Seq("group_a", "group_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("jaccard",
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6))
  }

  /** EXACT heavy hitters with bounded-shuffle discovery: every value of
    * `termCol` whose frequency exceeds n/k, with its exact count and
    * share.
    *
    * The naive exact plan — `groupBy(term).count.where(cnt·k > n)` —
    * shuffles one combined row per DISTINCT term per task; at
    * web-scale n-gram cardinality the shuffle IS the job, and the
    * approximate answer (q92's `approx_top_k`) gives up exactness to
    * avoid it. This operator gets exactness at bounded shuffle width
    * in two scans:
    *
    *  1. **Candidates** — one [[graft.functions.MisraGriesCandidates]]
    *     aggregate: ≤ k counters of state per task however many
    *     distinct terms exist, map-side combined, with the MG
    *     guarantee that every term with true frequency > n/k survives
    *     whatever the partition layout. The global row count rides the
    *     same scan.
    *  2. **Recount** — an exact `groupBy(term).count` over tokens
    *     semi-joined (broadcast: ≤ k terms by construction) to the
    *     candidate set — shuffle width ≤ k rows per task — then the
    *     exact threshold `cnt·k > n` drops the sketch's false
    *     positives.
    *
    * The candidate SET is layout-dependent; the FINAL output is not
    * (no-false-negative guarantee + exact filter = exactly the true
    * heavy-hitter set; PartitioningInvarianceSpec pins it on q189).
    * `share` is the one IEEE division, from exact longs.
    */
  def exactHeavyHitters(df: DataFrame, termCol: String, k: Int): DataFrame = {
    val toks = df.select(col(termCol).as("term"))
    val candRow = toks.agg(
      graft.functions.GraftFunctions.mg_candidates(col("term"), k).as("cs"),
      count(lit(1)).as("n_total"))
    val cands = candRow.select(explode(col("cs")).as("term"), col("n_total"))
    toks.join(broadcast(cands), "term")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"), first(col("n_total")).as("n_total"))
      .where(col("cnt") * k > col("n_total"))
      .select(col("term"), col("cnt"), col("n_total"),
        (col("cnt").cast("double") / col("n_total").cast("double")).as("share"))
  }
}
