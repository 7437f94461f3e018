package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's relational operator surface (SURVEY.md §2.2–§2.4)
  * as reusable, codegen-friendly Column/DataFrame combinators — pure
  * Catalyst expressions, zero UDFs.
  *
  * Cross-engine exactness note: several helpers deliberately route
  * floating-point aggregation through `DecimalType` so results are
  * bit-exact regardless of partitioning/summation order — double sums
  * are order-dependent and would diverge between a 1000-executor run
  * and a single-node oracle; decimal sums are associative and exact.
  */
object Relational {

  /** Conditional scalar clamp (P4, reference `app.py:220`):
    * `x if x > 0 else floor` as a single codegen'd expression. */
  def clampPositive(c: Column, floor: Double): Column =
    when(c > 0, c).otherwise(lit(floor))

  /** Null-drop on a subset of columns (P3, `app.py:217`). */
  def dropNullsIn(df: DataFrame, cols: Seq[String]): DataFrame =
    df.na.drop(cols)

  /** Mean-fill of numeric columns (P5, `app.py:34-36`) via a
    * partial+final hash aggregate and a broadcast join: one
    * map-side-combined aggregate produces a 1-row means relation,
    * broadcast back onto the data (no driver-side collect, no
    * single-partition window). The numerator goes through decimal so
    * the mean, and therefore the fill, is identical under any
    * partitioning. */
  def meanFillAgg(df: DataFrame, cols: Seq[String], scale: Int = 2): DataFrame = {
    val meanCols = cols.map { n =>
      (sum(col(n).cast(DecimalType(28, scale))).cast("double") /
        count(col(n))).as(s"__mean_$n")
    }
    val means = df.agg(meanCols.head, meanCols.tail: _*)
    val joined = df.crossJoin(broadcast(means))
    val filled = cols.foldLeft(joined) { (d, n) =>
      d.withColumn(n, coalesce(col(n), col(s"__mean_$n")))
    }
    filled.drop(cols.map(n => s"__mean_$n"): _*)
  }

  /** Conjunctive rule override (P6, `app.py:187-194`): when all three
    * conditions hold force the prediction to `overrideValue`. */
  def ruleOverride(prediction: Column, income: Column, loanAmount: Column,
                   propertyValue: Column, overrideValue: Double = 0.0): Column =
    when(income < 30000 && loanAmount > 200000 && propertyValue < 100000,
      lit(overrideValue)).otherwise(prediction)

  /** Decision labeling (P7, `app.py:198-202`). */
  def decisionLabel(predictedClass: Column): Column =
    when(predictedClass === 1.0, lit("sanctioned")).otherwise(lit("rejected"))

  /** Deterministic pseudo-random exact-n sample (L5 analog,
    * `app.py:214`): order by md5 of a key expression, take n. Unlike
    * `orderBy(rand(seed))`, the md5 ordering is reproducible across
    * engines and cluster sizes; at scale it is a TakeOrderedAndProject
    * (per-partition top-n + driver merge), not a global sort. */
  def exactSampleByHash(df: DataFrame, key: Column, n: Int): DataFrame =
    df.withColumn("__h", md5(key.cast("string")))
      .orderBy(col("__h"))
      .limit(n)
      .drop("__h")

  /** Seeded Bernoulli split (L3/L4, `spark.py:59` / `app.py:73`).
    * Approximate fractions, exactly reproducible for a fixed seed. */
  def seededSplit(df: DataFrame, weights: Array[Double], seed: Long)
      : Array[DataFrame] =
    df.randomSplit(weights, seed)

  /** Exact-count seeded split (sklearn `train_test_split` parity, L4):
    * deterministic hash order + global row ranking gives exact split
    * sizes. The rank runs through [[globalRankAndRunningSum]] — range
    * partitions + local windows, NO unpartitioned ranking window — and
    * the row count falls out of the same pass as the running mass of
    * `lit(1)`, so the split costs one range shuffle, not a global sort
    * plus a separate count job. */
  def exactFractionSplit(df: DataFrame, testFraction: Double, key: Column)
      : (DataFrame, DataFrame) = {
    val (ranked, n) = globalRankAndRunningSum(df,
      order = Seq(md5(key.cast("string"))),
      value = lit(1L), rankCol = "__rn", cumCol = "__cum")
    val nTest = math.round(n * testFraction)
    val r = ranked.drop("__cum")
    val test = r.filter(col("__rn") <= nTest).drop("__rn")
    val train = r.filter(col("__rn") > nTest).drop("__rn")
    (train, test)
  }

  /** Vector argmax (P8, the reference's `torch.argmax(output, dim=1)`
    * at app.py:184): 0-based index of the max element of an array
    * column. MLlib's LR emits `prediction` directly; this is the
    * generic form for arbitrary score vectors. */
  def argmax(scores: Column): Column =
    (array_position(scores, array_max(scores)) - 1).cast("int")

  /** Skew-safe equi-join: salt the (possibly skewed) left key into
    * `nSalts` sub-keys and replicate each right row once per salt, so
    * one hot key spreads over `nSalts` reducers instead of one
    * straggler. Results are identical to a plain inner equi-join on
    * `key`; use when AQE's skew handling isn't available or the skew
    * is known up front. Right side grows ×nSalts — keep it the small
    * side. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 nSalts: Int = 8): DataFrame = {
    val salted = left.withColumn("__salt",
      pmod(xxhash64(col(key), monotonically_increasing_id()), lit(nSalts)))
    val replicated = right
      .withColumn("__salt", explode(sequence(lit(0), lit(nSalts - 1))))
      .withColumn("__salt", col("__salt").cast("long"))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Exact cross-engine sum: route a double column through decimal so
    * the aggregate is order-independent, then surface it as a double
    * (one correctly-rounded conversion of an exact value — identical
    * in Spark and DuckDB, and dtype-stable through any parquet/pandas
    * reader; decimal128 outputs are compared as `Decimal` objects by
    * pandas-based tooling and never hash-match a float column). */
  def decSum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  /** Exact cross-engine mean as a double: exact decimal numerator
    * divided by exact long count — the division is a single double op
    * on identical inputs, so the result is bit-identical everywhere. */
  def decAvg(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(28, scale))).cast("double") / count(c)

  /** Forward fill (last observation carried forward): each null takes
    * the latest non-null value earlier in `order` within the same
    * `keys` partition — the standard time-series gap fill, as one
    * ignore-nulls window (single shuffle on the keys, no self-join).
    * Rows before the first observation stay null. */
  def forwardFill(df: DataFrame, valueCol: String, keys: Seq[String],
                  order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(valueCol, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** Linear interpolation of missing values between observations —
    * the time-series twin of [[forwardFill]]: each null takes
    * prev + (next − prev) · (t − t_prev)/(t_next − t_prev) from the
    * nearest non-null neighbors in `order` within the same `keys`
    * partition. Two ignore-nulls windows over ONE shuffle on the keys
    * (no self-joins); nulls before the first or after the last
    * observation stay null (interior interpolation only). The
    * arithmetic is a fixed IEEE expression tree over exact inputs, so
    * results are bit-reproducible across engines and cluster sizes. */
  def linearInterpolate(df: DataFrame, valueCol: String, tCol: String,
                        keys: Seq[String],
                        tiebreak: Seq[String] = Nil): DataFrame = {
    val v = col(valueCol)
    // ROWS frames are order-sensitive under ties — callers with
    // non-unique (keys, tCol) pass a tiebreak for determinism
    val ord = col(tCol) +: tiebreak.map(col)
    val wPrev = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(1, Window.unboundedFollowing)
    val obsV = when(v.isNotNull, v)
    val obsT = when(v.isNotNull, col(tCol))
    val prevV = last(obsV, ignoreNulls = true).over(wPrev)
    val prevT = last(obsT, ignoreNulls = true).over(wPrev)
    val nextV = first(obsV, ignoreNulls = true).over(wNext)
    val nextT = first(obsT, ignoreNulls = true).over(wNext)
    df.withColumn(valueCol,
      when(v.isNotNull, v).otherwise(
        prevV + (nextV - prevV) * (col(tCol) - prevT).cast("double") /
          (nextT - prevT).cast("double")))
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * each row gets priority −ln(u)/w with u a DETERMINISTIC uniform
    * derived from md5(id, seed) — not rand(), whose draw depends on
    * partition layout — and the k smallest priorities win. Selecting
    * row i with probability ∝ wᵢ at every step, this is the standard
    * one-pass weighted reservoir formulation, here as a top-k: Spark
    * plans the ascending LIMIT k as TakeOrderedAndProject (per-
    * partition k-heaps, one k-row merge — no global sort), so it runs
    * at any scale and reproduces exactly across cluster sizes. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, seed: Long = 42L): DataFrame = {
    // 60 bits of md5 → uniform in (0,1): (h+1)/(2^60+1) keeps ln(u)
    // finite at both ends
    val u = (conv(substring(md5(concat_ws("|", col(idCol), lit(seed))), 1, 15),
      16, 10).cast("double") + 1.0) / 1.152921504606847e18
    df.withColumn("priority", -log(u) / col(weightCol))
      .orderBy(col("priority"))
      .limit(k)
  }

  /** Leakage-safe train/eval split — assignment by GROUP, not by row:
    * every row whose `group` expression agrees lands on the same side,
    * so duplicated (or near-duplicated, when `group` is a dedup
    * cluster/fingerprint) content never straddles the split — the
    * classic eval-contamination bug of uniform ROW splits on web-scale
    * corpora, where the eval set silently contains near-copies of
    * training documents. Pass `md5(text)` for exact-dup safety, a
    * connected-component id ([[Clustering.jaccardDedupClusters]]) for
    * near-dup safety, or a source/site key for domain holdout.
    *
    * The side is a pure per-row function of (group, seed) — the
    * engine's md5-uniform construction ([[weightedSample]]'s) — so the
    * split is reproducible across runs, cluster sizes, and engines
    * (externally replayable, q145's oracle), and rows of one group
    * never need to meet: ZERO shuffles, no state. Expected — not
    * exact — fractions, weighted by group SIZE (a group is atomic by
    * design). Null groups: the uniform of the empty digest — all null-
    * group rows land together on one deterministic side (they are one
    * "unknown" group; pre-assign ids upstream if that's not wanted). */
  def groupAwareSplit(df: DataFrame, group: Column, testFraction: Double,
                      seed: Long = 42L,
                      flagCol: String = "is_test"): DataFrame = {
    require(testFraction >= 0.0 && testFraction <= 1.0,
      s"testFraction must be in [0, 1], got $testFraction")
    val u = (conv(substring(md5(concat_ws("|", group, lit(seed))), 1, 15),
      16, 10).cast("double") + 1.0) / 1.152921504606847e18
    df.withColumn(flagCol, u < testFraction)
  }

  /** Exact global (rank, running sum) over a total order WITHOUT an
    * unpartitioned window — the engine's distributed replacement for
    * `ROW_NUMBER()/SUM() OVER (ORDER BY …)`: range-repartition on the
    * order, rank and accumulate locally per partition, lift local
    * values to global ones with per-partition offsets (a bounded
    * driver-side computation — ≤ shuffle-partitions rows, the same
    * class as the IVF centroid collect). The input is eagerly
    * localCheckpoint-ed so the offsets job and the output job see the
    * SAME partition assignment (range-boundary sampling re-runs per
    * job otherwise). Results are byte-identical to the single-window
    * formulation at any parallelism: range boundaries decide only
    * WHERE a row sits, never its global position.
    *
    * `value` must be integral — running sums stay in exact longs (a
    * double accumulation would be partition-order-dependent). Null
    * values contribute nothing to the running sum (SQL sum-ignore-null
    * semantics, matching the single-window formulation): per-partition
    * masses coalesce null sums to 0, so an all-null partition shifts
    * no offsets and never NPEs the driver.
    *
    * Returns (input + rankCol(long) + cumCol(long), grand total). */
  def globalRankAndRunningSum(df: DataFrame, order: Seq[Column],
      value: Column, rankCol: String, cumCol: String): (DataFrame, Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val parted = df.withColumn("__v", value.cast("long"))
      .repartitionByRange(order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val stats = parted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("r"), coalesce(sum(col("__v")), lit(0L)).as("m"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val total = stats.map(_._3).sum
    var rowOff = 0L
    var massOff = 0L
    val offsets = stats.toSeq.map { case (pid, r, m) =>
      val o = (pid, rowOff, massOff); rowOff += r; massOff += m; o
    }.toDF("__pid", "__row_off", "__mass_off")
    val w = Window.partitionBy(col("__pid")).orderBy(order: _*)
    // rank stays LONG: the whole point of this primitive is >2^31-row
    // inputs, where an int rank would silently wrap (the local
    // row_number is int, but the offset lifts it past any partition)
    val out = parted.join(broadcast(offsets), "__pid")
      .withColumn(rankCol,
        row_number().over(w).cast("long") + col("__row_off"))
      .withColumn(cumCol,
        sum(col("__v")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) + col("__mass_off"))
      .drop("__pid", "__row_off", "__mass_off", "__v")
    (out, total)
  }

  /** Sequence packing — the concat-and-cut step that turns a document
    * stream into fixed-length training sequences: documents are
    * concatenated in `order` and the token stream is cut every
    * `seqTokens` tokens. Each document reports the sequence its first
    * token lands in, its offset inside that sequence, and the last
    * sequence it spans — everything a sharded tokenizer needs to
    * materialize sequence files independently per range of sequences.
    *
    * The global token cumsum runs through
    * [[globalRankAndRunningSum]] (no unpartitioned window — packs a
    * 100 TB corpus at shuffle speed); all outputs are exact integer
    * arithmetic on the cumsum, so the assignment is bit-identical at
    * any parallelism and oracle-checkable. */
  def packSequences(df: DataFrame, order: Seq[Column], nTokens: Column,
                    seqTokens: Long): DataFrame = {
    require(seqTokens > 0, s"seqTokens must be > 0, got $seqTokens")
    val withN = df.withColumn("n_toks", nTokens.cast("long"))
    val (cum, _) = globalRankAndRunningSum(withN, order,
      col("n_toks"), "__rank", "cum_tokens")
    cum.drop("__rank")
      .withColumn("start_seq", expr(s"(cum_tokens - n_toks) DIV $seqTokens"))
      .withColumn("start_offset", expr(s"(cum_tokens - n_toks) % $seqTokens"))
      .withColumn("end_seq", expr(s"(cum_tokens - 1) DIV $seqTokens"))
  }

  /** Deterministic stratified sampling: keep a row iff its md5-derived
    * uniform (same 60-bit construction as [[weightedSample]]) falls
    * under its stratum's fraction. Unlike `df.stat.sampleBy` (whose
    * rand() draw depends on partition layout), selection is a pure
    * per-row predicate of (id, seed) — identical on any cluster size,
    * replayable by an external engine, and stable across reruns (the
    * property a training/eval split actually needs). Expected — not
    * exact — stratum sizes, like sampleBy. Zero shuffles. */
  def stratifiedSampleByHash(df: DataFrame, stratumCol: String, idCol: String,
                             fractions: Map[String, Double],
                             seed: Long = 42L): DataFrame = {
    val u = (conv(substring(md5(concat_ws("|", col(idCol), lit(seed))), 1, 15),
      16, 10).cast("double") + 1.0) / 1.152921504606847e18
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (k, f)) =>
      when(col(stratumCol) === k, lit(f)).otherwise(acc)
    }
    df.filter(u < frac)
  }

  /** Weighted replication — mixture UP-sampling, the other half of the
    * temperature-mixing story (the budget sampler q126 and
    * [[stratifiedSampleByHash]] can only keep ≤ 1 copy): a row with
    * weight `w` appears `floor(w)` times plus one more when the
    * deterministic md5 uniform falls below `frac(w)`, so a source
    * weighted 2.3 is seen ~2.3 epochs in expectation and EXACTLY
    * reproducibly per row. The replication is a per-row
    * `explode(sequence(...))` projection — no shuffle, no driver
    * state, linear in output size — and the copy index rides along
    * (`copyCol`) so downstream shuffling/packing stays deterministic
    * per copy. Same uniform construction as [[weightedSample]] /
    * [[stratifiedSampleByHash]] (md5-derived — partitioning-invariant,
    * cross-engine replayable), same seed semantics.
    *
    * `weight` must be non-negative and finite; `w < 1` downsamples
    * (keep one copy with probability w), `w = 0` drops — and so does a
    * NULL weight (null propagates to an empty replication, the same
    * "no budget for this row" semantics; coalesce upstream if null
    * should mean weight 1). Note `sequence(1, 0)` in Spark is
    * DESCENDING — the zero-copy case must short-circuit to an empty
    * array, not a sequence call. */
  def replicateByWeight(df: DataFrame, idCol: String, weight: Column,
                        seed: Long = 42L,
                        copyCol: String = "copy"): DataFrame = {
    val u = (conv(substring(md5(concat_ws("|", col(idCol), lit(seed))), 1, 15),
      16, 10).cast("double") + 1.0) / 1.152921504606847e18
    val nCopies = floor(weight).cast("long") +
      when(u < weight - floor(weight), 1L).otherwise(0L)
    df.withColumn(copyCol,
      explode(when(nCopies >= 1, sequence(lit(1L), nCopies))
        .otherwise(array().cast("array<bigint>"))))
  }

  /** Deterministic global shuffle — the training-data reorder: every
    * row gets a stable pseudo-random global position (`posCol`) by
    * ranking on md5(id, seed). Unlike `orderBy(rand())`, the order is
    * a pure function of (id, seed): reproducible across runs, cluster
    * sizes, and engines (the q109/q127 uniform family), so a training
    * job can resume mid-epoch and a re-run reads batches in the same
    * order. The rank runs through [[globalRankAndRunningSum]] — range
    * partitions + local windows, no unpartitioned window — and
    * changing `seed` is a fresh epoch permutation.
    *
    * `idCol` must be UNIQUE: duplicate ids share an md5 sort key, and
    * rows with equal keys receive their relative positions in
    * partition-layout order — the position assignment then stops being
    * partitioning-invariant (every other guarantee of this family
    * assumes distinct ids the same way). */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: Long = 42L,
                           posCol: String = "pos"): DataFrame = {
    val (ranked, _) = globalRankAndRunningSum(df,
      order = Seq(md5(concat_ws("|", col(idCol), lit(seed)))),
      value = lit(1L), rankCol = posCol, cumCol = "__cum")
    ranked.drop("__cum")
  }

  /** Exact class balancing — the imbalanced-label fix for classifier
    * training: every class is downsampled to EXACTLY the minority
    * class's count, keeping each class's md5-ordered prefix (the
    * [[deterministicShuffle]] order), so the result is reproducible
    * at any cluster size and across engines — unlike
    * `sampleBy`-style probabilistic balancing, which only balances in
    * expectation.
    *
    * SINGLE PASS over the data, any class count: range-repartition on
    * (label, md5key) — every class's rows arrive ordered and
    * contiguous — then lift per-partition local ranks to global
    * per-class ranks with (partition, label) offsets, exactly the
    * [[globalRankAndRunningSum]] construction grouped by label. The
    * offset/min-count side plan aggregates to ≤ shuffle-partitions ×
    * classes rows (bounded — the windows over it are over that tiny
    * relation, and it broadcasts back). No per-class rescans, no
    * single-reducer-per-class window, no driver-side class loop; null
    * labels form their own class (null-safe join). */
  def balanceClasses(df: DataFrame, labelCol: String, idCol: String,
                     seed: Long = 42L): DataFrame = {
    val key = md5(concat_ws("|", col(idCol), lit(seed)))
    val parted = df.withColumn("__k", key)
      .repartitionByRange(col(labelCol), col("__k"))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    require(!parted.isEmpty, "balanceClasses: empty input")
    // per-(partition, label) row counts: the bounded side relation all
    // ranking metadata derives from
    val stats = parted.groupBy(col("__pid"), col(labelCol))
      .agg(count(lit(1)).as("__r"))
    val wOff = Window.partitionBy(col(labelCol)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCls = Window.partitionBy(col(labelCol))
    val side = stats
      .withColumn("__off", coalesce(sum(col("__r")).over(wOff), lit(0L)))
      .withColumn("__cls_n", sum(col("__r")).over(wCls))
      .withColumn("__min_n", min(col("__cls_n")).over(Window.partitionBy()))
      .select(col("__pid").as("__spid"), col(labelCol).as("__slbl"),
        col("__off"), col("__min_n"))
    val w = Window.partitionBy(col("__pid"), col(labelCol))
      .orderBy(col("__k"))
    parted.join(broadcast(side),
        col("__pid") === col("__spid") && col(labelCol) <=> col("__slbl"))
      .withColumn("__rn", row_number().over(w).cast("long") + col("__off"))
      .filter(col("__rn") <= col("__min_n"))
      .drop("__k", "__pid", "__spid", "__slbl", "__off", "__min_n", "__rn")
  }

  /** Balanced shard assignment for training output: shard count =
    * ceil(total_size / budget), items dealt round-robin in descending
    * size order (longest-processing-time heuristic — the classic
    * 4/3-approximation of perfect balance, deterministic given the
    * size-then-id ordering). Used to write N similar-sized training
    * shards regardless of the document length distribution.
    *
    * The global rank runs through [[globalRankAndRunningSum]] — range
    * partitions + local windows, NO unpartitioned ranking window — so
    * the assignment scales with the cluster; only (size, id) pairs
    * ride the range shuffle, and the total size (hence the shard
    * count) falls out of the same pass for free. At 100 TB the payload
    * joins back on `idCol` afterwards (one shuffle). Integer ceil-div
    * keeps the shard count exact in any engine (double division can
    * land either side of an integer boundary). */
  def roundRobinShards(df: DataFrame, idCol: String, sizeCol: String,
                       budget: Long): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    val (ranked, total) = globalRankAndRunningSum(
      df.select(col(idCol), col(sizeCol)),
      order = Seq(col(sizeCol).desc, col(idCol)),
      value = col(sizeCol), rankCol = "__rn", cumCol = "__cum")
    val nShards = math.max((total + budget - 1) / budget, 1L)
    ranked.select(col(idCol),
      ((col("__rn").cast("long") - 1) % nShards).as("shard"),
      col(sizeCol))
  }

  /** Exact per-group quantiles by RANK SELECTION — the deterministic,
    * cross-engine-replayable alternative to `percentile_approx`
    * (whose sketch internals are engine-specific, q84's rows-only
    * reason) and to engine `percentile_disc` implementations (whose
    * interpolation/tie conventions differ between engines).
    *
    * Semantics: for each group and each p, the value at rank
    * `max(1, ceil(p * n))` under `ORDER BY value, tieCols` — the
    * lower `percentile_disc` convention, pinned explicitly so any
    * engine replays it with a plain `ROW_NUMBER`. `tieCols` must make
    * the order total (a unique key), which is what makes the selected
    * ROW — not just the value — deterministic at any parallelism.
    *
    * Scale shape: ONE shuffle (the group-partitioned window); the ps
    * ride as an exploded literal array inside the same projection
    * (|ps|× rows transiently, then the rank filter cuts them — no
    * extra shuffle, no join). `ceil(n * p)` is the same IEEE double
    * multiply in any engine, so the target rank replays exactly.
    *
    * A single giant group degenerates to one reducer — that shape is
    * [[exactQuantilesGlobal]], which routes the DISTRIBUTED global
    * rank instead.
    *
    * DECLARED SCALE PATH: the per-group window buffers each group on
    * one reducer, so wall time grows with the LARGEST group, not the
    * partition count — the 10× map shows exactly that (q161 ratio
    * ~5.5 with fixed group cardinality). When groups outgrow a
    * reducer, the designed alternative is the histogram-sidecar
    * family ([[graft.ops.Sketches.histogram]] →
    * [[graft.ops.Sketches.histQuantiles]], q170/q171): additive
    * per-bin exact counts with a ≤-bins-rows-per-group cumulative
    * window, whose quantile estimate is within ONE BIN WIDTH of this
    * operator's exact answer by construction (the same
    * `max(1, ceil(p*n))` rank rule lifted to bins —
    * SketchesSpec pins the bound mechanically at 10× the bench
    * corpus). Halving the error costs 2× sidecar rows, never a
    * rescan. Keep THIS operator for auditable exact answers and
    * bounded group sizes; route dashboards and unbounded groups
    * through the sidecar. */
  def exactQuantiles(df: DataFrame, groupCols: Seq[String],
                     valueCol: String, tieCols: Seq[String],
                     ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"ps must be in (0, 1], got $ps")
    require(groupCols.nonEmpty,
      "exactQuantiles needs group columns — for the ungrouped form use " +
        "exactQuantilesGlobal (distributed rank, no single-reducer window)")
    val grp = groupCols.map(col)
    val order = col(valueCol) +: tieCols.map(col)
    val w = Window.partitionBy(grp: _*).orderBy(order: _*)
    val ranked = df
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(grp: _*)))
    ranked
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .filter(col("__rn") ===
        greatest(lit(1L), ceil(col("__n") * col("p"))))
      .select(grp ++ Seq(col("p"), col(valueCol).as("quantile"),
        col("__n").as("n_rows")): _*)
  }

  /** Global (ungrouped) exact quantiles through the DISTRIBUTED rank
    * ([[globalRankAndRunningSum]]: range partitions + local windows +
    * bounded offsets) — same rank-selection semantics as
    * [[exactQuantiles]] with no single-reducer window, so "exact p99
    * of a 10^12-row column" is one range shuffle. The row count falls
    * out of the same pass (the rank primitive's partition stats), so
    * no second scan. */
  def exactQuantilesGlobal(df: DataFrame, valueCol: String,
                           tieCols: Seq[String],
                           ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0.0 && p <= 1.0),
      s"ps must be in (0, 1], got $ps")
    val (ranked, n) = globalRankAndRunningSum(df,
      order = col(valueCol) +: tieCols.map(col),
      value = lit(1L), rankCol = "__rn", cumCol = "__cum")
    ranked
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .filter(col("__rn") ===
        greatest(lit(1L), ceil(lit(n) * col("p"))))
      .select(col("p"), col(valueCol).as("quantile"),
        lit(n).as("n_rows"))
  }

  /** Per-group ordinary least squares over INTEGER-valued (x, y) —
    * the drift detector of a corpus-quality dashboard: "is this
    * source's token length / quality proxy trending as ingestion
    * advances?" fitted as one distributed aggregation, no iteration.
    *
    *   slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    *   intercept = (Σy − slope·Σx) / n
    *
    * Exactness: x and y are cast to long (integer-valued inputs are
    * the contract — positions, counts, epoch seconds); the five
    * moments n, Σx, Σy, Σxy, Σx² accumulate as DECIMAL(38,0)
    * (exact, order-independent — a float Σxy would be neither), the
    * numerator/denominator combine in DECIMAL, and the outputs are
    * the fixed IEEE trees double(num)/double(den) and
    * (double(Σy) − slope·double(Σx))/double(n) — so both replay
    * externally (q201). A zero-variance group (all x equal) yields
    * NULL slope/intercept via CASE, not a 0/0.
    *
    * Envelope (enforced loudly, the 2^53-guard discipline): the
    * combined products must fit DECIMAL(38,0) — |n·Σxy| and |n·Σx²|
    * < 10^38, which holds up to ~10^10 rows/group of positional x
    * and 10^6-scale y; past it, re-zero x per group (x − min x)
    * before calling. The guard raises rather than letting Spark's
    * non-ANSI decimal overflow return a silent NULL.
    *
    * Shape at scale: ONE map-side-combined aggregation (five sums),
    * group-keyed shuffle of one row per group.
    *
    * NULL contract: rows with a NULL x or y carry no fit evidence and
    * are EXCLUDED up front — so n always equals the rows whose
    * moments were actually summed (a silent n/Σ mismatch would
    * produce a wrong slope without tripping the loud overflow guard,
    * whose job is decimal-envelope breaches only). A group with no
    * non-null (x, y) rows is consequently ABSENT from the output. */
  def groupedOls(df: DataFrame, groupCols: Seq[String],
                 xCol: String, yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val x = col(xCol).cast("long").cast(dec)
    val y = col(yCol).cast("long").cast(dec)
    val agg = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast(dec)
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast(dec)
    // the guard lives INSIDE the n_rows output expression (the idAsLong
    // idiom) — a free-standing guard column would be pruned unevaluated
    val nGuarded = when(
      col("sxy").isNull || col("sxx").isNull ||
        col("num").isNull || col("den").isNull,
      raise_error(lit("groupedOls: moment exceeds DECIMAL(38,0) " +
        "envelope — re-zero x per group")).cast("long"))
      .otherwise(col("n").cast("long"))
    val slope = when(col("den") === 0, lit(null).cast("double"))
      .otherwise(col("num").cast("double") / col("den").cast("double"))
    agg
      .select((groupCols.map(col) :+ col("n") :+ col("sx") :+ col("sy") :+
        col("sxy") :+ col("sxx") :+ num.as("num") :+ den.as("den")): _*)
      .withColumn("slope", slope)
      .select((groupCols.map(col) :+
        nGuarded.as("n_rows") :+
        col("slope") :+
        when(col("slope").isNull, lit(null).cast("double"))
          .otherwise((col("sy").cast("double") -
            col("slope") * col("sx").cast("double")) /
            col("n").cast("double")).as("intercept")): _*)
  }
}
