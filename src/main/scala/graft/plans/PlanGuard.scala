package graft.plans

import org.apache.spark.sql.DataFrame

/** Plan-SHAPE regression guard (round-15, the round-14 verdict's #5
  * ask). The r14 k-core find proved the class: a loop that referenced
  * its accumulating frame twice doubled the LOGICAL plan per round —
  * 2^cadence nodes — and at bench SF the walls looked fine; only a
  * deep-iteration run exposed Catalyst grinding for an hour on a 60k-
  * edge graph. Plan pathologies ship silently where timings cannot
  * catch them, so the standing sweep records every registered query's
  * optimized-plan node count and fails when a count grows more than
  * [[GrowthLimit]]× over the committed baseline (`PLAN_SIZES.json`)
  * without a registered exception.
  *
  * Workflow: [[graft.Bench]] prints the per-query counts in its detail
  * line and writes `target/plan_sizes_current.json`; a deliberate plan
  * change is "registered" by refreshing the committed baseline in the
  * same commit (or, for a query whose plan is legitimately
  * input-shaped, an entry in [[Exceptions]] naming why). Counts are a
  * pure function of the code + catalog state — no timing noise — so
  * any unexplained growth is a real structural change.
  */
object PlanGuard {

  /** Fail line: current > GrowthLimit × baseline. 2× catches every
    * doubling-per-iteration bug after ONE extra doubling while never
    * tripping on an added filter or column. */
  val GrowthLimit = 2.0

  /** Queries whose plan size is allowed to drift without refreshing
    * the baseline, each with the reason on record. Empty today — the
    * registry's plans are all structurally pinned. */
  val Exceptions: Map[String, String] = Map.empty

  /** Optimized-plan node count, subqueries included (a regression that
    * hides inside a scalar subquery still counts). localCheckpointed
    * segments appear as single opaque RDD-scan leaves — that is the
    * point: the guard measures the plan Catalyst actually optimizes. */
  def nodeCount(df: DataFrame): Int = {
    val plan = df.queryExecution.optimizedPlan
    plan.collectWithSubqueries { case _ => 1 }.sum
  }

  /** Violation messages for every query whose current count exceeds
    * GrowthLimit × its baseline and is not excepted. Queries absent
    * from the baseline (new this round) never violate — they enter the
    * baseline at the round snapshot. */
  def check(current: Map[String, Int],
            baseline: Map[String, Int]): Seq[String] =
    current.toSeq.sorted.flatMap { case (name, n) =>
      baseline.get(name) match {
        case Some(b) if n > GrowthLimit * b && !Exceptions.contains(name) =>
          Some(s"$name: optimized plan grew ${b} -> ${n} nodes " +
            s"(> ${GrowthLimit}x) — register the change by refreshing " +
            "PLAN_SIZES.json in this commit or adding a PlanGuard " +
            "exception with the reason")
        case _ => None
      }
    }

  /** Expression classes whose per-row cost makes the STREAM-SIDE
    * PROJECTION codegen hazard expensive enough to ship as a measured
    * regression: whole-stage codegen defers a projection's expression
    * evaluation to its USE SITE, and when the use site is inside a
    * join's matched-row loop the expression re-runs PER CANDIDATE
    * PAIR — m·ksub BigDecimal roundings (round-17 q158 encode), a
    * per-query ADC LUT (round-8 q159), a full signature scan per
    * pair. Cheap per-row arithmetic survives the same deferral
    * harmlessly; these do not. */
  private val HazardExpressionClasses: Set[String] = Set(
    "PqEncode", "PqLut", "PqEncodeLong",
    "MinHashSignature", "MinHashMd5Signature",
    "SimHash64", "SimHash64Md5", "HashedShingles",
    "CdcChunkStarts", "NfkcNormalize")

  private def containsHazard(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] =
    e.collectFirst {
      case h if HazardExpressionClasses(h.getClass.getSimpleName) =>
        h.getClass.getSimpleName
    }

  /** Unwrap the adaptive/stage wrappers that interpose between a join
    * and its real child in an executed plan. */
  private def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
      : org.apache.spark.sql.execution.SparkPlan = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      unwrap(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      unwrap(s.plan)
    case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
      unwrap(w.child)
    case _ => p
  }

  /** THE STREAM-SIDE PROJECTION HAZARD PIN (round 18 — the r17
    * verdict's #3 ask; the same mechanism shipped a measured
    * regression TWICE, r8 LUT and r17 encode): an expensive projection
    * on the STREAMED side of a hash/nested-loop join, inside the
    * join's codegen stage, is re-evaluated per matched pair. Returns
    * one violation per (join, expression-class) found: a
    * [[HazardExpressionClasses]] expression inside a ProjectExec
    * reachable from the join's streamed child through pipelined
    * (Project/Filter) operators only — anything else (exchange, sort,
    * generate, RDD scan from a localCheckpoint, an InputAdapter stage
    * boundary) materializes or re-scopes rows and ends the deferral.
    * The fix at every prior instance: materialize the projected side
    * (localCheckpoint bounded rows) before the join — LUTs and codes
    * as DATA, not deferred expressions (§9's rule). */
  def streamSideHazards(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSet,
      Expression}
    import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, JoinType,
      LeftAnti, LeftSemi}
    import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.joins._
    // Precision notes (what is and is not per-pair in WSCG):
    //  - join KEYS evaluate once per stream row at probe time, so a
    //    hazard feeding only the key is NOT per-pair;
    //  - semi/anti/existence joins emit each stream row at most once —
    //    deferral costs the same as materialization;
    //  - only attributes DEMANDED per matched pair (the join's output
    //    and its extra condition) amplify, and the demand propagates
    //    down through intermediate projections (a cheap alias of an
    //    expensive column defers the whole chain).
    def fanOut(jt: JoinType): Boolean = jt match {
      case LeftSemi | LeftAnti | _: ExistenceJoin => false
      case _ => true
    }
    // walk the pipelined (same codegen stage) chain under the streamed
    // side, tracking which attributes the join demands per matched
    // pair; flag hazard expressions that produce a demanded attribute
    def pipelinedHazards(p: SparkPlan,
                         demanded: AttributeSet): Seq[String] =
      unwrap(p) match {
        case pr: ProjectExec =>
          val hits = pr.projectList.collect {
            case a: Alias if demanded.contains(a.toAttribute) =>
              containsHazard(a.child)
          }.flatten.distinct
          val nextDemand = AttributeSet(pr.projectList.collect {
            case e if demanded.contains(e.toAttribute) => e.references
          }.flatten)
          hits ++ pipelinedHazards(pr.child, nextDemand)
        case f: FilterExec => pipelinedHazards(f.child, demanded)
        case _ => Nil
      }
    def streamedOf(p: SparkPlan): Option[(SparkPlan, AttributeSet)] = {
      def side(bs: org.apache.spark.sql.catalyst.optimizer.BuildSide,
               l: SparkPlan, r: SparkPlan) = bs match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => r
        case _ => l
      }
      def demand(j: SparkPlan, streamed: SparkPlan,
                 cond: Option[Expression]): AttributeSet =
        AttributeSet(j.output.filter(streamed.outputSet.contains) ++
          cond.toSeq.flatMap(_.references
            .filter(streamed.outputSet.contains)))
      p match {
        case j: BroadcastHashJoinExec if fanOut(j.joinType) =>
          val s = side(j.buildSide, j.left, j.right)
          Some((s, demand(j, s, j.condition)))
        case j: ShuffledHashJoinExec if fanOut(j.joinType) =>
          val s = side(j.buildSide, j.left, j.right)
          Some((s, demand(j, s, j.condition)))
        case j: BroadcastNestedLoopJoinExec if fanOut(j.joinType) =>
          val s = side(j.buildSide, j.left, j.right)
          Some((s, demand(j, s, j.condition)))
        // SortMergeJoin children sit behind sorts (materialized rows)
        // — no deferral survives; Cartesian is banned outright
        case _ => None
      }
    }
    val all = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: SparkPlan): Unit = {
      val u = unwrap(p)
      streamedOf(u).foreach { case (sc, demanded) =>
        pipelinedHazards(sc, demanded).foreach { cls =>
          all += s"${u.getClass.getSimpleName}: $cls evaluated on the " +
            "streamed side inside the join's codegen stage — " +
            "re-evaluated per matched pair; materialize " +
            "(localCheckpoint) the projected side before the join"
        }
      }
      u.children.foreach(walk)
      u.subqueries.foreach(walk)
    }
    walk(plan)
    all.toSeq.distinct
  }

  /** Parse the flat {"name": count} JSON baseline (no external JSON
    * dep in main; the format is machine-written by Bench). */
  def parseBaseline(text: String): Map[String, Int] =
    """"([^"]+)"\s*:\s*(\d+)""".r.findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toInt).toMap

  def loadBaseline(path: String): Map[String, Int] = {
    val f = new java.io.File(path)
    if (!f.exists()) Map.empty
    else parseBaseline(
      new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8))
  }

  def render(counts: Map[String, Int]): String =
    counts.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
}
