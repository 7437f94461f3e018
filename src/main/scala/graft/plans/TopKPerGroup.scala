package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Custom whole-operator: per-group top-k by a numeric score WITHOUT
  * sorting each partition.
  *
  * The built-in formulation — `row_number() OVER (PARTITION BY key
  * ORDER BY score DESC[, tie ASC]) <= k` — shuffles on the key and
  * then SORTS every partition by (key, score): O(n log n) per
  * partition, with the whole partition materialized for the sort.
  * This operator keeps only a k-bounded min-heap per key:
  * O(n log k) time and O(groups·k) memory, streaming the input once.
  * Same single shuffle (it declares `ClusteredDistribution` on the
  * keys), no sort.
  *
  * Ladder position (SURVEY.md §8.4): the (c) option — logical node +
  * planner strategy + physical exec, registered through
  * [[graft.functions.GraftExtensions]] — used here because no composition of
  * built-ins avoids the sort.
  *
  * Tie semantics: with `tiebreak` set (an integral column, ascending,
  * nulls first — row_number's ASC default), the selected rows are
  * EXACTLY the rows `row_number() ... ORDER BY score DESC, tie ASC`
  * keeps — fully deterministic. Without it, ties at the k-boundary
  * resolve arbitrarily (exactly as row_number over a non-unique
  * ordering does).
  */
case class TopKPerGroup(keys: Seq[Expression], score: Expression,
                        tiebreak: Option[Expression], k: Int,
                        child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

case class TopKPerGroupExec(keys: Seq[Expression], score: Expression,
                            tiebreak: Option[Expression], k: Int,
                            child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    import TopKPerGroupExec._
    val keyExprs = keys.map(BindReferences.bindReference(_, child.output))
    val scoreExpr = BindReferences.bindReference(score, child.output)
    val tieExpr = tiebreak.map(BindReferences.bindReference(_, child.output))
    val kk = k
    child.execute().mapPartitions({ rows =>
      val keyProj = UnsafeProjection.create(keyExprs)
      val groups = new java.util.HashMap[InternalRow, GroupState]()
      rows.foreach { row =>
        val key = keyProj(row)
        var st = groups.get(key)
        if (st == null) {
          st = new GroupState(kk, tieExpr.isDefined)
          groups.put(key.copy(), st)
        }
        val tie = tieExpr match {
          case None => 0L
          case Some(te) => te.eval(row) match {
            case null => Long.MinValue // ASC NULLS FIRST: best-in-tie
            case n: java.lang.Number => n.longValue()
          }
        }
        scoreExpr.eval(row) match {
          case null => st.offerNull(Entry(0.0, tie, row.copy()))
          case s => st.offer(Entry(s.asInstanceOf[Double], tie, row.copy()))
        }
      }
      import scala.jdk.CollectionConverters._
      groups.values().iterator().asScala.flatMap(_.emit())
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroupExec {

  /** One buffered candidate: score, tiebreak (Long.MinValue when the
    * tiebreak value is null — ASC NULLS FIRST ranks it best-in-tie;
    * 0 when no tiebreak is configured), and the copied row. */
  private final case class Entry(score: Double, tie: Long, row: InternalRow)

  /** Worst-first ordering: lower score is worse; among equal scores a
    * LARGER tiebreak is worse (ASC tiebreak — smallest wins).
    * Explicit Serializable object: a SAM lambda comparator is not
    * serializable and would fail closure cleaning. */
  private object WorstFirst extends java.util.Comparator[Entry] with Serializable {
    override def compare(a: Entry, b: Entry): Int = {
      val c = java.lang.Double.compare(a.score, b.score)
      if (c != 0) c else java.lang.Long.compare(b.tie, a.tie)
    }
  }

  /** Null-score candidates, worst-first = largest tiebreak at head. */
  private object WorstTieFirst extends java.util.Comparator[Entry] with Serializable {
    override def compare(a: Entry, b: Entry): Int =
      java.lang.Long.compare(b.tie, a.tie)
  }

  /** Per-group state: a k-bounded worst-first heap of non-null-scored
    * rows, plus a k-bounded heap of null-scored rows (kept by smallest
    * tiebreak). Null scores rank AFTER all non-null scores
    * (ROW_NUMBER ... DESC NULLS LAST parity): they surface only when a
    * group has fewer than k non-null rows. */
  private final class GroupState(k: Int, tiebreakDefined: Boolean) {
    val heap = new java.util.PriorityQueue[Entry](k + 1, WorstFirst)
    val nullHeap = new java.util.PriorityQueue[Entry](k + 1, WorstTieFirst)

    def offer(e: Entry): Unit =
      if (heap.size < k) heap.add(e)
      else if (WorstFirst.compare(e, heap.peek()) > 0) { heap.poll(); heap.add(e) }

    def offerNull(e: Entry): Unit =
      if (nullHeap.size < k) nullHeap.add(e)
      else if (tiebreakDefined && WorstTieFirst.compare(e, nullHeap.peek()) > 0) {
        nullHeap.poll(); nullHeap.add(e)
      }

    def emit(): Iterator[InternalRow] = {
      import scala.jdk.CollectionConverters._
      val fillers = nullHeap.iterator().asScala.toArray
        .sortBy(_.tie).iterator.take(k - heap.size)
      heap.iterator().asScala.map(_.row) ++ fillers.map(_.row)
    }
  }
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(keys, score, tiebreak, k, child) =>
      TopKPerGroupExec(keys, score, tiebreak, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopKPerGroup {
  /** Column-API entry: top `k` rows per `keys` group by descending
    * `score`. Any numeric score column is accepted — it is cast to
    * double for heap comparison (the exec binds a DoubleType
    * expression, never a raw attribute of another type). Null scores
    * rank after every non-null score (ROW_NUMBER ... DESC NULLS LAST
    * parity). With `tiebreakCol` (an integral column; ascending,
    * nulls-first semantics) the selection is exactly
    * `row_number() OVER (... ORDER BY score DESC, tiebreak ASC) <= k`. */
  def topKPerGroup(df: org.apache.spark.sql.DataFrame, keys: Seq[String],
                   scoreCol: String, k: Int,
                   tiebreakCol: Option[String] = None): org.apache.spark.sql.DataFrame = {
    require(keys.nonEmpty,
      "topKPerGroup needs at least one grouping key; for a global " +
        "top-k use orderBy(...).limit(k) (TakeOrderedAndProject)")
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    val resolve = analyzed.outputSet.toSeq.map(a => a.name -> a).toMap
    val keyExprs = keys.map(resolve(_))
    val scoreAttr = resolve(scoreCol)
    require(scoreAttr.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"topKPerGroup score column '$scoreCol' must be numeric, " +
        s"got ${scoreAttr.dataType}")
    val scoreExpr =
      if (scoreAttr.dataType == org.apache.spark.sql.types.DoubleType) scoreAttr
      else org.apache.spark.sql.catalyst.expressions.Cast(
        scoreAttr, org.apache.spark.sql.types.DoubleType)
    val tieExpr = tiebreakCol.map { c =>
      val attr = resolve(c)
      require(TopKRewriteRule.isIntegral(attr.dataType),
        s"topKPerGroup tiebreak column '$c' must be integral, got ${attr.dataType}")
      attr
    }
    org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(spark,
      TopKPerGroup(keyExprs, scoreExpr, tieExpr, k, analyzed))
  }
}
