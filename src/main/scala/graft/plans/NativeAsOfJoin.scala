package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftshim.{addStrategy, dfFromPlan}

/** Native as-of join: full custom-operator machinery — LogicalPlan node,
  * planner Strategy, physical sort-merge SparkPlan — for the one reference
  * semantic Spark's built-ins only express awkwardly (SURVEY.md §2b joins
  * row). The composed formulation (`ops/AsOfJoin`: union + keyed window)
  * materializes the union and buffers window frames; this operator streams
  * both sides sorted and keeps O(1) state per key: one pointer and the last
  * right row.
  *
  * Physical contract: children hash-clustered on the key and sorted by
  * (key, time) — EnsureRequirements inserts exactly one exchange per side,
  * same as a SortMergeJoin. Ties (right at the same instant) count as "at or
  * before", matching `ops/AsOfJoin.lookup`.
  */
case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
                        leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                        leftTime: Expression, rightTime: Expression,
                        rightVals: Seq[Expression], outAttrs: Seq[Attribute])
    extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ outAttrs
  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan) =
    copy(left = l, right = r)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, rv, out) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, rv, out) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKeys: Seq[Expression], rightKeys: Seq[Expression],
                        leftTime: Expression, rightTime: Expression,
                        rightVals: Seq[Expression], outAttrs: Seq[Attribute])
    extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ outAttrs

  override def producedAttributes: AttributeSet = AttributeSet(outAttrs)

  // requireAllClusterKeys = true: plain ClusteredDistribution is satisfied
  // by a hash partitioning on any SUBSET of the keys, so left partitioned
  // on keys(0) and right on all keys would both "satisfy" their side while
  // equal full keys land at different partition indices — the
  // zipPartitions merge below would silently never see the matching right
  // rows. Requiring the exact full key set on both children makes the
  // co-location the merge assumes a planner guarantee, at worst one
  // conservative extra shuffle of an already-subset-partitioned input.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys, requireAllClusterKeys = true) ::
      ClusteredDistribution(rightKeys, requireAllClusterKeys = true) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTime
    val rTimeB = rightTime
    val rValsB = rightVals
    val nVals = rightVals.length
    val keyTypes = leftKeys.map(_.dataType)
    val timeType = leftTime.dataType
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeysB, leftOut)
      val rKeyProj = UnsafeProjection.create(rKeysB, rightOut)
      val boundLTime = BindReferences.bindReference(lTimeB, leftOut)
      val boundRTime = BindReferences.bindReference(rTimeB, rightOut)
      val valProj = UnsafeProjection.create(rValsB, rightOut)
      val keyOrd = new InterpretedOrdering(
        keyTypes.zipWithIndex.map { case (dt, i) =>
          SortOrder(BoundReference(i, dt, nullable = true), Ascending) })
      val timeOrd = TypeUtils.getInterpretedOrdering(timeType)
      val joined = new JoinedRow
      val nullVals = InternalRow.fromSeq(Seq.fill(nVals)(null))
      // downstream operators expect UnsafeRow
      val outProj = UnsafeProjection.create(
        (leftOut.map(_.dataType) ++ rValsB.map(_.dataType)).toArray)

      new Iterator[InternalRow] {
        private var rRow: InternalRow = _
        private var rKeyRow: UnsafeRow = _
        private var rTimeVal: Any = _
        private var lastVals: UnsafeRow = _
        private var lastValsKey: UnsafeRow = _
        advanceRight()

        private def advanceRight(): Unit = {
          var done = false
          while (!done) {
            if (rIter.hasNext) {
              rRow = rIter.next()
              rKeyRow = rKeyProj(rRow)
              // Null-key right rows can match NOTHING under SQL equi-join
              // semantics (`l.k = r.k` is UNKNOWN for null) — but the
              // interpreted key ordering treats null == null as equal, so
              // without this skip a null-key LEFT row would pick up values
              // from null-key right rows (diverging from the composed
              // window form and DuckDB ASOF, both of which this operator
              // cites as its semantics). Skipping them here also keeps the
              // merge advance unstalled: nulls sort first, valid keys
              // follow.
              if (!rKeyRow.anyNull) { rTimeVal = boundRTime.eval(rRow); done = true }
            } else { rRow = null; rKeyRow = null; rTimeVal = null; done = true }
          }
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyProj(l)
          val lt = boundLTime.eval(l)
          // Consume right rows at keys < lk, or same key with time <= lt.
          // Null times never satisfy `rightTime <= leftTime` (SQL comparison
          // semantics, matching the composed form and DuckDB ASOF): a null
          // right time is skipped outright — it must not stall the advance,
          // since nulls sort FIRST under Ascending and valid rows follow —
          // and a null left time matches nothing (no comparison attempted).
          var continue = rRow != null
          while (continue) {
            val c = keyOrd.compare(rKeyRow, lk)
            if (c < 0) advanceRight()
            else if (c == 0 && rTimeVal == null) advanceRight()
            else if (c == 0 && lt != null && timeOrd.asInstanceOf[Ordering[Any]]
                       .compare(rTimeVal, lt) <= 0) {
              lastVals = valProj(rRow).copy()
              lastValsKey = lk.copy()
              advanceRight()
            } else continue = false
            if (rRow == null) continue = false
          }
          val valsRow: InternalRow =
            if (lt != null && lastValsKey != null && keyOrd.compare(lastValsKey, lk) == 0)
              lastVals
            else nullVals
          outProj(joined(l, valsRow))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan) =
    copy(left = l, right = r)
}

object NativeAsOfJoin {

  /** DataFrame API over the native operator; output = left columns plus
    * `asof_<v>` for each requested right value column (null when no right
    * row at or before the left time). Same contract as
    * [[graft.ops.AsOfJoin.lookup]]. */
  def lookup(left: DataFrame, right: DataFrame, keys: Seq[String],
             timeCol: String, rightVals: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    // GraftSession.build sessions carry the strategy already (GraftExtensions);
    // this public entry point must also plan on any other session, where the
    // node would otherwise have no strategy to become the physical operator.
    addStrategy(spark, AsOfJoinStrategy)
    val lPlan = left.queryExecution.analyzed
    // Re-alias the right side with fresh exprIds: when both inputs derive
    // from the same base relation they share attribute ids, and the
    // analyzer's DeduplicateRelations doesn't visit custom nodes.
    val rAnalyzed = right.queryExecution.analyzed
    val rPlan = org.apache.spark.sql.catalyst.plans.logical.Project(
      rAnalyzed.output.map(a => Alias(a, a.name)()), rAnalyzed)
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
    // The executor machinery (hash partitioning, key/time orderings) is
    // built from the LEFT side's types and applied to BOTH sides' rows — a
    // built-in join would insert implicit casts at analysis, but this node
    // has no analyzer coercion, so mismatched-but-comparable types (int vs
    // long key) would hash-partition each side differently and return all
    // nulls SILENTLY. Reject here; the caller casts explicitly.
    def sameType(what: String, l: Attribute, r: Attribute): Unit =
      require(l.dataType == r.dataType,
        s"as-of $what '${l.name}' type mismatch: left ${l.dataType} vs " +
          s"right ${r.dataType} — cast the sides to a common type first")
    keys.foreach(k => sameType("key", attr(lPlan, k), attr(rPlan, k)))
    sameType("time column", attr(lPlan, timeCol), attr(rPlan, timeCol))
    val outAttrs = rightVals.map { v =>
      val a = attr(rPlan, v)
      AttributeReference(s"asof_$v", a.dataType, nullable = true)()
    }
    dfFromPlan(spark, AsOfJoinNode(
      lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, timeCol), attr(rPlan, timeCol),
      rightVals.map(attr(rPlan, _)), outAttrs))
  }
}
