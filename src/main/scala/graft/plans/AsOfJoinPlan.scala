package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator as-of join as a first-class Catalyst node — the
  * preference-(c) path for operators Spark can't express: a custom
  * LogicalPlan + SparkStrategy + physical merge exec (reference behavior:
  * DuckDB ASOF JOIN, duckdb-backend semantics; same result as
  * graft.operators.AsOfJoin.leftAsOf's union+window plan).
  *
  * Physical shape: both sides hash-partitioned on the key and sorted
  * within partitions by (key, time) — EnsureRequirements inserts exactly
  * one exchange per side — then a single streaming two-pointer merge per
  * partition emits each left row with the latest right payload at
  * right.time <= left.time. Versus the union+window plan this never
  * widens rows with null padding, never materializes a window buffer,
  * and the merge is O(|L| + |R|) per partition.
  *
  * Tie rule (same as leftAsOf): a right row at exactly left.time is
  * visible; among right ties on time the largest `rightOrder` wins
  * (right side is sorted by (key, time, order) ascending and later rows
  * overwrite the buffered best).
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression, rightOrder: Expression,
    payload: Seq[Expression], payloadAttrs: Seq[Attribute]) extends BinaryNode {

  // payloadAttrs are fresh attributes PRODUCED by this node (like
  // Generate's generatorOutput) — an Alias would be stripped by
  // CleanupAliases on a node the rule doesn't exempt, and references
  // must exclude produced attrs or CheckAnalysis flags them as missing
  override def output: Seq[Attribute] = left.output ++ payloadAttrs
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(payloadAttrs)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

class AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, ro, pay, payAttrs) =>
      AsOfJoinExec(lk, rk, lt, rt, ro, pay, payAttrs, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression, rightOrder: Expression,
    payload: Seq[Expression], payloadAttrs: Seq[Attribute],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ payloadAttrs
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(payloadAttrs)

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++
      Seq(SortOrder(rightTime, Ascending), SortOrder(rightOrder, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTime
    val rTimeB = rightTime
    val payloadB = payload
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt0) =>
      val rIt = rIt0.buffered
      val lKeyProj = UnsafeProjection.create(lKeysB, lOut)
      val rKeyProj = UnsafeProjection.create(rKeysB, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeB), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeB), rOut)
      val payloadProj = UnsafeProjection.create(payloadB, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeysB.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTimeB.dataType))
      val nullPayload = new GenericInternalRow(payloadB.size)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      var best: UnsafeRow = null
      var bestKey: UnsafeRow = null
      lIt.map { lrow =>
        val lk = lKeyProj(lrow)
        // SQL equality-join semantics: a NULL key equals nothing — a
        // null-key left row gets a null payload, null-key right rows
        // never match (natural ordering would compare null==null)
        if (lk.anyNull) outProj(joined(lrow, nullPayload))
        else {
          var continue = true
          while (continue && rIt.hasNext) {
            val rh = rIt.head
            val rk = rKeyProj(rh)
            if (rk.anyNull) { rIt.next() } // unmatchable; nulls sort first
            else {
              val c = keyOrd.compare(rk, lk)
              if (c < 0) {
                // right key below every remaining left key (both sorted)
                rIt.next()
              } else if (c == 0 && timeOrd.compare(rTimeProj(rh), lTimeProj(lrow)) <= 0) {
                // visible: later pops (same key, later time/order) overwrite
                val r = rIt.next()
                best = payloadProj(r).copy()
                bestKey = lk.copy()
              } else {
                continue = false // right ahead of this left row; maybe next one
              }
            }
          }
          val p: InternalRow =
            if (bestKey != null && keyOrd.compare(bestKey, lk) == 0) best
            else nullPayload
          outProj(joined(lrow, p))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** Column-API builder for the native as-of join (same signature and
  * semantics as AsOfJoin.leftAsOf).
  */
object AsOfJoinNative {

  /** Install the planner strategy into an existing session (idempotent).
    * Sessions built via `withExtensions(new GraftExtensions)` get it
    * automatically, and this adds no second one to them.
    */
  def ensureStrategy(spark: org.apache.spark.sql.SparkSession): Unit = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!classic.sessionState.planner.strategies.exists(_.isInstanceOf[AsOfJoinStrategy]))
      classic.experimental.extraStrategies =
        classic.experimental.extraStrategies :+ new AsOfJoinStrategy
  }

  def leftAsOf(
      left: DataFrame, right: DataFrame,
      keyCols: Seq[String], timeCol: String,
      rightOrder: String, payload: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    ensureStrategy(spark)
    import org.apache.spark.sql.functions.col
    // re-alias the right side so a self-as-of (left and right carved from
    // the same scan) can't share attribute ids across the two children
    val rightFresh = right.select(right.columns.toSeq.map(c => col(c).as(c)): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rightFresh.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name).mkString(", ")}"))
    val payloadExprs = payload.map(p => attr(rPlan, p): Expression)
    val payloadOut = payload.map { p =>
      val a = attr(rPlan, p)
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        s"asof_$p", a.dataType, nullable = true)()
    }
    val plan = AsOfJoinPlan(
      lPlan, rPlan,
      keyCols.map(attr(lPlan, _)), keyCols.map(attr(rPlan, _)),
      attr(lPlan, timeCol), attr(rPlan, timeCol), attr(rPlan, rightOrder),
      payloadExprs, payloadOut)
    org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, plan)
  }
}
