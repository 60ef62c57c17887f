package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Native as-of join — SURVEY §2-C `q_join_asof`'s operator, implemented
  * at preference level (c) of the task spec: custom `LogicalPlan` +
  * `Strategy` + `SparkPlan` (the composed-builtin form — join + window
  * dedup — remains as `q_join_asof`; this one executes the same
  * semantics in a single sort-merge pass with no window state).
  *
  * Semantics (inner as-of): for every left row, the right row with the
  * greatest (ts, tiebreak...) among rows of the same key with
  * right.ts <= left.ts; left rows with no prior right row are dropped.
  * This matches the reference's "attach a log line to the most recent
  * container start" correlation (muswarmlogger/loggers.py attach-on-
  * start, `since=` bookkeeping).
  *
  * Scale design: requires children clustered by key and sorted by
  * (key, ts[, tiebreaks]) — EnsureRequirements inserts the exchanges and
  * sorts, so the operator itself is a single streaming merge per
  * partition with O(1) state (the last candidate right row). No window
  * buffering of all matches per probe (the composed form materializes
  * every (purchase × earlier signup) pair before discarding all but
  * one); skew on the key is handled upstream by AQE exactly as for a
  * sort-merge join.
  *
  * v1 restriction: key and ts expressions must evaluate to LongType
  * (documented; covers the engine's id/epoch columns).
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightTieBreak: Expression) extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): AsOfJoin = copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends Strategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tb) =>
      AsOfJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression, rightTieBreak: Expression,
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
    ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(rightTieBreak, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTs = BindReferences.bindReference(leftTs, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTs = BindReferences.bindReference(rightTs, right.output)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      new Iterator[InternalRow] {
        // O(1) merge state: the best (= last in sort order) right row at
        // or before the current left timestamp, per the current key run
        private var pendingRight: InternalRow = _
        private var lastMatch: InternalRow = _
        private var lastMatchKey: Long = 0L
        private var nextOut: InternalRow = _

        private def advance(): Unit = {
          nextOut = null
          while (nextOut == null && lIter.hasNext) {
            val l = lIter.next()
            // NULL key/ts rows can never match under SQL join semantics
            // (a bare asInstanceOf would unbox null to 0L and join them
            // against the real key 0) — drop left nulls, skip right
            // nulls. The required Ascending sort puts nulls first, so
            // skipped right rows are consumed before any real key run.
            val lkAny = lKey.eval(l)
            val ltAny = lTs.eval(l)
            if (lkAny != null && ltAny != null) {
              val lk = lkAny.asInstanceOf[Long]
              val lt = ltAny.asInstanceOf[Long]
              var continue = true
              while (continue && (pendingRight != null || rIter.hasNext)) {
                if (pendingRight == null) pendingRight = rIter.next().copy()
                val rkAny = rKey.eval(pendingRight)
                val rtAny = rTs.eval(pendingRight)
                if (rkAny == null || rtAny == null) {
                  pendingRight = null // unmatchable: consume and skip
                } else {
                  val rk = rkAny.asInstanceOf[Long]
                  val rt = rtAny.asInstanceOf[Long]
                  if (rk < lk || (rk == lk && rt <= lt)) {
                    lastMatch = pendingRight
                    lastMatchKey = rk
                    pendingRight = null
                  } else continue = false
                }
              }
              if (lastMatch != null && lastMatchKey == lk) {
                nextOut = proj(joined(l, lastMatch))
              } // else: no prior right row for this key — inner semantics
            }
          }
        }

        override def hasNext: Boolean = {
          if (nextOut == null) advance()
          nextOut != null
        }
        override def next(): InternalRow = {
          if (nextOut == null) advance()
          val r = nextOut
          nextOut = null
          r
        }
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinDF {
  /** DataFrame-level entry: as-of join `probe` to the most recent
    * `build` row per key (build.ts <= probe.ts), tie-broken by
    * `buildTieBreak` (a build-side column name). Column names are
    * resolved against each side explicitly — both sides may share
    * names. Registers the planner strategy on first use in a session
    * built without [[GraftExtensions]]. */
  def asofJoin(spark: SparkSession, probe: DataFrame, build: DataFrame,
      probeKey: String, buildKey: String, probeTs: String, buildTs: String,
      buildTieBreak: String): DataFrame = {
    if (!spark.sessionState.planner.strategies.contains(AsOfStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfStrategy
    }
    val lPlan = probe.queryExecution.analyzed
    val rPlan = build.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Expression =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"asofJoin: no column '$name' in [${plan.output.map(_.name).mkString(", ")}]"))
    val plan = AsOfJoin(lPlan, rPlan,
      attr(lPlan, probeKey), attr(rPlan, buildKey),
      attr(lPlan, probeTs), attr(rPlan, buildTs), attr(rPlan, buildTieBreak))
    org.apache.spark.sql.GraftBridge.ofRows(spark, plan)
  }
}
