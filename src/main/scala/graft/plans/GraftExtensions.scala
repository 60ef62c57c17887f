package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, EqualNullSafe, EqualTo, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.classic.Strategy
import org.apache.spark.sql.execution.SparkPlan

/** The engine's `spark.sql.extensions` entry point — how a cluster
  * deployment turns a stock SparkSession into a graft session:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.plans.GraftExtensions ...
  * }}}
  *
  * Injects:
  *  - [[AsOfStrategy]] — the native as-of join physical strategy
  *    ([[AsOfJoinDF.asofJoin]] appends it to `experimental.extraStrategies`
  *    only in a session whose planner lacks it);
  *  - [[CartesianGuard]] — a planner strategy that REJECTS unbounded
  *    cartesian products before they execute;
  *  - [[OnePartition]] — a global sort over an input AQE packs into
  *    one partition sorts in that partition, and a scan of one file of
  *    at most that size, which is one split anyway, reports its one
  *    partition, so no exchange is planned above it, unless the plan
  *    reads it twice or joins it without a broadcast (`SparkEntry.queries`
  *    installs it in a session whose planner lacks it);
  *  - [[LevenshteinBandRule]] — an optimizer rule conjoining the implied
  *    `|len(a)−len(b)| ≤ k` band onto bounded-levenshtein predicates;
  *  - every graft SQL function in [[GraftExtensions.sqlFunctions]], so a
  *    `spark.sql`-only user gets them from the conf line alone.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfStrategy)
    ext.injectPlannerStrategy(spark => CartesianGuard(spark))
    ext.injectPlannerStrategy(_ => OnePartition)
    ext.injectOptimizerRule(_ => LevenshteinBandRule)
    GraftExtensions.sqlFunctions.foreach(ext.injectFunction)
  }
}

/** The one table of graft SQL functions. DataFrame code never goes
  * through it: operators build the same expressions with the typed
  * constructors in `graft.functions` (`VectorExprs.dot`,
  * `FreqSketch.agg`, ...), so building a frame leaves the session's
  * registry alone. The builders check what SQL cannot type: argument
  * count, and a literal `k` for the sketch aggregates, whose state it
  * bounds. */
object GraftExtensions {
  import graft.functions._

  private def fn(name: String, clazz: Class[_])(b: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), b)

  private def literalK(name: String, es: Seq[Expression]): Int = {
    require(es.length == 2,
      s"$name(col, k) takes exactly 2 arguments, got ${es.length}")
    require(es(1).foldable, s"$name: k must be a literal (foldable) integer")
    es(1).eval(null).asInstanceOf[Number].intValue()
  }

  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    Seq(
      fn("fvec_dot", classOf[FloatVectorDot])(
        es => FloatVectorDot(es(0), es(1))),
      fn("fvec_norm", classOf[FloatVectorNorm])(
        es => FloatVectorNorm(es.head)),
      fn("simhash60", classOf[SimHash60])(es => SimHash60(es.head)),
      fn("nfc_normalize", classOf[NfcNormalize]) { es =>
        require(es.length == 1,
          s"nfc_normalize(s) takes exactly 1 argument, got ${es.length}")
        NfcNormalize(es.head)
      },
      fn("graft_bloom_agg", classOf[BloomFilterAggregate]) { es =>
        require(es.length == 3,
          "graft_bloom_agg(xxhash64(key), estItems, numBits)")
        BloomFuncs.aggExpr(es(0), es(1), es(2))
      },
      fn("graft_might_contain", classOf[BloomFilterMightContain]) { es =>
        require(es.length == 2, "graft_might_contain(bloom, xxhash64(key))")
        BloomFilterMightContain(es(0), es(1))
      },
      fn("freq_sketch", classOf[FreqItems])(
        es => FreqSketch.aggExpr(es.head, literalK("freq_sketch", es))),
      fn("topk_vals", classOf[TopKDoubles])(
        es => TopKAgg.aggExpr(es.head, literalK("topk_vals", es))))

  /** Registers the table's functions in a session built without the
    * extensions. Names the session already resolves are left alone, so
    * repeated calls change nothing and log nothing. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id))
        registry.registerFunction(id, info, builder)
    }
  }
}

/** Guardrail for 100 TB clusters: an unconditioned inner/cross join
  * whose smaller side exceeds a size threshold is almost always a query
  * bug (the output is |L|×|R| rows), and on a large cluster it runs for
  * hours before anyone notices. This planner strategy fails the query
  * when such a join is planned; it plans nothing itself (always `Nil`).
  *
  * It runs at planning, not as an analysis check, so it sees only the
  * joins Spark will run. `Dataset.join(right, usingColumns)` first
  * analyzes a join with NO condition to de-duplicate self-join
  * attributes; a check rule would see that throwaway join and reject
  * every USING join of two large sides. The optimized plan carries the
  * USING equality, and the optimizer has folded each side's `broadcast()`
  * hint into `Join.hint` (a hint inside a nested join stays there).
  *
  * Threshold: `graft.cartesianGuard.maxBytes` (default 64 MB) — a
  * cartesian is allowed when EITHER side's stats-estimated size is
  * under it (tiny-dim crosses like `q_join_cross_small` pass; the
  * test-only all-pairs baselines trip it), or when either side carries
  * an explicit `broadcast()` hint — size-only stats don't shrink
  * through filters, so a hinted bounded probe set (the
  * `q_llm_embed_neardup` shape) is the user asserting "this side is
  * small"; the hint makes that assertion visible to the guard. Set to
  * -1 to disable.
  */
case class CartesianGuard(spark: SparkSession) extends Strategy {

  private def maxBytes: Long =
    spark.conf.getOption("graft.cartesianGuard.maxBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = {
    plan match {
      // a join is cartesian-shaped when it has NO condition, or a
      // condition with no equality at all (pure theta joins plan as
      // nested-loop over the full pair space, same blow-up)
      case Join(left, right, Inner | Cross, cond, hint)
          if cond.forall(c => !c.exists(e =>
            e.isInstanceOf[EqualTo] || e.isInstanceOf[EqualNullSafe])) &&
            !(hint.leftHint ++ hint.rightHint)
              .exists(_.strategy.contains(BROADCAST)) =>
        val limit = maxBytes
        val lSize = left.stats.sizeInBytes
        val rSize = right.stats.sizeInBytes
        if (limit >= 0 && lSize > limit && rSize > limit) {
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "USER_RAISED_EXCEPTION",
            messageParameters = Map("errorMessage" ->
              (s"[graft] Unbounded cartesian product: both join sides " +
                s"exceed graft.cartesianGuard.maxBytes=$limit " +
                s"(left=$lSize, right=$rSize bytes). Bound one side, " +
                s"broadcast a bounded probe set, or use an equi-join " +
                s"prefilter (LSH bucket / band join). Set " +
                s"graft.cartesianGuard.maxBytes=-1 to override.")))
        }
      case _ =>
    }
    Nil
  }
}
