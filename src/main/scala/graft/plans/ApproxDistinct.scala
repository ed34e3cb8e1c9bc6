package graft.plans

import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** "Approx mode": an injected optimizer rule that rewrites exact
  * `count(DISTINCT x)` into HLL++ `approx_count_distinct(x)` when the
  * session opts in via `spark.graft.approxDistinct.enabled`.
  *
  * Why this is an engine feature and not a query-author choice: at 100 TB an
  * exact distinct is a full shuffle of every distinct key (or an Expand when
  * mixed with other aggregates), while HLL++ is a fixed ~kilobytes-per-group
  * sketch that partial-aggregates map-side — the classic interactive-
  * dashboard trade (BigQuery's legacy COUNT(DISTINCT), Druid, Presto's
  * `approx_distinct` all made it the default for exactly this reason). The
  * flag lets an operator flip one conf for an exploratory session instead of
  * rewriting every query, and flip it back for the billing run.
  *
  * Semantics preserved by the rewrite: both forms ignore NULLs, both return
  * BIGINT, and the aggregate keeps its `resultId`/alias, so downstream
  * references and output schema are untouched. Only single-argument distinct
  * counts are rewritten — `count(DISTINCT a, b)` stays exact (HLL over a
  * struct would change null-tuple semantics). A FILTER clause is carried
  * over unchanged (it applies to input rows, orthogonal to the sketch).
  *
  * Registered at session build time: [[graft.functions.GraftExtensions]]
  * injects it via `injectOptimizerRule`, so it runs in the operator-
  * optimization batch, before `RewriteDistinctAggregates` expands a
  * multi-distinct aggregate — single- and multi-distinct shapes both see
  * `isDistinct = true` intact.
  */
object ApproxDistinct {
  /** Session flag: rewrite exact distinct counts to HLL++ when "true". */
  val EnabledKey = "spark.graft.approxDistinct.enabled"
  /** Relative standard deviation for the sketch (HLL++ default 0.05). */
  val RsdKey = "spark.graft.approxDistinct.rsd"
}

object ApproxDistinctRewrite extends Rule[LogicalPlan] {
  import ApproxDistinct._

  // Never-throw conf parse (the RetainVersionsKey posture): this rule runs
  // on EVERY plan in the session — a malformed value ("1", "yes", "5%")
  // must degrade to the default with a logged warning, not fail every
  // query including ones with no distinct count.
  private def confBool(key: String, default: Boolean): Boolean =
    conf.getConfString(key, default.toString).toBooleanOption.getOrElse {
      logWarning(s"malformed $key; treating as $default")
      default
    }
  private def confDouble(key: String, default: Double): Double =
    conf.getConfString(key, default.toString).toDoubleOption.getOrElse {
      logWarning(s"malformed $key; using $default")
      default
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!confBool(EnabledKey, default = false)) plan
    else {
      val rsd = confDouble(RsdKey, default = 0.05)
      plan.transform {
        case agg: Aggregate => agg.transformExpressions {
          case AggregateExpression(Count(Seq(child)), mode, true, filter, resultId) =>
            AggregateExpression(
              HyperLogLogPlusPlus(child, rsd), mode, isDistinct = false, filter, resultId)
        }
      }
    }
}
