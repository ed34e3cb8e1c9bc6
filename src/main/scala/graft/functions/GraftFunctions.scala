package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL-surface registration of the engine's native expressions, so the K7
  * ad-hoc SQL capability (SURVEY.md §2) covers them too:
  *
  *   SELECT cosine_sim(a.embedding, b.embedding) FROM ...
  *   SELECT minhash_sig(shingle_hashes(text, 3)) FROM documents
  *
  * Registered at session build time by [[GraftExtensions]]
  * (`SparkSessionExtensions.injectFunction`), which [[graft.GraftSession.build]]
  * applies; any other session opts in with
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Arity guard: a wrong-arity SQL call otherwise surfaces as a raw
    * IndexOutOfBoundsException from `es(1)` with no function name — this
    * names the function and the expected count at analysis time. */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    es => {
      if (es.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${es.length}")
      build(es)
    }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> arity("cosine_sim", 2)(es => CosineSimF(es(0), es(1))),
    "minhash_sig" -> arity("minhash_sig", 1)(es => MinHashSig(es(0))),
    "simhash64" -> arity("simhash64", 1)(es => SimHash64(es(0))),
    "normalize_l2" -> arity("normalize_l2", 1)(es => NormalizeL2F(es(0))),
    "lsh_sigs" -> arity("lsh_sigs", 1)(es => LshSigs(es(0))),
    "shingle_hashes" -> arity("shingle_hashes", 2)(es =>
      ShingleHashes(es(0), intLit(es(1), "shingle width"))),
    "rolling_hash_min" -> arity("rolling_hash_min", 2)(es =>
      RollingHashMin(es(0), intLit(es(1), "window width"))),
    "trigram_stats" -> arity("trigram_stats", 1)(es => TrigramStats(es(0))))
}

/** Builder-time injection, applied by [[graft.GraftSession.build]]; other
  * sessions use `--conf spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.NativeKernels", name),
        b))
    }
    // Flag-gated approx-mode rewrite (inert unless the session opts in).
    e.injectOptimizerRule(_ => graft.plans.ApproxDistinctRewrite)
    // Flag-gated materialized-view rewrite (inert until a rollup is
    // registered AND the session opts in).
    e.injectOptimizerRule(s => graft.plans.MvRewriteRule(s))
    // The custom as-of-join physical strategy, so builder-time sessions get
    // the complete engine (functions + rules + planner) in one extension.
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
