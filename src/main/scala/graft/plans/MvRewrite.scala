package graft.plans

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{concat, count, lit, max, min, raise_error, sum, when}
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Materialized-view query rewrite: aggregate queries over a fact table are
  * transparently answered from a pre-computed rollup when the rollup
  * subsumes them — the classic warehouse accelerator (Oracle query rewrite,
  * BigQuery/Redshift materialized views, Calcite's `MaterializedViewRule`).
  * At 100 TB the difference is a scan of a few thousand rollup rows versus
  * the full fact table, for every dashboard query that hits the pattern.
  *
  * A rollup registered via [[MvRewrite.defineRollup]] stores, per group of
  * `groupCols`: `cnt_star = count(*)` and, for each measure `m`,
  * `sum_m / cnt_m / min_m / max_m`. A query aggregate is rewritten when
  * every piece is derivable by the standard rollup algebra:
  *
  *  - grouping expressions reference only `groupCols` (any subset —
  *    re-aggregation handles coarser groupings);
  *  - filters (already pushed next to the scan by the main optimizer
  *    batches) reference only `groupCols`, so they apply to rollup rows
  *    verbatim;
  *  - `count(*)` → `coalesce(sum(cnt_star), 0)`; over a measure:
  *    `sum(m)` → `sum(sum_m)`, `count(m)` → `coalesce(sum(cnt_m), 0)`,
  *    `min/max(m)` → `min(min_m)/max(max_m)`, `avg(m)` →
  *    `sum(sum_m) / sum(cnt_m)` (null when no non-null inputs, matching
  *    AVG's ignore-nulls contract); `min/max` over a grouping column stay
  *    `min/max` (extrema over distinct values equal extrema over rows).
  *
  * Anything else — DISTINCT aggregates, FILTER clauses, aggregates over
  * derived expressions, any column outside the rollup — leaves the query
  * untouched: the rewrite must be an optimization, never a semantics
  * change. Freshness is the caller's contract, as with every MV system:
  * re-run [[MvRewrite.defineRollup]] after fact appends (or disable via
  * [[MvRewrite.EnabledKey]]) — the rule itself never checks staleness.
  */
object MvRewrite {
  /** Session flag: answer subsumed aggregates from registered rollups. */
  val EnabledKey = "spark.graft.mvRewrite.enabled"

  /** How many newest committed MV versions each refresh retains (default 2:
    * current + one predecessor for in-flight readers; min 1). */
  val RetainVersionsKey = "spark.graft.mvRewrite.retainVersions"

  private[plans] final case class MvDef(
      name: String,
      factRootPaths: Set[String],
      groupCols: Seq[String],
      measures: Seq[String],
      mvRoot: String,
      mvRelation: LogicalRelation)

  // Per-session registries. Lifetime is explicit, not GC-driven: an MvDef
  // holds its relation, which holds the session, so weak keys would never
  // collect anyway. Registrations live until dropRollup/clear or JVM exit —
  // a long-lived driver that churns sessions should clear() on teardown.
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, TrieMap[String, MvDef]]()

  private def defsMap(spark: SparkSession): TrieMap[String, MvDef] =
    registry.computeIfAbsent(spark, _ => TrieMap.empty[String, MvDef])

  private[plans] def defsFor(spark: SparkSession): Seq[MvDef] =
    defsMap(spark).values.toSeq

  /** Unregister one rollup (its files are the caller's to delete). */
  def dropRollup(spark: SparkSession, name: String): Unit =
    defsMap(spark).remove(name)

  /** Unregister everything this session defined. */
  def clear(spark: SparkSession): Unit =
    registry.remove(spark)

  /** The rollup shape: per group, `cnt_star` plus sum/cnt/min/max of each
    * measure. Shared by full materialization and incremental refresh. */
  private def rollupOf(df: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
                       measures: Seq[String]): org.apache.spark.sql.DataFrame = {
    val aggs = count(lit(1)).as("cnt_star") +: measures.flatMap(m => Seq(
      sum(df(m)).as(s"sum_$m"), count(df(m)).as(s"cnt_$m"),
      min(df(m)).as(s"min_$m"), max(df(m)).as(s"max_$m")))
    df.groupBy(groupCols.map(df(_)): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Fold one rollup into another: partial states combine with the same
    * algebra streaming partial aggregation uses — counts add, sums add,
    * extrema take extrema. */
  private[graft] def combineRollups(rollups: org.apache.spark.sql.DataFrame, groupCols: Seq[String],
                             measures: Seq[String]): org.apache.spark.sql.DataFrame = {
    val aggs = sum(rollups("cnt_star")).as("cnt_star") +: measures.flatMap { m =>
      // Sum over a decimal WIDENS precision per level (Decimal(p,s) →
      // Decimal(p+10,s)); without the cast-back every refresh widened the
      // stored sum_m by 10 until the 38 cap — a schema that drifts across
      // versions. Values fit the stored type at define time, but
      // incremental refreshes ACCUMULATE: a cumulative sum can eventually
      // exceed the stored precision, and under a non-ANSI session the
      // cast-back silently NULLS it — the MV answers wrong while the fact
      // table answers right. Overflow therefore fails the refresh loudly
      // (non-null widened sum → null narrowed sum is exactly the overflow
      // signature; ANSI sessions throw on the cast itself): the caller
      // redefines the MV at a wider measure type, which full-rematerializes
      // at the new schema.
      val sumType = rollups.schema(s"sum_$m").dataType
      val wide = sum(rollups(s"sum_$m"))
      val narrowed = wide.cast(sumType)
      // Two overflow signatures, both fail loudly: (a) the widened sum is
      // fine but narrows to null (cast-back overflow); (b) the widened
      // Decimal(p+10) aggregate ITSELF overflows — under non-ANSI that
      // returns null, which `wide.isNotNull` alone would silently commit.
      // Non-null inputs existed (sum(cnt_m) > 0) yet the sum is null is
      // exactly that aggregate-overflow signature; a legitimately-null sum
      // (all inputs null) has sum(cnt_m) == 0 and passes through.
      val cnt = sum(rollups(s"cnt_$m"))
      Seq(
        when(wide.isNotNull && narrowed.isNull,
          raise_error(concat(
            lit(s"MV rollup sum_$m overflowed its stored type ${sumType.sql} "
              + "(cumulative refreshes exceeded define-time precision); "
              + "redefine the MV with a wider measure type. Value: "),
            wide.cast("string"))).cast(sumType))
          .when(wide.isNull && cnt > lit(0L),
            raise_error(lit(
              s"MV rollup sum_$m overflowed even the WIDENED accumulator "
                + s"(non-null inputs present but the widened sum is null); "
                + "redefine the MV with a wider measure type.")).cast(sumType))
          .otherwise(narrowed).as(s"sum_$m"),
        sum(rollups(s"cnt_$m")).as(s"cnt_$m"),
        min(rollups(s"min_$m")).as(s"min_$m"), max(rollups(s"max_$m")).as(s"max_$m"))
    }
    rollups.groupBy(groupCols.map(rollups(_)): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def commitVersion(spark: SparkSession, d: MvDef,
                            data: org.apache.spark.sql.DataFrame): Unit = {
    // Read back the path WE just wrote (single-writer contract) instead of
    // re-resolving latest(): on an object store each latest()/
    // committedVersions() is a full LIST plus per-version _SUCCESS probes,
    // and this refresh already pays one for next-version and one for
    // retention below.
    val versionPath = graft.ops.VersionedTable.commit(spark, d.mvRoot, data)
    val mvRel = spark.read.parquet(versionPath)
      .queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr }.get
    defsMap(spark).put(d.name, d.copy(mvRelation = mvRel))
    // Maintenance: each refresh lands a complete rollup copy, and nothing
    // else ever deleted superseded versions — a long-lived driver
    // refreshing per batch leaked one full MV per refresh. Retention is
    // count-based and tunable ([[RetainVersionsKey]], default 2: the new
    // version plus its immediate predecessor as the grace window for a
    // query planned against the old relation and still executing); a
    // deployment whose scans can outlive two refresh cycles raises it.
    // Only COMMITTED (`_SUCCESS`-marked) versions are candidates: an
    // uncommitted dir is a concurrent writer's in-flight attempt (or a
    // crashed one that the next commit will overwrite), never ours to
    // delete. VersionedTable.vacuum is too aggressive here (keeps only
    // the latest).
    locally {
      // Never-throw parse (the tuneFor posture for maintenance-side knobs):
      // a malformed retention value must not fail a refresh whose data
      // commit already succeeded.
      val retain = math.max(1,
        spark.conf.get(RetainVersionsKey, "2").toIntOption.getOrElse {
          System.err.println(
            s"[mv-rewrite] malformed $RetainVersionsKey; retaining default 2")
          2
        })
      val root = new org.apache.hadoop.fs.Path(d.mvRoot)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.ops.VersionedTable.committedVersions(spark, d.mvRoot)
        .dropRight(retain)
        .foreach { case (_, p) => fs.delete(p, true) }
    }
  }

  /** Materialize the rollup of `factDir` under `mvRoot` (a
    * [[graft.ops.VersionedTable]] layout — refreshes commit new versions,
    * in-flight readers keep the version they resolved) and register it for
    * rewrite in this session. Re-registering a name replaces it. One scan
    * of the fact table, shuffled once on the group keys — the same pass any
    * REFRESH MATERIALIZED VIEW runs. */
  def defineRollup(spark: SparkSession, name: String, factDir: String,
                   mvRoot: String, groupCols: Seq[String],
                   measures: Seq[String]): Unit = {
    require(groupCols.nonEmpty && measures.nonEmpty,
      "group columns and measures must be non-empty")
    val fact = spark.read.parquet(factDir)
    // Canonicalize names against the fact schema NOW (case-insensitively,
    // like Spark's own resolution): rollupOf would resolve "L_RETURNFLAG"
    // fine, but the rewrite matches registered names against plan attribute
    // names, which carry the STORED case — a case-mismatched registration
    // used to build a rollup that silently never rewrote anything.
    val factNames = fact.schema.fieldNames
    def canonical(role: String)(n: String): String =
      factNames.find(_.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"$role '$n' not found in fact schema ${factNames.mkString(", ")}"))
    val gCols = groupCols.map(canonical("group column"))
    val ms = measures.map(canonical("measure"))
    require(!ms.exists(gCols.contains),
      "group columns and measures must be disjoint")
    // The rollup's output columns must be collision-free, or the parquet
    // write fails with an opaque duplicate-column error (e.g. a measure
    // literally named "star" would generate a second cnt_star).
    val generated = gCols ++ ("cnt_star" +:
      ms.flatMap(m => Seq(s"sum_$m", s"cnt_$m", s"min_$m", s"max_$m")))
    require(generated.distinct.size == generated.size,
      s"rollup column names collide: ${generated.diff(generated.distinct).mkString(", ")}")
    val factPaths = rootPaths(fact.queryExecution.analyzed)
      .getOrElse(throw new IllegalArgumentException(
        s"$factDir did not resolve to a file relation"))
    val d = MvDef(name, factPaths, gCols, ms, mvRoot, null)
    commitVersion(spark, d, rollupOf(fact, gCols, ms))
  }

  /** Incremental refresh: fold the rollup of ONE appended batch into the
    * current rollup — history is never rescanned (the q92 materialized-view
    * maintenance algebra, applied to the rewrite path). Contract: `deltaDir`
    * holds exactly the rows appended to the fact table since the last
    * define/refresh — append-only maintenance, like SQL engines' fast
    * refresh; updates or deletes need a full [[defineRollup]]. */
  def refreshIncremental(spark: SparkSession, name: String, deltaDir: String): Unit = {
    val d = defsMap(spark).getOrElse(name,
      throw new NoSuchElementException(s"no rollup named '$name' registered"))
    val delta = rollupOf(spark.read.parquet(deltaDir), d.groupCols, d.measures)
    val current = org.apache.spark.sql.graftshim.dfFromPlan(spark, d.mvRelation)
    commitVersion(spark, d,
      combineRollups(current.unionByName(delta), d.groupCols, d.measures))
  }

  /** Explicit single-query form: rewrite `df` against this session's
    * registered rollups and return the rewritten frame (unchanged when not
    * derivable). Unlike the [[EnabledKey]] transparent path —
    * whose rule runs at each action's optimization, session-wide — this
    * rewrites once, here, regardless of the flag, so the caller can hand
    * the frame to any writer without leaving rewrite mode enabled for
    * unrelated queries. */
  def answer(spark: SparkSession, df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftshim.dfFromPlan(spark,
      MvRewriteRule(spark).rewriteNow(df.queryExecution.optimizedPlan))

  private[graft] def rootPaths(plan: LogicalPlan): Option[Set[String]] =
    plan.collectFirst { case lr: LogicalRelation => lr.relation }.collect {
      case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString).toSet
    }
}

/** The rewrite itself. Injected by [[graft.functions.GraftExtensions]] into
  * the operator-optimization batch, which runs it to a fixed point together
  * with filter pushdown and column pruning; it matches the normalized
  * `Aggregate → [Project/Filter]* → LogicalRelation` shape.
  */
final case class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import MvRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan =
    // Never-throw parse: this rule runs on every plan in the session — a
    // malformed flag value must read as disabled, not fail every query.
    if (!conf.getConfString(EnabledKey, "false").toBooleanOption.getOrElse {
          logWarning(s"malformed $EnabledKey; treating as false"); false
        }) plan
    else rewriteNow(plan)

  /** The rewrite, independent of the session flag (the [[MvRewrite.answer]]
    * path). */
  private[plans] def rewriteNow(plan: LogicalPlan): LogicalPlan = {
    val defs = defsFor(spark)
    if (defs.isEmpty) return plan
    plan.transform {
      case agg @ Aggregate(_, _, child, None) =>
        (for {
          (filters, lr) <- strip(child)
          paths <- rootPaths(lr)
          // several rollups may cover this fact: first one that derives wins
          // (lazily — a strict flatMap would run the full derivation for
          // every covering rollup on every aggregate query's optimization)
          rewritten <- defs.view.filter(_.factRootPaths == paths)
            .flatMap(mv => rewrite(agg, filters, mv)).headOption
        } yield rewritten).getOrElse(agg)
    }
  }

  /** Peel pure-column Projects and Filters down to the scanned relation. */
  private def strip(p: LogicalPlan): Option[(Seq[Expression], LogicalRelation)] =
    p match {
      case Project(projList, child) if projList.forall(_.isInstanceOf[AttributeReference]) =>
        strip(child)
      case Filter(cond, child) =>
        strip(child).map { case (fs, lr) => (cond +: fs, lr) }
      case lr: LogicalRelation => Some((Nil, lr))
      case _ => None
    }

  private def rewrite(agg: Aggregate, filters: Seq[Expression],
                      mv: MvDef): Option[LogicalPlan] = {
    val mvRel = mv.mvRelation.newInstance()
    val mvAttr = mvRel.output.map(a => a.name -> a).toMap

    // Remap one expression tree from fact attributes to rollup attributes;
    // None when any piece is not derivable.
    def remap(e: Expression): Option[Expression] = {
      // A non-deterministic piece (rand(), input_file_name(), ...) is
      // row-granular by definition: re-evaluating it per ROLLUP row is a
      // different computation, never a rewrite.
      if (e.exists(!_.deterministic)) return None
      var ok = true
      def sumOf(a: Attribute) = new Sum(a).toAggregateExpression()
      val out = e.transformUp {
        case ae @ AggregateExpression(fn, mode, isDistinct, filterOpt, resultId) =>
          if (isDistinct || filterOpt.isDefined) { ok = false; ae }
          else fn match {
            case Count(Seq(l: Literal)) if l.value != null =>
              Coalesce(Seq(
                AggregateExpression(new Sum(mvAttr("cnt_star")), mode,
                  isDistinct = false, None, resultId),
                Literal(0L, LongType)))
            case Count(Seq(a: AttributeReference)) if mv.measures.contains(a.name) =>
              Coalesce(Seq(
                AggregateExpression(new Sum(mvAttr(s"cnt_${a.name}")), mode,
                  isDistinct = false, None, resultId),
                Literal(0L, LongType)))
            case Sum(a: AttributeReference, _) if mv.measures.contains(a.name) =>
              val rewritten = new Sum(mvAttr(s"sum_${a.name}"))
              // sum-of-sums must keep the exact result type: decimal sums
              // widen precision per level (Sum(Decimal(p,s)) = Decimal(p+10,s)),
              // so a second Sum would change the output schema — bail there.
              if (rewritten.dataType == ae.dataType)
                AggregateExpression(rewritten, mode,
                  isDistinct = false, None, resultId)
              else { ok = false; ae }
            case Min(a: AttributeReference) if mv.measures.contains(a.name) =>
              AggregateExpression(Min(mvAttr(s"min_${a.name}")), mode,
                isDistinct = false, None, resultId)
            case Max(a: AttributeReference) if mv.measures.contains(a.name) =>
              AggregateExpression(Max(mvAttr(s"max_${a.name}")), mode,
                isDistinct = false, None, resultId)
            // extrema over a grouping column: distinct values suffice (the
            // leaf case below already swapped in the rollup attribute)
            case Min(a: AttributeReference) if mvAttr.get(a.name).contains(a) =>
              ae
            case Max(a: AttributeReference) if mvAttr.get(a.name).contains(a) =>
              ae
            case Average(a: AttributeReference, _)
                if mv.measures.contains(a.name) &&
                  ae.dataType == DoubleType =>
              val s = sumOf(mvAttr(s"sum_${a.name}"))
              val c = sumOf(mvAttr(s"cnt_${a.name}"))
              If(EqualTo(c, Literal(0L, LongType)),
                Literal(null, DoubleType),
                Divide(Cast(s, DoubleType), Cast(c, DoubleType)))
            case _ => ok = false; ae
          }
        case a: AttributeReference if mv.groupCols.contains(a.name) => mvAttr(a.name)
      }
      val foreign = out.references.filterNot(mvRel.outputSet.contains)
      if (ok && foreign.isEmpty) Some(out) else None
    }

    def remapNamed(ne: NamedExpression): Option[NamedExpression] = ne match {
      case a: Alias => remap(a.child).map(c =>
        Alias(c, a.name)(a.exprId, a.qualifier, a.explicitMetadata))
      case a: AttributeReference => remap(a).map {
        case same: Attribute => Alias(same, a.name)(a.exprId, a.qualifier)
        case other => Alias(other, a.name)(a.exprId, a.qualifier)
      }
      case _ => None
    }

    for {
      newGroup <- traverse(agg.groupingExpressions)(remap)
      newAggs <- traverse(agg.aggregateExpressions)(remapNamed)
      newFilters <- traverse(filters)(remap)
    } yield {
      val base: LogicalPlan =
        if (newFilters.isEmpty) mvRel
        else Filter(newFilters.reduce(And), mvRel)
      Aggregate(newGroup, newAggs, base)
    }
  }

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] =
    xs.foldLeft(Option(Vector.empty[B])) { (acc, x) =>
      acc.flatMap(v => f(x).map(v :+ _))
    }
}
