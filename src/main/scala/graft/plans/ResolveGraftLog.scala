package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.FilterBridge
import graft.sources.{Changelog, GraftLog}

/** Resolves [[graft.sources.GraftLog]] relations into the engine's own
  * changelog plans — the rule half of the batch table surface (see the
  * GraftLog scaladoc for why a merge-on-read table format resolves
  * through a rule rather than a row-serving scan: a snapshot is a keyed
  * LWW compaction no per-partition reader can produce alone).
  *
  * Injected as a PRE-CBO rule (not resolution, not the operator
  * fixedpoint) deliberately:
  *  - by pre-CBO the operator-optimization batch has finished, so the
  *    user's filters are FULLY PUSHED and sit directly above the
  *    relation — the one place a filter-driven rewrite can see them
  *    without racing `PushDownPredicates` (an analysis-time rewrite
  *    runs at `load()`, before the user's `.filter` even exists);
  *  - pre-CBO runs BEFORE `V2ScanRelationPushDown`, so the relation is
  *    replaced before Spark ever asks it for a scan;
  *  - the spliced subtree is the library's analyzed plan; the
  *    still-to-run batches (early scan push-down: SchemaPruning,
  *    PruneFileSourcePartitions) then prune its parquet scans exactly
  *    as they do for direct library calls.
  *
  * The filter-driven leg is the COMMIT-STATS SKIPPING surface: the
  * deterministic conjuncts of the pushed condition of an ops-shaped
  * snapshot read are translated to `sources.Filter` (the vocabulary
  * every data source is handed) and [[Changelog.KeyRange.extract]]
  * turns them into one range per constrained key column; when any
  * range comes out, the relation resolves through [[Changelog.lookup]]
  * — commits whose recorded stats exclude a range are dropped
  * DRIVER-SIDE, before any footer opens. Soundness: the lookup equals
  * the snapshot filtered to the ranges by the library's own
  * spec-pinned contract, each range is a SUPERSET of the condition
  * (strict integral bounds tighten to the adjacent integer; unknown
  * shapes contribute nothing), and the ORIGINAL filter stays on top —
  * so the rewrite can only remove rows the filter would drop anyway.
  * The condition may mix arbitrary other conjuncts; only comparisons
  * of a key column against a literal feed the ranges.
  */
case class ResolveGraftLog(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  /** Splice sites already served the MEMOIZED library plan this apply:
    * one LogTable instance appearing at TWO read positions of one query
    * (df.join(df, ...), a union of a filtered and unfiltered read of
    * one loaded df) must not receive the identical subtree twice —
    * duplicate attribute ids across sibling legs are something nothing
    * after analysis deduplicates. First site gets the memoized tree;
    * every later site re-analyzes the library call (fresh exprIds, same
    * pinned coordinates). Identity set: two separately-LOADED tables
    * are distinct instances and each keeps its own memoized first use.
    */
  private type Seen = java.util.Set[GraftLog.LogTable]

  override def apply(plan: LogicalPlan): LogicalPlan =
    rewrite(plan, java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[GraftLog.LogTable, java.lang.Boolean]()))

  /** The table's snapshot/feed plan for one SPLICE SITE — memoized tree
    * first, fresh analysis for repeat sites of the same instance.
    */
  private def sitePlan(table: GraftLog.LogTable, seen: Seen): LogicalPlan =
    (if (seen.add(table)) table.resolved else table.freshResolved)
      .queryExecution.optimizedPlan

  /** Manual recursion instead of transformDown: WRITE positions must
    * keep their relation (the write exec resolves the TABLE, not a
    * read plan) while read positions — including the write command's
    * own source QUERY and subquery expressions — rewrite as usual.
    * `V2WriteCommand.table` is a field, not a child, so recursion
    * through `query` never touches it; `DeleteFromTable`'s child IS
    * the target relation, so it is left whole (its condition runs
    * inside `deleteWhere`, not as a plan).
    */
  private def rewrite(plan: LogicalPlan, seen: Seen): LogicalPlan = plan match {
    case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable =>
      d
    // ALTER TABLE … ADD CONSTRAINT … CHECK: the child is Spark's
    // validation query over the table relation — left whole, because
    // the graft PLANNER strategy replaces the entire command with the
    // engine's own add-constraint exec (which validates through the
    // library's resolved plan; a spliced child here would leave the
    // command shape unplannable by any strategy)
    case a: org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint =>
      a
    // filter sits on the relation (optionally through the column-prune
    // projection ColumnPruning inserts): route through stats skipping
    case f @ Filter(cond, child) if graftUnder(child).isDefined =>
      val rel = graftUnder(child).get
      val resolved = withSkipping(rel.table.asInstanceOf[GraftLog.LogTable],
        cond, seen)
      f.copy(child = replaceIn(child, rel, resolved))
    case rel: DataSourceV2Relation
        if rel.table.isInstanceOf[GraftLog.LogTable] =>
      aligned(rel, sitePlan(rel.table.asInstanceOf[GraftLog.LogTable], seen))
    case other =>
      // descend into children AND into subquery-expression plans (a
      // log read inside `WHERE x > (SELECT … FROM log)` rewrites too)
      other.withNewChildren(other.children.map(rewrite(_, seen)))
        .transformExpressions {
          case se: org.apache.spark.sql.catalyst.expressions.SubqueryExpression =>
            se.withNewPlan(rewrite(se.plan, seen))
        }
  }

  /** The GraftLog relation directly under `plan`, looking through at
    * most one attribute-only Project (the shape ColumnPruning leaves).
    */
  private def graftUnder(plan: LogicalPlan): Option[DataSourceV2Relation] =
    plan match {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftLog.LogTable] => Some(r)
      case Project(projList, r: DataSourceV2Relation)
          if r.table.isInstanceOf[GraftLog.LogTable] &&
            projList.forall(_.isInstanceOf[AttributeReference]) => Some(r)
      case _ => None
    }

  private def replaceIn(child: LogicalPlan, rel: DataSourceV2Relation,
                        resolved: LogicalPlan): LogicalPlan = child match {
    case r: DataSourceV2Relation if r eq rel => aligned(rel, resolved)
    case p @ Project(_, r: DataSourceV2Relation) if r eq rel =>
      p.copy(child = aligned(rel, resolved))
    case other => other // unreachable by construction of graftUnder
  }

  /** Splice: the replacement plan's output re-aliased onto the
    * relation's attribute ids, so every reference above keeps
    * resolving (the standard view-substitution discipline). Columns
    * the table declares NON-NULLABLE (the key columns — the log's row
    * identity, required non-null by the row-level-operation contract)
    * splice through [[KnownNotNull]]: the parquet-read subtree types
    * everything nullable, but a key is never null by the log's own
    * verbs (every commit groups/joins by it), and without the wrapper
    * `UpdateAttributeNullability` would retro-nullify references the
    * analyzer already resolved as non-null — invalidating the plan.
    */
  private def aligned(rel: DataSourceV2Relation,
                      plan: LogicalPlan): LogicalPlan = {
    val clean = EliminateSubqueryAliases(plan)
    val byName = clean.output.map(a => a.name -> a).toMap
    val projs: Seq[NamedExpression] = rel.output.map { o =>
      val src = byName.getOrElse(o.name, throw new IllegalStateException(
        s"graft log resolution lost column ${o.name} — table schema " +
          s"and plan output diverged: [${clean.output.map(_.name).mkString(", ")}]"))
      val expr: Expression =
        if (!o.nullable && src.nullable) KnownNotNull(src) else src
      Alias(expr, o.name)(exprId = o.exprId)
    }
    Project(projs, clean)
  }

  /** The snapshot plan for `table` under pushed condition `cond` —
    * stats-skipping lookup when key ranges are extractable,
    * the plain snapshot otherwise. Feed reads and mergeSchema reads
    * never skip (the feed's candidates are already commit-pruned; the
    * evolved read's union-schema fold is a different plan).
    */
  private def withSkipping(table: GraftLog.LogTable,
                           cond: Expression, seen: Seen): LogicalPlan = {
    val opts = table.opts
    // splice the OPTIMIZED subtree: the operator batches (Replace
    // Operators — Deduplicate→Aggregate —, constant folding, the
    // subtree's own filter pushdown) already ran for the outer tree,
    // so an analyzed splice would reach the planner with logical-only
    // operators. Running the sub-optimization here is the same nested
    // QueryExecution discipline Delta's scan preparation uses; the
    // outer pipeline's remaining batches (early scan push-down) are
    // idempotent over it.
    if (opts.readChangeFeed || !table.opsShape || opts.mergeSchema)
      sitePlan(table, seen)
    else {
      val filters = splitConjunctivePredicates(cond).filter(_.deterministic)
        .flatMap(FilterBridge.translate)
      // a mapped (rename-only) log still skips: the ranges are on KEY
      // columns (never mapped), and the lookup's physical output is
      // projected to the table's logical names before the splice
      Changelog.KeyRange.extract(opts.keys, filters) match {
        case Seq() => sitePlan(table, seen)
        case ranges =>
          Changelog.applyMapping(
            Changelog.lookup(spark, opts.path, opts.keys,
              table.pinnedVersion, ranges), table.pinnedMapping)
            .queryExecution.optimizedPlan
      }
    }
  }
}
