package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Coalesce, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.store.{MaterializedView, TableStore}

/** Transparent materialized-view rewrite — the classic warehouse
  * optimization (the reference's `cached query` answers repeated
  * queries from a memo by NAME, `Kernel/README.md:142-161`; this rule
  * answers them by STRUCTURE: any aggregate that a registered,
  * write-maintained view can serve is redirected to it, whoever wrote
  * the query). Installed per session via [[MvRewrite.install]]
  * (`spark.experimental.extraOptimizations` — the runtime-injectable
  * optimizer extension point).
  *
  * A rewrite fires only when ALL of:
  *  - the aggregate's input is a FULL scan of a store table (the
  *    scan's root paths equal [[TableStore.dataDirs]] exactly — a
  *    pruned or filtered read is never treated as the whole relation),
  *    through at most an attribute-only projection;
  *  - every grouping expression is a bare column within the view's
  *    key set (a strict subset rolls UP from the view's groups —
  *    sums of sums — which is exactly why views store `n_rows` and
  *    re-aggregable sums only);
  *  - every aggregate is `count(*)`/`count(1)` (→ `sum(n_rows)`) or a
  *    non-distinct `sum` of a bare column registered as a view sum;
  *  - the rewritten expression's data type is unchanged (a decimal
  *    sum-of-sum widens and must not rewrite).
  *
  * Output attribute ids are preserved by re-aliasing the new
  * aggregates under the ORIGINAL exprIds, so parent operators are
  * untouched. At 100 TB this turns a full-corpus scan + shuffle into
  * a scan of #groups rows — the view is maintained incrementally on
  * every write front door (the TableStore mutation facade, WritePath,
  * the HeroQL mutation routes), and a write that BYPASSES maintenance
  * (a raw `transaction {{ tx => ... }}`, compaction, migrate) trips the
  * base-manifest watermark fence ([[MaterializedView.BaseManifestProp]])
  * so the rewrite stands down rather than serve a stale answer.
  *
  * Scale note: the view snapshot resolves at OPTIMIZATION time (the
  * store's current commit), matching the store's read-at-call
  * semantics. The registry probe is one driver-side read of the
  * (views-count-sized) registry table per optimized aggregate, and
  * only for plans that actually contain a candidate store scan.
  */
class MvRewrite(spark: SparkSession, store: TableStore)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!spark.conf.get("spark.graft.mv.rewrite.enabled", "true").toBoolean) plan
    else try plan.transformUp {
      case agg @ Aggregate(ge, ae, child, _) =>
        tryRewrite(ge, ae, child).getOrElse(agg)
    } catch {
      // a dead store (temp dir vacated under a long-lived session)
      // must degrade to no-rewrite, never break unrelated queries
      case NonFatal(_) => plan
    }

  /** The scan's (relation root paths, attribute passthrough) if the
    * child is a full-relation read through at most an attribute-only
    * Project. */
  private def scanPaths(child: LogicalPlan): Option[Set[String]] = child match {
    case LogicalRelation(hfs: HadoopFsRelation, _, _, _, _) =>
      Some(hfs.location.rootPaths.map(p =>
        java.nio.file.Paths.get(p.toUri.getPath).toAbsolutePath
          .normalize.toString).toSet)
    case Project(projList, rel) if projList.forall(_.isInstanceOf[AttributeReference]) =>
      scanPaths(rel)
    case _ => None
  }

  private def tryRewrite(ge: Seq[Expression], ae: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val paths = scanPaths(child).getOrElse(return None)
    if (paths.isEmpty) return None
    val groupNames = ge.map {
      case a: AttributeReference => a.name
      case _ => return None
    }
    // every output must be a group column, count(*), or sum(bare col)
    sealed trait Out
    case class GroupOut(name: String) extends Out
    case object CountOut extends Out
    case class SumOut(col: String) extends Out
    val outs: Seq[(NamedExpression, Out)] = ae.map { ne =>
      val e = ne match {
        case Alias(c, _) => c
        case other => other
      }
      e match {
        case a: AttributeReference if groupNames.contains(a.name) =>
          ne -> GroupOut(a.name)
        case AggregateExpression(Count(Seq(Literal(1, _))), Complete, false, None, _) =>
          ne -> CountOut
        case AggregateExpression(Sum(a: AttributeReference, _), Complete, false, None, _) =>
          ne -> SumOut(a.name)
        case _ => return None
      }
    }
    val base = MaterializedView.registrations(store).collectFirst {
      case (mv, baseT, dfn)
          if store.exists(baseT) && store.dataDirPaths(baseT) == paths &&
            // staleness fence: the view records the base-manifest name
            // it was last maintained against; ANY base write that
            // bypassed maintenance (raw txn, compaction, migrate) moved
            // the name, and a mismatched (or missing) watermark must
            // fall back to the base scan — never a stale answer
            store.tableProps(mv).get(MaterializedView.BaseManifestProp)
              .exists(w => store.currentManifestName(baseT).contains(w)) &&
            groupNames.forall(dfn.keys.contains) &&
            outs.forall {
              case (_, SumOut(c)) => dfn.sums.exists(_._2.trim == c)
              case _ => true
            } => (mv, dfn)
    }.getOrElse(return None)
    val (mvTable, dfn) = base
    val mvPlan = store.read(mvTable).queryExecution.analyzed
    def mvAttr(name: String): AttributeReference =
      mvPlan.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }.getOrElse(throw new IllegalStateException(
        s"mv $mvTable missing column $name"))
    val newGroup = groupNames.map(mvAttr)
    def sumOf(a: AttributeReference): AggregateExpression =
      AggregateExpression(Sum(a), Complete, isDistinct = false)
    val newAe: Seq[NamedExpression] = outs.map {
      case (ne, GroupOut(n)) =>
        Alias(mvAttr(n), ne.name)(exprId = ne.exprId)
      case (ne, CountOut) =>
        // coalesce matches count's semantics AND nullability: a global
        // (no-group) count over an emptied base is 0, not NULL — and
        // non-nullable like the count it replaces
        Alias(Coalesce(Seq(sumOf(mvAttr("n_rows")), Literal(0L))),
          ne.name)(exprId = ne.exprId)
      case (ne, SumOut(c)) =>
        val sumName = dfn.sums.find(_._2.trim == c).get._1
        Alias(sumOf(mvAttr(sumName)), ne.name)(exprId = ne.exprId)
    }
    // type preservation: a sum-of-sum that widens (decimal) or a
    // non-nullable→nullable flip must not silently replace the original
    if (ae.zip(newAe).exists { case (o, n) =>
        o.dataType != n.dataType || (!o.nullable && n.nullable) })
      return None
    Some(Aggregate(newGroup, newAe, mvPlan))
  }
}

object MvRewrite extends StoreRules[MvRewrite](new MvRewrite(_, _))
