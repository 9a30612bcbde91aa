package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, AttributeSet, NamedExpression}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.store.{CheckConstraints, TableStore}

/** UNIQUE-proven DISTINCT elimination — the fourth transparent rewrite
  * next to [[MvRewrite]], [[JvRewrite]] and [[FkJoinElim]], from the
  * same constraint-optimization family (Paulley & Larson VLDB 1994;
  * "distinct pull-up/elimination" in every mature optimizer): a
  * `SELECT DISTINCT cols…` — by this point in the optimizer a
  * group-only `Aggregate(cols, cols, child)` — is the identity when a
  * declared UNIQUE key of the scanned store table is a SUBSET of
  * `cols`: every row is already its own group. The aggregate AND its
  * hash-exchange are dropped — at 100 TB that erases a full shuffle of
  * the projected data per BI-generated `DISTINCT key…` query.
  *
  * NULL soundness: the store's UNIQUE groups NULL keys (at most one
  * NULL-key row ever validates), matching DISTINCT's null-equality.
  *
  * Soundness gate: the constraint's validity watermark must reach the
  * table's CURRENT manifest ([[CheckConstraints.uniqueDistinctReady]]
  * — every commit since the last validation went through admission
  * control); a bypassing write silently degrades to the real
  * aggregate. Shape gate: grouping and output must be bare attributes
  * (no expressions — `DISTINCT f(key)` is NOT covered by key
  * uniqueness), reached from the scan through attribute-only
  * projections and deterministic filters (a filtered subset of unique
  * rows stays unique). */
class DistinctElim(spark: SparkSession, store: TableStore)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!spark.conf.get("spark.graft.distinctelim.enabled", "true").toBoolean) plan
    else try plan.transformUp {
      case agg: Aggregate => tryElim(agg).getOrElse(agg)
    } catch {
      case NonFatal(_) => plan // degrade to no-rewrite, never break
    }

  private def relPaths(rel: LogicalRelation): Set[String] =
    rel.relation match {
      case hfs: HadoopFsRelation => hfs.location.rootPaths.map(p =>
        java.nio.file.Paths.get(p.toUri.getPath).toAbsolutePath
          .normalize.toString).toSet
      case _ => Set.empty
    }

  /** Scan paths through attribute-only projections, deterministic
    * filters, and the store's DELETION-VECTOR visibility shape — the
    * shapes that preserve per-row uniqueness. A MOR-deleted table
    * reads as scan → stamp-project (`__dv_*` aliases) → left-anti
    * against the vector set; both steps only pass-through or REMOVE
    * rows (a subset of unique rows stays unique), and base columns
    * cross them untouched, so the rewrite must not stand down for
    * pending tombstones. The `__dv_` fingerprint keeps arbitrary user
    * projections/joins excluded — only the store's own plumbing
    * traverses. */
  private def dvName(n: String): Boolean = n.startsWith("__dv_")
  private def scanPaths(child: LogicalPlan): Option[Set[String]] =
    child match {
      case rel: LogicalRelation => Some(relPaths(rel))
      case Project(projList, rel) if projList.forall {
            case _: AttributeReference => true
            case a: Alias => dvName(a.name) && a.deterministic
            case _ => false
          } =>
        scanPaths(rel)
      case Filter(cond, rel) if cond.deterministic => scanPaths(rel)
      case Join(l, _, LeftAnti, cond, _)
          if cond.exists(_.references.exists(a => dvName(a.name))) =>
        scanPaths(l)
      case _ => None
    }

  private def tableFor(paths: Set[String]): Option[String] =
    store.tables.find(t => store.dataDirPaths(t) == paths)

  private def tryElim(agg: Aggregate): Option[LogicalPlan] = {
    // group-only shape: SELECT DISTINCT cols — groupings and outputs
    // are the same bare attributes, no aggregate functions anywhere
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    val outAttrs = agg.aggregateExpressions.map {
      case a: AttributeReference => a
      case _ => return None
    }
    if (groupAttrs.isEmpty) return None
    if (AttributeSet(outAttrs) != AttributeSet(groupAttrs)) return None
    val paths = scanPaths(agg.child).getOrElse(return None)
    if (paths.isEmpty) return None
    val table = tableFor(paths).getOrElse(return None)
    if (!CheckConstraints.uniqueDistinctReady(store, table,
        groupAttrs.map(_.name).toSet)) return None
    Some(Project(agg.aggregateExpressions.asInstanceOf[Seq[NamedExpression]],
      agg.child))
  }
}

object DistinctElim extends StoreRules[DistinctElim](new DistinctElim(_, _))
