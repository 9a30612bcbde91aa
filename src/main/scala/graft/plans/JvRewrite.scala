package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, IsNotNull, NamedExpression}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.store.{JoinViews, TableStore}

/** Transparent JOIN-view rewrite — the join-side complement of
  * [[MvRewrite]] (view answering, Blakeley et al. SIGMOD 1986 /
  * Goldstein & Larson SIGMOD 2001 §3: a query subsumed by a
  * materialized join is served from it): any INNER equi-join whose two
  * sides are FULL scans of a registered join view's base tables, joined
  * on exactly the registered keys, is redirected to the maintained view
  * — replacing the query-time shuffle-join of two big relations with
  * one scan of the pre-joined result.
  *
  * A rewrite fires only when ALL of:
  *  - both join children are full store-table scans (root paths equal
  *    [[TableStore.dataDirPaths]] exactly, through at most an
  *    attribute-only projection) — a pruned/filtered side never
  *    matches, so a selective join keeps its pushed-down scan;
  *  - the condition is a conjunction of column equalities pairing each
  *    registered key with itself (the registration invariant: keys
  *    share names across sides), covering the key set exactly;
  *  - BOTH base watermarks stamped on the view match the bases'
  *    CURRENT manifests ([[JoinViews.isFresh]] — a write that bypassed
  *    maintenance stands the rewrite down, stale views can exist but
  *    stale ANSWERS cannot);
  *  - per-attribute type equality with no nullable flip.
  *
  * Output attributes are re-aliased under the ORIGINAL exprIds; the
  * inner equi-join guarantees both sides' key copies are equal, so the
  * view's single key column serves both (a `USING`-style join's
  * coalesce-project above stays valid untouched).
  *
  * Self-reference safety: maintenance-internal joins read the txn's
  * PENDING manifests while this rule compares against COMMITTED dirs —
  * a base being rewritten in-txn never path-matches, so the rule cannot
  * feed a view its own rebuild.
  */
class JvRewrite(spark: SparkSession, store: TableStore)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    try plan.transformUp {
      case j @ Join(l, r, Inner, Some(cond), _) =>
        tryRewrite(j, l, r, cond).getOrElse(j)
    } catch {
      case NonFatal(_) => plan // degrade to no-rewrite, never break
    }

  /** The child's (relation root paths, names guarded by IsNotNull) if
    * it is a full-relation read through at most attribute-only
    * projections and `IsNotNull` filters. The optimizer infers
    * not-null guards on join keys below every inner equi-join
    * (InferFiltersFromConstraints) before this rule runs; they are
    * implied by the join itself — the materialized view holds no
    * null-key rows — so a scan under them is still "full" PROVIDED
    * every guarded name is a join key (the caller checks). */
  private def scanPaths(child: LogicalPlan): Option[(Set[String], Set[String])] =
    child match {
      case LogicalRelation(hfs: HadoopFsRelation, _, _, _, _) =>
        Some((hfs.location.rootPaths.map(p =>
          java.nio.file.Paths.get(p.toUri.getPath).toAbsolutePath
            .normalize.toString).toSet, Set.empty))
      case Project(projList, rel)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        scanPaths(rel)
      case Filter(cond, rel) =>
        val guarded = splitConjuncts(cond).map {
          case IsNotNull(a: AttributeReference) => a.name
          case _ => return None
        }
        scanPaths(rel).map { case (p, g) => (p, g ++ guarded) }
      case _ => None
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** The condition as (leftName, rightName) equi-pairs, or None if any
    * conjunct is not a plain cross-side column equality. */
  private def equiPairs(cond: Expression, l: LogicalPlan,
      r: LogicalPlan): Option[Seq[(String, String)]] = cond match {
    case And(a, b) =>
      for (pa <- equiPairs(a, l, r); pb <- equiPairs(b, l, r)) yield pa ++ pb
    case EqualTo(x: AttributeReference, y: AttributeReference) =>
      val (lSet, rSet) = (l.outputSet, r.outputSet)
      if (lSet.contains(x) && rSet.contains(y)) Some(Seq((x.name, y.name)))
      else if (lSet.contains(y) && rSet.contains(x)) Some(Seq((y.name, x.name)))
      else None
    case _ => None
  }

  private def tryRewrite(j: Join, l: LogicalPlan, r: LogicalPlan,
      cond: Expression): Option[LogicalPlan] = {
    val (lPaths, lGuard) = scanPaths(l).getOrElse(return None)
    val (rPaths, rGuard) = scanPaths(r).getOrElse(return None)
    if (lPaths.isEmpty || rPaths.isEmpty) return None
    val pairs = equiPairs(cond, l, r).getOrElse(return None)
    // registration invariant: keys share names across sides
    if (pairs.exists { case (a, b) => a != b }) return None
    val keyNames = pairs.map(_._1).toSet
    // IsNotNull guards are only implied by the join for its OWN keys
    if (!(lGuard ++ rGuard).subsetOf(keyNames)) return None
    val hit = JoinViews.registrations(store).collectFirst {
      case (mv, d)
          if store.exists(d.left) && store.exists(d.right) &&
            store.dataDirPaths(d.left) == lPaths &&
            store.dataDirPaths(d.right) == rPaths &&
            d.keys.toSet == keyNames &&
            JoinViews.isFresh(store, mv) => mv
    }.getOrElse(return None)
    val mvPlan = store.read(hit).queryExecution.analyzed
    def mvAttr(name: String): Option[AttributeReference] =
      mvPlan.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }
    // every join output column must exist in the view (keys appear
    // once there and serve BOTH sides' copies)
    val newOut: Seq[NamedExpression] = j.output.map { o =>
      val v = mvAttr(o.name).getOrElse(return None)
      if (o.dataType != v.dataType || (!o.nullable && v.nullable)) return None
      Alias(v, o.name)(exprId = o.exprId)
    }
    Some(Project(newOut, mvPlan))
  }
}

object JvRewrite extends StoreRules[JvRewrite](new JvRewrite(_, _))
