package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, Expression, IsNotNull, NamedExpression}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.store.{CheckConstraints, TableStore}

/** FOREIGN-KEY join elimination — the third transparent rewrite next
  * to [[MvRewrite]] (aggregates) and [[JvRewrite]] (join views), and
  * the classic constraint-powered optimization every mature warehouse
  * ships (Oracle/SQL Server "join elimination", Trino's
  * `optimizer.join-elimination`; Paulley & Larson VLDB 1994): an inner
  * equi-join `fact ⋈ dim ON fk = pk` where the dim side contributes
  * ONLY its join key is the identity map on fact when
  *
  *  - a declared FK guarantees every committed fact.fk exists in
  *    dim.pk (the store's FK admission check also rejects NULL fks —
  *    a null never equals anything, so it counts as an orphan —
  *    closing the inner-join row-drop hazard), and
  *  - a declared UNIQUE on dim.pk guarantees at-most-one match, so
  *    the join can't duplicate fact rows,
  *
  * in which case the join, the dim scan, and the shuffle/broadcast
  * they'd cost are all dropped: `Project(fact.* , fk AS pk)`. At
  * 100 TB this erases an entire dimension read per generated query —
  * BI tools and view expansions emit these joins mechanically.
  *
  * Soundness gate: both constraints' validity-watermark chains must
  * reach the tables' CURRENT manifests
  * ([[CheckConstraints.fkEliminationReady]]) — every commit since the
  * last full validation went through admission control. A write that
  * bypassed the checked front door silently degrades to the real join
  * (wrong answers are impossible; missed eliminations are possible
  * until [[CheckConstraints.revalidate]]).
  *
  * Shape gate: the dim side must be a full store-table scan through at
  * most attribute-only projections and `IsNotNull`-on-key guards (the
  * optimizer infers those under every inner equi-join), with output ⊆
  * the pk columns — column pruning has already run, so "output is only
  * the key" IS the no-dim-columns-used test. The fact side may carry
  * arbitrary deterministic Filters (a subset of validated rows still
  * satisfies the FK) over attribute-only projections of the fact scan.
  */
class FkJoinElim(spark: SparkSession, store: TableStore)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!spark.conf.get("spark.graft.fkelim.enabled", "true").toBoolean) plan
    else try plan.transformUp {
      case j @ Join(l, r, Inner, Some(cond), _) =>
        tryElim(j, fact = l, dim = r, cond)
          .orElse(tryElim(j, fact = r, dim = l, cond))
          .getOrElse(j)
    } catch {
      case NonFatal(_) => plan // degrade to no-rewrite, never break
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  private def relPaths(rel: LogicalRelation): Set[String] =
    rel.relation match {
      case hfs: HadoopFsRelation => hfs.location.rootPaths.map(p =>
        java.nio.file.Paths.get(p.toUri.getPath).toAbsolutePath
          .normalize.toString).toSet
      case _ => Set.empty
    }

  /** The store's DELETION-VECTOR visibility plumbing: the `__dv_*`
    * stamp project and the left-anti against the vector set. Both
    * rules' scan walkers traverse exactly this fingerprinted shape —
    * on the FACT side any row removal preserves the FK; on the DIM
    * side it is sound because `restrictDelete` gates every MOR delete
    * (a committed vector can only remove UNreferenced keys, so every
    * validated fact fk still meets a live dim row, and UNIQUE holds on
    * any subset). Arbitrary user anti-joins don't carry the reserved
    * names and stay excluded. */
  private def dvName(n: String): Boolean = n.startsWith("__dv_")
  private def dvStampProject(projList: Seq[NamedExpression]): Boolean =
    projList.forall {
      case _: AttributeReference => true
      case a: Alias => dvName(a.name) && a.deterministic
      case _ => false
    }
  private def dvAntiJoin(j: Join): Boolean = j.joinType == LeftAnti &&
    j.condition.exists(_.references.exists(a => dvName(a.name)))

  /** Root paths of the vector scan under a traversed `__dv_` anti-join
    * — part of table IDENTITY (see [[tableFor]]): a shallow clone
    * shares its source's data dirs, so only the vector set tells a
    * tombstoned clone apart from the validated source. Empty (no
    * HadoopFsRelation leaf) conservatively kills the match. */
  private def dvScanPaths(p: LogicalPlan): Set[String] =
    p.collectLeaves().flatMap {
      case rel: LogicalRelation => relPaths(rel)
      case _ => Set.empty[String]
    }.toSet

  /** Dim side: (full scan paths, vector scan paths, IsNotNull-guarded
    * names), through attribute-only projections (the pruned shape) and
    * the store's deletion-vector visibility shape. */
  private def dimScan(
      child: LogicalPlan): Option[(Set[String], Set[String], Set[String])] =
    child match {
      case rel: LogicalRelation => Some((relPaths(rel), Set.empty, Set.empty))
      case Project(projList, rel) if dvStampProject(projList) =>
        dimScan(rel)
      case j: Join if dvAntiJoin(j) =>
        val dv = dvScanPaths(j.right)
        if (dv.isEmpty) None
        else dimScan(j.left).map { case (p, d, g) => (p, d ++ dv, g) }
      case Filter(cond, rel) =>
        val guarded = splitConjuncts(cond).map {
          case IsNotNull(a: AttributeReference) => a.name
          case _ => return None
        }
        dimScan(rel).map { case (p, d, g) => (p, d, g ++ guarded) }
      case _ => None
    }

  /** Fact side: (scan paths, vector scan paths) through attribute-only
    * projections, ANY deterministic filters (filtering validated rows
    * preserves the FK; nondeterministic predicates could diverge on
    * re-planning), and the deletion-vector shape. */
  private def factScan(child: LogicalPlan): Option[(Set[String], Set[String])] =
    child match {
      case rel: LogicalRelation => Some((relPaths(rel), Set.empty))
      case Project(projList, rel) if dvStampProject(projList) =>
        factScan(rel)
      case j: Join if dvAntiJoin(j) =>
        val dv = dvScanPaths(j.right)
        if (dv.isEmpty) None
        else factScan(j.left).map { case (p, d) => (p, d ++ dv) }
      case Filter(cond, rel) if cond.deterministic => factScan(rel)
      case _ => None
    }

  /** The condition as (factAttr, dimAttr) pairs, or None if any
    * conjunct is not a plain cross-side column equality. */
  private def equiPairs(cond: Expression, fact: LogicalPlan,
      dim: LogicalPlan): Option[Seq[(AttributeReference, AttributeReference)]] =
    cond match {
      case And(a, b) =>
        for (pa <- equiPairs(a, fact, dim); pb <- equiPairs(b, fact, dim))
          yield pa ++ pb
      case EqualTo(x: AttributeReference, y: AttributeReference) =>
        if (fact.outputSet.contains(x) && dim.outputSet.contains(y))
          Some(Seq((x, y)))
        else if (fact.outputSet.contains(y) && dim.outputSet.contains(x))
          Some(Seq((y, x)))
        else None
      case _ => None
    }

  /** Table identity = (data dirs, deletion-vector dirs), both exact.
    * Data dirs alone are ambiguous: [[TableStore.cloneTable]] shares
    * the source's dir set, and a MOR delete diverges visible rows
    * without touching it — matching on the pair guarantees the
    * resolved table has EXACTLY the visible rows the plan scans, so
    * constraints validated on it bind. If several tables carry the
    * identical pair their visible rows are identical too (any
    * divergence rewrites a data dir or appends a vector), so
    * first-match is sound. */
  private def tableFor(paths: Set[String], dvPaths: Set[String]): Option[String] =
    store.tables.find(t =>
      store.dataDirPaths(t) == paths && store.dvDirPaths(t) == dvPaths)

  private def tryElim(j: Join, fact: LogicalPlan, dim: LogicalPlan,
      cond: Expression): Option[LogicalPlan] = {
    val (dimPaths, dimDv, dimGuard) = dimScan(dim).getOrElse(return None)
    val (factPaths, factDv) = factScan(fact).getOrElse(return None)
    if (dimPaths.isEmpty || factPaths.isEmpty) return None
    val pairs = equiPairs(cond, fact, dim).getOrElse(return None)
    if (pairs.isEmpty) return None
    val pkAttrs = pairs.map(_._2)
    // the dim side must contribute NOTHING beyond its key columns
    if (!dim.outputSet.subsetOf(
        org.apache.spark.sql.catalyst.expressions.AttributeSet(pkAttrs)))
      return None
    if (!dimGuard.subsetOf(pkAttrs.map(_.name).toSet)) return None
    // types must agree exactly, and the replacement must not widen
    // nullability (fk values are proven non-null, but downstream
    // nullability reasoning sees the static flag)
    pairs.foreach { case (fk, pk) =>
      if (fk.dataType != pk.dataType || (!pk.nullable && fk.nullable))
        return None
    }
    val factT = tableFor(factPaths, factDv).getOrElse(return None)
    val dimT = tableFor(dimPaths, dimDv).getOrElse(return None)
    if (factT == dimT) return None
    if (!CheckConstraints.fkEliminationReady(store, factT, dimT,
        pairs.map { case (fk, pk) => (fk.name, pk.name) })) return None
    val byPk = pairs.map { case (fk, pk) => pk.exprId -> fk }.toMap
    val newOut: Seq[NamedExpression] = j.output.map { o =>
      byPk.get(o.exprId) match {
        case Some(fk) => Alias(fk, o.name)(exprId = o.exprId)
        case None =>
          if (!fact.outputSet.contains(o)) return None
          o
      }
    }
    Some(Project(newOut, fact))
  }
}

object FkJoinElim extends StoreRules[FkJoinElim](new FkJoinElim(_, _))
