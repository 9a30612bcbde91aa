package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, Or, PredicateHelper, StartsWith}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, IntegralType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.store.{AutoSkipProbe, TableStore}

/** TRANSPARENT manifest data skipping on the normal read path: any
  * `Filter` sitting directly on a parquet scan of store-managed dirs
  * is probed against the table's Bloom / zone-map stamps, and the
  * scan's file roots are narrowed to the dirs the stamps keep — no
  * `readEquals` / `readRange` call, no special API. This is the
  * reference's intended index posture (`Kernel/README.md:62-74`:
  * indexes are DECLARED on relations and serve queries without being
  * named), delivered the Spark-native way — a `Rule[LogicalPlan]` in
  * the operator-optimization batch, so it composes with Catalyst's
  * own pushdown: by the time the rule fires, PushDownPredicates has
  * already moved every eligible conjunct onto the scan, including
  * through the projections a HeroQL atom-with-bound-args plan builds.
  *
  * Soundness is local and unconditional: the conjuncts examined are
  * exactly the filter Catalyst placed above THIS scan, so a dropped
  * dir contains only rows that filter rejects (Bloom filters have no
  * false negatives; zone intervals prune on disjointness; every
  * unstamped dir is kept; pending schema ops disable the probe —
  * see [[graft.store.AutoSkipProbe]]). The filter itself always
  * re-applies on top, so a stamp bug could only over-read. Anything
  * ABOVE the filter (deletion-vector anti-joins, MOR merges) only
  * removes more rows and is untouched.
  *
  * Scale: the probe is driver-side manifest math (key hashes are
  * folded literals evaluated on the driver; no job runs), and the
  * win is the same as the explicit APIs': whole commits pruned
  * before a single file of them is listed — at 100 TB the listing
  * alone dominates an unpruned point query. Re-probe churn inside
  * the optimizer's fixed point is suppressed by tagging the relation
  * with the condition it was last probed under.
  *
  * Install per session via [[AutoSkip.install]] (specs, embedded) or
  * cluster-wide through [[graft.GraftExtensions]] +
  * `spark.graft.store.root` ([[StoreRules.configured]]). Kill switch:
  * `spark.graft.autoskip.enabled=false`.
  */
class AutoSkip(spark: SparkSession, store: TableStore)
    extends Rule[LogicalPlan] with PredicateHelper {
  import AutoSkip._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!spark.conf.get("spark.graft.autoskip.enabled", "true").toBoolean) plan
    else try plan.transformUp {
      case f @ Filter(cond,
          lr @ LogicalRelation(hfs: HadoopFsRelation, _, _, _, _))
          if !lr.getTagValue(ProbedTag).contains(cond.toString) =>
        lr.setTagValue(ProbedTag, cond.toString)
        tryPrune(cond, lr, hfs).getOrElse(f)
    } catch {
      // a dead store (temp dir vacated under a long-lived session)
      // must degrade to no-prune, never break unrelated queries
      case NonFatal(_) => plan
    }

  /** Narrow the scan to stamp-kept dirs, if every root path is a
    * store-managed data dir and at least one conjunct is probeable. */
  private def tryPrune(cond: Expression, lr: LogicalRelation,
      hfs: HadoopFsRelation): Option[LogicalPlan] = {
    val rootAbs = java.nio.file.Paths.get(store.root)
      .toAbsolutePath.normalize
    val roots = hfs.location.rootPaths
    if (roots.isEmpty) return None
    // each path must be <storeRoot>/<table>/<dir>; refs in a manifest
    // may point into ANOTHER table's dirs (shallow clone), so paths
    // are grouped per owning table and probed against that table's
    // manifest — its stamps describe those immutable bytes
    val parsed: Seq[(org.apache.hadoop.fs.Path, String, String)] =
      roots.map { p =>
        val pa = java.nio.file.Paths.get(p.toUri.getPath)
          .toAbsolutePath.normalize
        if (!pa.startsWith(rootAbs)) return None
        val rel = rootAbs.relativize(pa)
        if (rel.getNameCount != 2) return None
        (p, rel.getName(0).toString, rel.getName(1).toString)
      }
    val (points, ranges, sranges, tranges, dranges) = extract(cond, lr)
    if (points.isEmpty && ranges.isEmpty && sranges.isEmpty &&
        tranges.isEmpty && dranges.isEmpty) return None
    val keptPaths = parsed.groupBy(_._2).toSeq.flatMap { case (table, ps) =>
      AutoSkipProbe.keptSubset(store, table, ps.map(_._3), points, ranges,
        sranges, tranges, dranges)
        match {
          case None => ps.map(_._1) // schema ops: keep this table whole
          case Some(kept) =>
            val keep = kept.toSet
            ps.collect { case (p, _, d) if keep(d) => p }
        }
    }
    if (keptPaths.size == roots.size) None
    else if (keptPaths.isEmpty)
      // every dir pruned: the scan is provably empty
      Some(Filter(cond, LocalRelation(lr.output)))
    else if (hfs.partitionSchema.nonEmpty)
      // UNREACHABLE for store-managed reads, kept as defense in depth:
      // partitioned store reads are one discovery root per relation
      // (TableStore.readDirs unions per-dir legs — Spark's partition
      // discovery rejects sibling roots), so roots.size == 1 and a
      // PROPER subset cannot occur — kept-whole is the size-equal
      // branch above, kept-empty the LocalRelation branch. That is
      // exactly how non-partition-column stamps serve the fp-bucketed
      // corpus layout (st5b's shape) transparently: each union leg
      // prunes all-or-nothing, partition pruning inside surviving legs
      // is Spark's own (AutoSkipSpec "partitioned store" pins both).
      // Only a hand-built multi-root partitioned scan could land here,
      // and rebuilding ITS index would need basePath guessing — refuse.
      None
    else {
      val idx = new InMemoryFileIndex(spark, keptPaths,
        hfs.options, Some(hfs.dataSchema))
      val newLr = lr.copy(relation = hfs.copy(location = idx)(spark))
      newLr.setTagValue(ProbedTag, cond.toString)
      Some(Filter(cond, newLr))
    }
  }

  /** The probeable conjuncts of `cond`: equality / IN → point keys
    * (Long via the BIGINT-cast hash contract, String via the raw
    * hash), comparisons → inclusive BIGINT ranges on integral columns
    * and byte-space intervals on string columns (LIKE \'p%\' arrives as
    * StartsWith after LikeSimplification → the interval
    * [p, prefixUpper(p))). Anything else is ignored (it still applies
    * in the retained Filter). */
  private def extract(cond: Expression, lr: LogicalRelation)
      : (Seq[(String, Seq[Any])], Seq[(String, Long, Long)],
         Seq[AutoSkipProbe.SRange], Seq[(String, Long, Long)],
         Seq[(String, Long, Long)]) = {
    val points = Seq.newBuilder[(String, Seq[Any])]
    val ranges = Seq.newBuilder[(String, Long, Long)]
    val sranges = Seq.newBuilder[AutoSkipProbe.SRange]
    // tagged long-space intervals: epoch-micros (t64 timestamp stamps)
    // and IEEE-754 total-order bits (d64 double stamps)
    val tranges = Seq.newBuilder[(String, Long, Long)]
    val dranges = Seq.newBuilder[(String, Long, Long)]
    // one inclusive/exclusive bound in a tagged long space; both
    // encodings are monotone BIJECTIONS onto contiguous longs over
    // their value domain, so a strict bound is ±1 in encoded space
    // (with the MinValue/MaxValue no-op guards the integral ranges use)
    def bound(b: scala.collection.mutable.Builder[(String, Long, Long), Seq[(String, Long, Long)]],
        k: Option[(String, Long)], lo: Boolean, incl: Boolean): Unit =
      k.foreach { case (c, v) =>
        if (lo) {
          if (incl) b += ((c, v, Long.MaxValue))
          else if (v != Long.MaxValue) b += ((c, v + 1, Long.MaxValue))
        } else {
          if (incl) b += ((c, Long.MinValue, v))
          else if (v != Long.MinValue) b += ((c, Long.MinValue, v - 1))
        }
      }
    def numBand(a: Expression, l: Literal, lo: Boolean, incl: Boolean): Unit = {
      bound(tranges, tsKey(a, l), lo, incl)
      bound(dranges, dblKey(a, l), lo, incl)
    }
    def utf8(l: Literal): Option[Array[Byte]] = l.value match {
      case u: UTF8String => Some(u.getBytes)
      case s: String => Some(s.getBytes("UTF-8"))
      case _ => None
    }
    def strAttr(e: Expression): Option[String] = e match {
      case a: AttributeReference if a.dataType == StringType => Some(a.name)
      case _ => None
    }
    def sband(a: Expression, l: Literal,
        lo: Boolean, incl: Boolean): Unit =
      for { c <- strAttr(a); bs <- utf8(l) }
        sranges += (if (lo) AutoSkipProbe.SRange(c, Some(bs), incl, None, true)
                    else AutoSkipProbe.SRange(c, None, true, Some(bs), incl))
    splitConjunctivePredicates(cond).foreach {
      // string equality also states the degenerate zone interval
      // [x, x] — ordered string ingest prunes on it even when the
      // table has no Bloom stamps (both conjuncts must keep)
      case EqualTo(a, l: Literal) =>
        point(a, l, points, ranges)
        sband(a, l, lo = true, incl = true); sband(a, l, lo = false, incl = true)
        numBand(a, l, lo = true, incl = true); numBand(a, l, lo = false, incl = true)
      case EqualTo(l: Literal, a) =>
        point(a, l, points, ranges)
        sband(a, l, lo = true, incl = true); sband(a, l, lo = false, incl = true)
        numBand(a, l, lo = true, incl = true); numBand(a, l, lo = false, incl = true)
      case EqualNullSafe(a, l: Literal) if l.value != null =>
        point(a, l, points, ranges)
        sband(a, l, lo = true, incl = true); sband(a, l, lo = false, incl = true)
        numBand(a, l, lo = true, incl = true); numBand(a, l, lo = false, incl = true)
      case EqualNullSafe(l: Literal, a) if l.value != null =>
        point(a, l, points, ranges)
        sband(a, l, lo = true, incl = true); sband(a, l, lo = false, incl = true)
        numBand(a, l, lo = true, incl = true); numBand(a, l, lo = false, incl = true)
      case In(a, elems) if elems.forall(_.isInstanceOf[Literal]) =>
        inList(a, elems.map(_.asInstanceOf[Literal].value), points)
      case InSet(a, hset) => inList(a, hset.toSeq, points)
      case GreaterThanOrEqual(a, l: Literal) =>
        longKey(a, l).foreach { case (c, v) => ranges += ((c, v, Long.MaxValue)) }
        sband(a, l, lo = true, incl = true)
        numBand(a, l, lo = true, incl = true)
      case GreaterThan(a, l: Literal) =>
        longKey(a, l).filter(_._2 != Long.MaxValue)
          .foreach { case (c, v) => ranges += ((c, v + 1, Long.MaxValue)) }
        sband(a, l, lo = true, incl = false)
        numBand(a, l, lo = true, incl = false)
      case LessThanOrEqual(a, l: Literal) =>
        longKey(a, l).foreach { case (c, v) => ranges += ((c, Long.MinValue, v)) }
        sband(a, l, lo = false, incl = true)
        numBand(a, l, lo = false, incl = true)
      case LessThan(a, l: Literal) =>
        longKey(a, l).filter(_._2 != Long.MinValue)
          .foreach { case (c, v) => ranges += ((c, Long.MinValue, v - 1)) }
        sband(a, l, lo = false, incl = false)
        numBand(a, l, lo = false, incl = false)
      // mirrored literal-first comparisons: k OP col
      case GreaterThanOrEqual(l: Literal, a) =>
        longKey(a, l).foreach { case (c, v) => ranges += ((c, Long.MinValue, v)) }
        sband(a, l, lo = false, incl = true)
        numBand(a, l, lo = false, incl = true)
      case GreaterThan(l: Literal, a) =>
        longKey(a, l).filter(_._2 != Long.MinValue)
          .foreach { case (c, v) => ranges += ((c, Long.MinValue, v - 1)) }
        sband(a, l, lo = false, incl = false)
        numBand(a, l, lo = false, incl = false)
      case LessThanOrEqual(l: Literal, a) =>
        longKey(a, l).foreach { case (c, v) => ranges += ((c, v, Long.MaxValue)) }
        sband(a, l, lo = true, incl = true)
        numBand(a, l, lo = true, incl = true)
      case LessThan(l: Literal, a) =>
        longKey(a, l).filter(_._2 != Long.MaxValue)
          .foreach { case (c, v) => ranges += ((c, v + 1, Long.MaxValue)) }
        sband(a, l, lo = true, incl = false)
        numBand(a, l, lo = true, incl = false)
      case StartsWith(a, l: Literal) =>
        for { c <- strAttr(a); p <- utf8(l) }
          sranges += AutoSkipProbe.SRange(c, Some(p), true,
            graft.store.ZoneMaps.prefixUpper(p), false)
      // a disjunction whose EVERY branch is a point probe on the SAME
      // column is an IN-list (`k = 1 OR k = 7 OR k IN (9, 11)` — the
      // hand-written form of the multi-key lookup): the points seq
      // already carries union-of-keys semantics (Bloom keeps on ANY
      // key, zone on ANY degenerate interval), so the normalized list
      // drops in directly. Mixed-column or non-point branches refuse
      // conservatively — a disjunct the stamps can't see could match
      // rows in any dir.
      case o: Or => orPoints(o).foreach(points += _)
      case _ => ()
    }
    (points.result(), ranges.result(), sranges.result(),
      tranges.result(), dranges.result())
  }

  /** The (column, keys) of a disjunction iff every branch is an
    * equality / IN on ONE shared column — the IN-list normalization.
    * None (probe nothing) when any branch is not a point probe or the
    * branches name different columns. */
  private def orPoints(o: Or): Option[(String, Seq[Any])] = {
    val keyed: Seq[Option[(String, Seq[Any])]] =
      splitDisjunctivePredicates(o).map {
        case EqualTo(a, l: Literal) => pointKeys(a, l)
        case EqualTo(l: Literal, a) => pointKeys(a, l)
        case EqualNullSafe(a, l: Literal) if l.value != null => pointKeys(a, l)
        case EqualNullSafe(l: Literal, a) if l.value != null => pointKeys(a, l)
        case In(a, elems) if elems.forall(_.isInstanceOf[Literal]) =>
          listKeys(a, elems.map(_.asInstanceOf[Literal].value))
        case InSet(a, hset) => listKeys(a, hset.toSeq)
        case _ => None
      }
    if (keyed.exists(_.isEmpty)) return None
    val flat = keyed.flatten
    flat.map(_._1).distinct match {
      case Seq(c) => Some((c, flat.flatMap(_._2)))
      case _ => None // mixed-column OR: refuse conservatively
    }
  }

  private def pointKeys(a: Expression, l: Literal): Option[(String, Seq[Any])] =
    longKey(a, l).map { case (c, v) => (c, Seq[Any](v)) }
      .orElse(stringKey(a, l).map { case (c, s) => (c, Seq[Any](s)) })

  private def listKeys(a: Expression, values: Seq[Any]): Option[(String, Seq[Any])] = {
    if (values.exists(_ == null)) return None
    numericAttr(a) match {
      case Some(c) =>
        val longs = values.map {
          case n: java.lang.Number => n.longValue()
          case _ => return None
        }
        Some((c, longs))
      case None => a match {
        case attr: AttributeReference if attr.dataType == StringType =>
          val strs = values.map {
            case u: UTF8String => u.toString
            case s: String => s
            case _ => return None
          }
          Some((attr.name, strs))
        case _ => None
      }
    }
  }

  private def point(a: Expression, l: Literal,
      points: scala.collection.mutable.Builder[(String, Seq[Any]), Seq[(String, Seq[Any])]],
      ranges: scala.collection.mutable.Builder[(String, Long, Long), Seq[(String, Long, Long)]])
      : Unit =
    longKey(a, l) match {
      case Some((c, v)) =>
        points += ((c, Seq(v)))
        ranges += ((c, v, v)) // zone maps prune numeric points too
      case None => stringKey(a, l).foreach { case (c, s) =>
        points += ((c, Seq(s)))
      }
    }

  private def inList(a: Expression, values: Seq[Any],
      points: scala.collection.mutable.Builder[(String, Seq[Any]), Seq[(String, Seq[Any])]])
      : Unit = {
    if (values.exists(v => v == null)) return
    numericAttr(a) match {
      case Some(c) =>
        val longs = values.map {
          case n: java.lang.Number => n.longValue()
          case _ => return
        }
        points += ((c, longs))
      case None => a match {
        case attr: AttributeReference if attr.dataType == StringType =>
          val strs = values.map {
            case u: UTF8String => u.toString
            case s: String => s
            case _ => return
          }
          points += ((attr.name, strs))
        case _ => ()
      }
    }
  }

  /** (column, key) when `a` is an integral column (through at most
    * widening integral casts — the analyzer's comparison coercion)
    * and `l` an integral literal. The stamp hashed CAST(col AS
    * BIGINT) values, so the probe key is the literal's long value. */
  private def longKey(a: Expression, l: Literal): Option[(String, Long)] =
    numericAttr(a).flatMap { c =>
      l.value match {
        case n: java.lang.Byte => Some((c, n.longValue()))
        case n: java.lang.Short => Some((c, n.longValue()))
        case n: java.lang.Integer => Some((c, n.longValue()))
        case n: java.lang.Long => Some((c, n.longValue()))
        case _ => None
      }
    }

  /** (column, epoch micros) when `a` is a TIMESTAMP column and `l` a
    * timestamp literal — Catalyst stores TimestampType literal values
    * as Long micros, exactly the `t64` stamp space. */
  private def tsKey(a: Expression, l: Literal): Option[(String, Long)] =
    a match {
      case attr: AttributeReference if attr.dataType == TimestampType =>
        (l.value, l.dataType) match {
          case (n: java.lang.Long, TimestampType) => Some((attr.name, n.longValue()))
          case _ => None
        }
      case _ => None
    }

  /** (column, total-order bits) when `a` is a double/float column
    * (through the WIDENING float→double comparison cast — exact, every
    * float is a double) and `l` a non-NaN floating literal. NaN
    * literals are skipped: kept conservatively, the exact filter
    * decides. */
  private def dblKey(a: Expression, l: Literal): Option[(String, Long)] =
    dblAttr(a).flatMap { c =>
      val v: Option[Double] = l.value match {
        case d: java.lang.Double => Some(d.doubleValue())
        case f: java.lang.Float => Some(f.floatValue().toDouble)
        case _ => None
      }
      v.filterNot(_.isNaN)
        .map(d => (c, graft.store.ZoneMaps.sortableDoubleBits(d)))
    }

  private def dblAttr(e: Expression): Option[String] = e match {
    case a: AttributeReference
        if a.dataType == DoubleType || a.dataType == FloatType => Some(a.name)
    case c: Cast if c.dataType == DoubleType && c.child.dataType == FloatType =>
      dblAttr(c.child)
    case _ => None
  }

  private def stringKey(a: Expression, l: Literal): Option[(String, String)] =
    a match {
      case attr: AttributeReference if attr.dataType == StringType =>
        l.value match {
          case u: UTF8String => Some((attr.name, u.toString))
          case s: String => Some((attr.name, s))
          case _ => None
        }
      case _ => None
    }

  /** The integral column under at most WIDENING integral casts — a
    * narrowing cast can wrap distinct values together and must not
    * drive pruning. */
  private def numericAttr(e: Expression): Option[String] = e match {
    case a: AttributeReference if intWidth(a.dataType) > 0 => Some(a.name)
    case c: Cast if widens(c.child.dataType, c.dataType) =>
      numericAttr(c.child)
    case _ => None
  }

  private def intWidth(dt: DataType): Int = dt match {
    case org.apache.spark.sql.types.ByteType => 1
    case org.apache.spark.sql.types.ShortType => 2
    case org.apache.spark.sql.types.IntegerType => 4
    case LongType => 8
    case _ => 0
  }

  private def widens(from: DataType, to: DataType): Boolean = {
    val f = intWidth(from); val t = intWidth(to)
    f > 0 && t >= f
  }
}

object AutoSkip extends StoreRules[AutoSkip](new AutoSkip(_, _)) {
  /** The condition a relation was last probed under — suppresses
    * redundant manifest reads across the optimizer's fixed-point
    * iterations (a changed condition re-probes). */
  private[plans] val ProbedTag =
    new TreeNodeTag[String]("graftAutoSkipProbed")
}
