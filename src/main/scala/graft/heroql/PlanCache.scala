package graft.heroql

import java.lang.ref.WeakReference
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.graft.JobCount
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.graft.PlanFrames

/** Analyzed HeroQL plans, reused while their input files are unchanged.
  * [[HeroQL.compile]] states the contract: what the key holds, how a hit
  * is validated and what is never cached. */
private[graft] object PlanCache {
  /** Entries kept, least recently used dropped first. An entry is one
    * analyzed plan and the file indexes that plan already references. */
  private val MaxEntries = 64

  /** A session compared by identity and held weakly. */
  private final class SessionRef(s: SparkSession) {
    private val ref = new WeakReference(s)
    private val hash = System.identityHashCode(s)
    def get: SparkSession = ref.get
    override def hashCode: Int = hash
    override def equals(o: Any): Boolean = o match {
      case r: SessionRef => val s = ref.get; s != null && (s eq r.get)
      case _ => false
    }
  }

  private final case class Key(session: SessionRef, program: String, target: String,
      catalogId: String, conf: Map[String, String])

  /** An analyzed plan and the file indexes of its scans. */
  private final case class Entry(plan: LogicalPlan, scans: Seq[InMemoryFileIndex])

  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean =
      size() > MaxEntries
  }
  private val hitCount = new AtomicLong
  private val missCount = new AtomicLong

  /** Compiles of a catalog with an id that were served from the cache. */
  def hits: Long = hitCount.get
  /** Compiles of a catalog with an id that ran the planner. */
  def misses: Long = missCount.get
  def clear(): Unit = entries.synchronized(entries.clear())

  /** The cached plan of `target` (a query name or collection-query text)
    * in `program` over `catalog`, or `compile`'s result, cached when it
    * may be reused. */
  def apply(spark: SparkSession, program: String, target: String, catalog: Catalog)(
      compile: => DataFrame): DataFrame = catalog.id match {
    case None => compile
    case Some(id) =>
      val key = Key(new SessionRef(spark), program, target, id, spark.conf.getAll)
      val cached = entries.synchronized(Option(entries.get(key)))
      if (cached.exists(unchanged(spark, _))) {
        hitCount.incrementAndGet()
        PlanFrames.of(spark, cached.get.plan.clone())
      } else {
        missCount.incrementAndGet()
        if (cached.nonEmpty) entries.synchronized(entries.remove(key))
        val sc = spark.sparkContext
        val jobs = JobCount.submitted(sc)
        val df = compile
        if (JobCount.submitted(sc) == jobs) {
          val plan = df.queryExecution.analyzed
          fileScans(plan).foreach(scans => put(key, Entry(plan.clone(), scans)))
        }
        df
      }
  }

  private def put(key: Key, e: Entry): Unit = entries.synchronized {
    entries.keySet.removeIf { k =>
      val s = k.session.get
      s == null || s.sparkContext.isStopped
    }
    entries.put(key, e)
  }

  private object FileScan {
    def unapply(leaf: LogicalPlan): Option[InMemoryFileIndex] = leaf match {
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case r: HadoopFsRelation => r.location match {
          case ix: InMemoryFileIndex => Some(ix)
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
  }

  /** The file indexes of `plan`'s scans, or None when some leaf (in a
    * subquery too) is not a file scan, `Range` or `OneRowRelation`. */
  private def fileScans(plan: LogicalPlan): Option[Seq[InMemoryFileIndex]] = {
    val leaves = plan.collectWithSubqueries { case l: LeafNode => l: LogicalPlan }
    val cacheable = leaves.forall {
      case _: Range | _: OneRowRelation | FileScan(_) => true
      case _ => false
    }
    if (cacheable) Some(leaves.collect { case FileScan(ix) => ix }) else None
  }

  /** True when every scan's root paths still list exactly the files, with
    * the lengths and mtimes, that its index holds. */
  private def unchanged(spark: SparkSession, e: Entry): Boolean = scala.util.Try {
    val conf = spark.sessionState.newHadoopConf()
    e.scans.forall { ix =>
      val listed = ix.rootPaths
        .flatMap(p => graft.Tables.listing(p.getFileSystem(conf), p)).distinct.sorted
      val held = ix.allFiles()
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
      listed == held
    }
  }.getOrElse(false)
}
