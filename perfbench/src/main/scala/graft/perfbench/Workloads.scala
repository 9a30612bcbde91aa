package graft.perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.types.StructType

import graft.heroql.HeroQL
import graft.store.{TableStore, ZoneMaps}

/** What one op execution hands back for the untimed checks after it. */
final case class Done(rows: Array[Row] = Array.empty, schema: StructType = new StructType(),
    check: () => Option[String] = () => None)

/** One operation the closed loop issues. `kind` is "query", "read",
  * "write" or "background"; `run` is the timed body. */
final case class Op(cls: String, kind: String, run: () => Done)

/** Everything an op needs: the current session, the inputs and the tracer. */
final class Ctx(val data: String, val runDir: String, val tracer: Tracer) {
  var spark: SparkSession = _

  /** Build, plan and fully consume one query, each step a span. */
  def query(build: => DataFrame, buildSpan: String = "queries.build"): Done = {
    val df = tracer.span(buildSpan)(build)
    if (tracer.on) {
      tracer.span("catalyst.optimize")(df.queryExecution.optimizedPlan)
      tracer.span("catalyst.physical")(df.queryExecution.executedPlan)
    }
    // collect() materializes every output column; count() would let
    // Catalyst prune the projected work away
    Done(tracer.span("exec")(df.collect()), df.schema)
  }
}

/** A workload: a set-up the harness times, and an endless
  * seeded schedule of passes, each pass a fixed multiset of ops. */
trait Workload {
  def name: String
  /** Extra session conf for this workload. */
  def conf(ctx: Ctx): Map[String, String] = Map.empty
  /** The workload's set-up against the new session (counted in setup_s). */
  def setUp(ctx: Ctx): Unit = ()
  /** Timed passes a run measures at least, whatever `--seconds` says. */
  def minPasses: Int
  /** The HeroQL program of each HeroQL op in one pass. */
  def heroqlPrograms: Seq[String] = Nil
  /** The ops of one pass, in this pass's order. */
  def pass(ctx: Ctx, rng: Random): Seq[Op]
  /** Untimed end-of-run checks; each message is one failed check. */
  def finish(ctx: Ctx): Seq[String] = Nil
  /** Called once between the warm-up and the timed window. */
  def startWindow(ctx: Ctx): Unit = ()
  /** Per-layer figures only this workload has, for the traced run. */
  def layerMetrics(ctx: Ctx, timed: Seq[Sample], passes: Int): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String): Workload = name match {
    case "olap-mix" => new QueryWorkload("olap-mix", OlapMix, minPasses = 3)
    case "heavy-ops" => new QueryWorkload("heavy-ops", HeavyOps, minPasses = 4)
    case "store-mixed" => new StoreMixed
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Short headline queries plus three HeroQL queries: per-query fixed
    * cost (scans, HeroQL compile, Catalyst, job scheduling) dominates.
    * A subset of the headline set: the cold warm-up pass and three timed
    * passes must fit one run's time budget. */
  val OlapMix: Seq[String] = Seq(
    "s1_scan_filter", "a2_group_multi_agg", "j1_conjunctive_join", "w5_frames_lead_lag",
    "hq4_union_rule", "hq5_join_rule", "hq9_func_cases")

  /** Iterative operators: Fixpoint, GraphOps, MinHashLSH, RangeCount and
    * the EventStreams drain do most of the work, largely as eager jobs
    * while the plan is built. dd14c is left out: one execution takes
    * 6-9 s here, so a run could not hold the four timed passes. */
  val HeavyOps: Seq[String] = Seq(
    "g1_transitive_closure", "g3_pagerank", "dd3_minhash_lsh",
    "j12b_range_count", "st19_stream_kmv_distinct")

  /** Every op class of every workload, so each run reports them all. */
  def allClasses: Seq[String] = OlapMix ++ HeavyOps ++ StoreMixed.Classes
}

/** Queries from `graft.SparkEntry`, one execution of each per pass. */
final class QueryWorkload(val name: String, names: Seq[String], val minPasses: Int)
    extends Workload {
  private val heroQueries = graft.queries.HeroQueries.queries.keySet

  private def builder(q: String): (SparkSession, String) => DataFrame = q match {
    // the production LSH path, as graft.Bench times it (the gate's md5
    // twin exists only so DuckDB can check it)
    case "dd3_minhash_lsh" => graft.queries.Dedup.dd3Production
    case _ => graft.SparkEntry.queries(q)
  }

  // a HeroQL query's builder parses and compiles the program, so its
  // span is heroql.compile, not queries.build
  def pass(ctx: Ctx, rng: Random): Seq[Op] = rng.shuffle(names).map { q =>
    val b = builder(q)
    Op(q, "query", () => ctx.query(b(ctx.spark, ctx.data),
      if (heroQueries.contains(q)) "heroql.compile" else "queries.build"))
  }

  override def heroqlPrograms: Seq[String] =
    names.filter(heroQueries.contains).map(_ => graft.queries.HeroQueries.program)

  /** Oracle SQL of the queries that have one; the rest are checked by
    * fingerprint only. dd3 runs the production xxhash path, which DuckDB
    * cannot express. */
  def oracles: Map[String, String] =
    graft.SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) && q != "dd3_minhash_lsh" }
}

object StoreMixed {
  val Classes: Seq[String] = Seq("point_read", "range_read", "insert", "upsert",
    "delete_range", "heroql_txn", "compact", "vacuum")
  /** Per-layer figures only store-mixed has; 0 on the other workloads. */
  val LayerKeys: Seq[String] = Seq("store.write_p50_s", "store.write_p90_s", "store.read_p50_s",
    "store.read_p90_s", "store.commits", "store.attempts_per_commit", "store.write_amp",
    "store.bytes_per_user_byte", "store.live_dirs", "store.files_per_point_read", "store.skip_ratio")
}

/** A `TableStore` seeded from `orders`, tracked with zone maps on the
  * key, under a seeded mix of writes and reads; compaction and vacuum
  * run on a fixed op cadence. Every read and the final table are checked
  * against the harness's own model of the ops applied. */
final class StoreMixed extends Workload {
  val name = "store-mixed"
  val minPasses = 3
  private val Table = "Orders"
  private val Statuses = Array("F", "O", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** o_orderkey -> (o_custkey, o_orderstatus, o_totalprice, o_orderpriority) */
  private type Rec = (Long, String, Double, String)
  private val model = mutable.HashMap.empty[Long, Rec]
  private var nextKey = 0L
  private var store: TableStore = _
  var attempts = 0L
  var userBytes = 0L
  var writtenBytes = 0L
  private val seenFiles = mutable.HashSet.empty[String]
  /** (files read, live files) per point read */
  val pointFiles = mutable.ArrayBuffer.empty[(Int, Int)]

  /** HeroQL transaction: reprice the picked orders in one atomic commit. */
  val TxnProgram: String = """
data Orders(o_orderkey: int64, o_custkey: int64, o_orderstatus: string, o_totalprice: double, o_orderpriority: string).
data Pick(k: int64, np: double).

transaction query Reprice()
:-  Pick(k, np),
    Orders(k, c, s, p, pr),
    @update Orders(k, c, s, @np, pr)
.
"""

  private def root(ctx: Ctx) = s"${ctx.runDir}/store"

  override def conf(ctx: Ctx): Map[String, String] =
    Map("spark.graft.store.root" -> root(ctx))

  private def seedFrame(ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(s"${ctx.data}/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")

  /** A fresh store with the seed table. One TableStore
    * instance owns the root, as the store documents. */
  override def setUp(ctx: Ctx): Unit = {
    Files.rmTree(root(ctx))
    store = new TableStore(ctx.spark, root(ctx))
    ZoneMaps.createTracked(store, Table, seedFrame(ctx), Seq("o_orderkey"))
  }

  /** Load the model from the seed rows; called once, untimed. */
  def loadModel(ctx: Ctx): Unit = {
    model.clear()
    seedFrame(ctx).collect().foreach(r =>
      model(r.getLong(0)) = (r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4)))
    nextKey = model.keys.max + 1
    seenFiles.clear(); seenFiles ++= Files.list(root(ctx)).map(_._1)
  }

  private def recBytes(k: Long, r: Rec): Long = 8 + 8 + r._2.length + 8 + r._4.length

  private def frame(ctx: Ctx, rows: Seq[(Long, Rec)]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    rows.map { case (k, (c, s, p, pr)) => (k, c, s, p, pr) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
  }

  private def randRec(rng: Random): Rec =
    (rng.nextInt(1500).toLong, Statuses(rng.nextInt(3)),
      math.round(rng.nextDouble() * 49900000.0 + 100000.0) / 100.0,
      Priorities(rng.nextInt(5)))

  private def existing(rng: Random, n: Int): Seq[Long] = {
    val keys = model.keysIterator.toIndexedSeq
    Seq.fill(n)(keys(rng.nextInt(keys.size))).distinct
  }

  /** A write through the harness's own transaction closure, so attempts
    * (closure invocations) can be set against commits. */
  private def write(ctx: Ctx)(f: graft.store.Txn => Unit): Unit =
    ctx.tracer.span("store.write")(store.transactionRetry { tx => attempts += 1; f(tx) })

  /** Track bytes the write added on disk (untimed, after the op). */
  private def accountWrite(ctx: Ctx, logical: Long): Option[String] = {
    userBytes += logical
    Files.list(root(ctx)).foreach { case (p, n) =>
      if (seenFiles.add(p)) writtenBytes += n
    }
    None
  }

  // ops per pass: one of each foreground class (point read, range
  // aggregate, insert, upsert, delete-by-range, HeroQL transaction),
  // shuffled; then compaction and vacuum close the pass, so both run every
  // six foreground ops. With every class weighted equally the median
  // latency sits among the writes; each class's own figures are op.*_s.
  def pass(ctx: Ctx, rng: Random): Seq[Op] = {
    val fg = Seq(pointRead(ctx, rng), rangeRead(ctx, rng), insert(ctx, rng), upsert(ctx, rng),
      deleteRange(ctx, rng), txn(ctx, rng))
    rng.shuffle(fg) ++ Seq(compact(ctx), vacuum(ctx))
  }

  override def heroqlPrograms: Seq[String] = Seq(TxnProgram)

  // each op draws its keys when the pass is laid out, outside the timing
  private def pointRead(ctx: Ctx, rng: Random): Op = {
    val k = existing(rng, 1).head
    Op("point_read", "read", () => {
      val d = ctx.query(
        ctx.tracer.span("store.read")(store.read(Table)).filter(col("o_orderkey") === k))
      Done(d.rows, d.schema, () => {
        // files the pruned read opens, against the table's live files
        pointFiles += ((store.read(Table).filter(col("o_orderkey") === k).inputFiles.length,
          store.read(Table).inputFiles.length))
        val want = model.get(k).map { case (c, s, p, pr) => Row(k, c, s, p, pr) }.toSeq
        if (d.rows.toSeq == want) None else Some(s"point_read($k): got ${d.rows.mkString} want ${want.mkString}")
      })
    })
  }

  private def rangeRead(ctx: Ctx, rng: Random): Op = {
    val lo = existing(rng, 1).head
    val hi = lo + 500
    Op("range_read", "read", () => {
      val d = ctx.query(
        ctx.tracer.span("store.read")(store.read(Table))
          .filter(col("o_orderkey").between(lo, hi))
          .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total")))
      Done(d.rows, d.schema, () => {
        val in = model.iterator.filter { case (k, _) => k >= lo && k <= hi }.map(_._2._3).toSeq
        val r = d.rows.head
        val n = r.getLong(0)
        val total = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
        if (n == in.size && math.abs(total - in.sum) <= 1e-6 * math.max(1.0, math.abs(in.sum))) None
        else Some(s"range_read($lo..$hi): got ($n, $total) want (${in.size}, ${in.sum})")
      })
    })
  }

  private def insert(ctx: Ctx, rng: Random): Op = {
    val recs = Seq.fill(100)(randRec(rng))
    Op("insert", "write", () => {
      val rows = recs.zipWithIndex.map { case (r, i) => (nextKey + i) -> r }
      write(ctx)(_.insert(Table, frame(ctx, rows)))
      nextKey += rows.size
      rows.foreach { case (k, r) => model(k) = r }
      Done(check = () => accountWrite(ctx, rows.map { case (k, r) => recBytes(k, r) }.sum))
    })
  }

  private def upsert(ctx: Ctx, rng: Random): Op = {
    val old = existing(rng, 50)
    val recs = Seq.fill(100)(randRec(rng))
    Op("upsert", "write", () => {
      val rows = (old ++ (nextKey until nextKey + 50)).zip(recs)
      write(ctx)(_.upsert(Table, frame(ctx, rows), Seq("o_orderkey")))
      nextKey += 50
      rows.foreach { case (k, r) => model(k) = r }
      Done(check = () => accountWrite(ctx, rows.map { case (k, r) => recBytes(k, r) }.sum))
    })
  }

  private def deleteRange(ctx: Ctx, rng: Random): Op = {
    val lo = existing(rng, 1).head
    val hi = lo + 30
    Op("delete_range", "write", () => {
      write(ctx)(_.delete(Table, col("o_orderkey").between(lo, hi)))
      model.keys.filter(k => k >= lo && k <= hi).toSeq.foreach(model.remove)
      Done(check = () => accountWrite(ctx, 0L))
    })
  }

  private def txn(ctx: Ctx, rng: Random): Op = {
    val picks = existing(rng, 10).map(k => k -> (math.round(rng.nextDouble() * 1e6) / 100.0))
    Op("heroql_txn", "write", () => {
      val spark = ctx.spark
      import spark.implicits._
      attempts += 1 // at least one; retries inside executeTransaction are not visible
      ctx.tracer.span("heroql.txn")(HeroQL.executeTransaction(TxnProgram, "Reprice",
        Map("Pick" -> picks.toDF("k", "np")), store))
      picks.foreach { case (k, np) => model.get(k).foreach(r => model(k) = r.copy(_3 = np)) }
      Done(check = () => accountWrite(ctx,
        picks.map { case (k, _) => model.get(k).map(recBytes(k, _)).getOrElse(0L) }.sum))
    })
  }

  private def compact(ctx: Ctx): Op = Op("compact", "background", () => {
    ctx.tracer.span("store.compact") {
      store.transactionRetry { tx => attempts += 1; tx.compact(Table) }
      // compaction writes unstamped dirs; re-stamp them so reads prune
      attempts += 1
      ZoneMaps.retrack(store, Table)
    }
    Done(check = () => accountWrite(ctx, 0L))
  })

  private def vacuum(ctx: Ctx): Op = Op("vacuum", "background", () => {
    ctx.tracer.span("store.vacuum")(store.vacuum(retainVersions = 1))
    Done()
  })

  /** Sequence number of the newest published store manifest; unlike
    * commitCount() it survives vacuum deleting old manifests. */
  private def commitSeq(ctx: Ctx): Long =
    Files.list(root(ctx)).map(p => java.nio.file.Paths.get(p._1).getFileName.toString)
      .filter(_.startsWith("store-")).map(_.split("-")(1).toLong).foldLeft(0L)(math.max)

  private var seq0 = 0L

  override def startWindow(ctx: Ctx): Unit = {
    attempts = 0; userBytes = 0; writtenBytes = 0; pointFiles.clear()
    seq0 = commitSeq(ctx)
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  override def finish(ctx: Ctx): Seq[String] = {
    val got = store.read(Table).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3), r.getString(4)): Rec)).toSeq
    val dupKeys = got.size - got.map(_._1).distinct.size
    val gotMap = got.toMap
    val bad = (gotMap.keySet ++ model.keySet).filter(k => gotMap.get(k) != model.get(k))
    (if (dupKeys > 0) Seq(s"store-mixed final table: $dupKeys duplicate keys") else Nil) ++
      (if (bad.nonEmpty) Seq(s"store-mixed final table: ${bad.size} rows differ from the model, e.g. key ${bad.min}")
       else Nil)
  }

  override def layerMetrics(ctx: Ctx, timed: Seq[Sample], passes: Int): Map[String, Double] = {
    val disk = Files.list(root(ctx)).map(_._2).sum.toDouble
    val live = model.map { case (k, r) => recBytes(k, r) }.sum.toDouble
    val commits = commitSeq(ctx) - seq0
    def q(kind: String, p: Double) = Main.quantile(timed.filter(_.kind == kind).map(_.secs), p)
    Map(
      "store.write_p50_s" -> q("write", 0.5), "store.write_p90_s" -> q("write", 0.9),
      "store.read_p50_s" -> q("read", 0.5), "store.read_p90_s" -> q("read", 0.9),
      "store.commits" -> commits.toDouble / math.max(1, passes),
      "store.attempts_per_commit" -> attempts.toDouble / math.max(1L, commits),
      "store.write_amp" -> (if (userBytes > 0) writtenBytes / userBytes.toDouble else 0.0),
      "store.bytes_per_user_byte" -> disk / live,
      "store.live_dirs" -> store.dataDirsOnDisk(Table).size.toDouble,
      "store.files_per_point_read" -> mean(pointFiles.map(_._1.toDouble).toSeq),
      "store.skip_ratio" -> mean(pointFiles.map { case (r, l) => r.toDouble / math.max(1, l) }.toSeq))
  }
}

/** Small file-tree helpers. */
object Files {
  import java.nio.file.{Files => JFiles, Path, Paths}
  import scala.jdk.CollectionConverters._

  private def walk(p: String): Seq[Path] = {
    val root = Paths.get(p)
    if (!JFiles.exists(root)) Nil
    else {
      val s = JFiles.walk(root)
      try s.iterator().asScala.toVector finally s.close()
    }
  }

  /** (path, size) of every regular file under `p`. */
  def list(p: String): Seq[(String, Long)] =
    walk(p).filter(JFiles.isRegularFile(_)).map(f => f.toString -> JFiles.size(f))

  def rmTree(p: String): Unit = walk(p).reverseIterator.foreach(JFiles.deleteIfExists(_))
}
