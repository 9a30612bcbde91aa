package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet-backed mutable table store — the semantic heir of the
  * reference's storage kernel, re-based on immutable columnar files.
  *
  * Layout:
  * {{{
  *   root/_CURRENT                 -> current store-manifest filename
  *   root/store-<uuid>             : lines "table<TAB>tableManifest"
  *   root/<table>/manifest-<uuid>  : ordered log of data sub-dirs and
  *                                   `@`-prefixed schema ops
  *   root/<table>/data-<uuid>/     : parquet files
  * }}}
  *
  * Reference mechanics → store mechanics:
  *  - WAL + commit (`Kernel/Source/Utility/Log.cpp:316-387`,
  *    `LogManager::OpenTransaction` `Log.cpp:523-531`) → every commit
  *    writes a new store manifest and atomically renames `_CURRENT` onto
  *    it; the manifest history IS the commit log, recovery = read
  *    `_CURRENT` (a crash mid-write leaves the old pointer intact).
  *  - `transaction query` (`Kernel/README.md:251-254`, `Rewrite.md:4-16`
  *    "queue updates parallelly, apply single-threaded") →
  *    [[transaction]]: buffer any number of table mutations, publish ONE
  *    store manifest with ONE atomic pointer swap — multi-table atomic
  *    commit, single-writer last-committer-wins.
  *  - Schema administration (`Kernel/README.md:275-282`) →
  *    [[alterTable]]/[[migrate]]: a table manifest is an ordered log of
  *    data dirs AND [[SchemaOp]] lines; an op applies at read time to
  *    the dirs logged before it, so alters are metadata-only commits
  *    and `migrate` is the explicit data-moving procedure.
  *  - Page reuse/locks (`Buffer.cpp`, `Lock.cpp`) → not ported: files
  *    are immutable, readers get snapshot isolation from the manifest
  *    they resolved (SURVEY §3 E3).
  *
  * Mutation surface (SURVEY §2.10): insert appends NEW FILES ONLY (at
  * 100 TB an append never rewrites existing data); update/delete/upsert
  * are copy-on-write merges; uncache/drop unpublishes.
  */
final class TableStore(val spark: SparkSession, val root: String) {

  private def rootPath: Path = Paths.get(root)
  private def currentPtr: Path = rootPath.resolve("_CURRENT")

  /** `Files.list`/`Files.walk` hold an open directory handle until the
    * stream is closed — drain eagerly and close, or a periodic vacuum
    * over many tables leaks one fd per directory visited. */
  private def listDir(p: Path): Vector[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toVector finally s.close()
  }
  private def walkAll(p: Path): Vector[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector finally s.close()
  }

  private def readStoreManifest(name: String): Map[String, String] =
    Files.readAllLines(rootPath.resolve(name)).asScala
      .filter(_.nonEmpty)
      .map { line => val Array(t, m) = line.split("\t", 2); t -> m }
      .toMap

  private[store] def currentTables(): Map[String, String] =
    if (!Files.exists(currentPtr)) Map.empty
    else readStoreManifest(
      new String(Files.readAllBytes(currentPtr), "UTF-8").trim)

  /** Store-manifest names carry a monotonic commit sequence
    * (`store-<seq>-<uuid>`): vacuum's "N newest versions" must be the
    * true commit order, and filesystem mtime ties (back-to-back commits
    * in one mtime granule) would make the retained set nondeterministic. */
  private[store] def storeSeq(name: String): Long = {
    val parts = name.split("-")
    if (parts.length >= 3 && parts(1).forall(_.isDigit)) parts(1).toLong else -1L
  }

  /** Atomically publish a new table→manifest mapping. Serialized on the
    * commit lock so two direct publishes (unpublish/drop) can't race the
    * sequence counter or each other's read-modify-write. */
  private[store] def publish(tables: Map[String, String]): Unit = commitLock.synchronized {
    Files.createDirectories(rootPath)
    val next = listDir(rootPath).map(_.getFileName.toString)
      .filter(_.startsWith("store-")).map(storeSeq).foldLeft(-1L)(math.max) + 1
    val name = f"store-$next%012d-${UUID.randomUUID().toString.take(8)}"
    Files.write(rootPath.resolve(name),
      tables.toSeq.sorted.map { case (t, m) => s"$t\t$m" }
        .mkString("\n").getBytes("UTF-8"))
    val tmp = rootPath.resolve(s"_CURRENT.tmp.${UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, name.getBytes("UTF-8"))
    Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Legal table names: word chars, dots, dashes; must not collide with
    * the store's own layout files (`store-*` manifests, `_CURRENT`) or
    * escape the root (`/`). An unchecked `store-x` table would be swept
    * up by vacuum's manifest listing and crash the sweep; a name with
    * `/` would silently write outside the table's directory. */
  private[store] def requireValidTableName(table: String): Unit =
    require(table.matches("[A-Za-z0-9][A-Za-z0-9_.:-]*") &&
        !table.startsWith("store-"),
      s"illegal table name '$table': use [A-Za-z0-9_.:-], not starting " +
        "with '_' or 'store-'")

  private[store] def writeTableManifest(table: String,
      entries: Seq[ManifestEntry]): String = {
    requireValidTableName(table)
    val dir = rootPath.resolve(table)
    Files.createDirectories(dir)
    val name = s"manifest-${UUID.randomUUID().toString.take(12)}"
    Files.write(dir.resolve(name),
      entries.map(ManifestEntry.encode).mkString("\n").getBytes("UTF-8"))
    name
  }

  private[store] def readEntries(table: String, manifest: String): Seq[ManifestEntry] =
    Files.readAllLines(rootPath.resolve(table).resolve(manifest)).asScala
      .toSeq.filter(_.nonEmpty).map(ManifestEntry.parse)

  private[store] def currentEntries(table: String): Seq[ManifestEntry] = {
    val m = currentTables().getOrElse(table,
      throw new IllegalArgumentException(s"no such table: $table"))
    readEntries(table, m)
  }

  /** Data dirs with a Spark write job IN FLIGHT — vacuum must treat
    * them as live. The mtime grace window does NOT cover this: task
    * output lands under `_temporary/` and the top-level dir's mtime
    * stays at job start, so a write outlasting the grace (a large COW
    * rewrite) would look both unreferenced (liveRefs registers only
    * after writeData returns) and old enough, and vacuum would delete
    * the tree out from under the running job. */
  private val writesInFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[store] def writeData(table: String, df: DataFrame,
      partCols: Seq[String] = Nil): String = {
    requireValidTableName(table) // before any bytes land under a bad path
    val sub = s"data-${UUID.randomUUID().toString.take(12)}"
    writesInFlight.add(s"$table/$sub")
    try writeDataTo(table, sub, df, partCols)
    finally writesInFlight.remove(s"$table/$sub")
  }

  private def writeDataTo(table: String, sub: String, df: DataFrame,
      partCols: Seq[String]): String = {
    // cluster rows by partition value before a partitioned write: the
    // dynamic partition writer otherwise emits one file PER TASK PER
    // VALUE — task-count × bucket-count small files per commit, the
    // classic small-file explosion; clustered, each bucket is one file
    // per commit and reads open exactly files ∝ buckets touched
    val out = if (partCols.isEmpty) df
      else df.repartition(partCols.map(col): _*)
    val w = out.write.mode("overwrite")
    val dest = rootPath.resolve(table).resolve(sub)
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .parquet(dest.toString)
    // an EMPTY partitioned write emits zero files (the dynamic writer
    // only creates col=value dirs for values it sees) — a truncated
    // table would then fail schema inference on read. Leave a zero-row
    // marker carrying the full schema (partition cols as physical
    // columns; unionByName aligns it with inferred reads).
    if (partCols.nonEmpty && !hasParquet(dest))
      df.limit(0).coalesce(1).write.mode("overwrite").parquet(dest.toString)
    sub
  }

  /** Manifest lines are data-dir names local to the table's directory;
    * a line containing '/' is a CROSS-TABLE reference resolved from the
    * store root (`otherTable/data-xyz`) — the mechanism behind
    * copy-on-write package-instance inheritance ([[PackageManager]]):
    * an inheriting instance's manifest points at the parent's immutable
    * data files, no bytes copied. */
  private[store] def resolveDir(table: String, dir: String): Path =
    if (dir.contains("/")) rootPath.resolve(dir)
    else rootPath.resolve(table).resolve(dir)

  /** A table's current manifest entries, data dirs rewritten as
    * root-relative refs usable from another table's manifest; schema-op
    * lines carry over verbatim (the ref'd files predate them too). */
  private[graft] def entriesAsRefs(table: String): Seq[ManifestEntry] =
    currentEntries(table).map {
      case DataDir(d) if !d.contains("/") => DataDir(s"$table/$d")
      case DvEntry(d) if !d.contains("/") => DvEntry(s"$table/$d")
      case e => e
    }

  /** True iff any parquet file exists under `p` (a partitioned write of
    * an empty frame leaves a fileless dir — readable only by skipping). */
  private def hasParquet(p: Path): Boolean = {
    if (!Files.exists(p)) return false
    val s = Files.walk(p)
    try s.anyMatch(f => f.getFileName.toString.endsWith(".parquet"))
    finally s.close()
  }

  /** Read-path memo for [[hasParquet]]: a data dir is immutable once
    * its manifest commits (writeData finishes — including the zero-row
    * marker — BEFORE the commit publishes it), so its emptiness never
    * changes after it becomes readable. Without the memo the streaming
    * probe, which builds a read plan every micro-batch, re-walks every
    * dir the table has ever committed — O(total files) driver work per
    * batch with compaction off. writeData keeps the RAW walk: it checks
    * the dir it is mid-writing. */
  private val dirHasParquet =
    new java.util.concurrent.ConcurrentHashMap[Path, java.lang.Boolean]()
  private def hasParquetCached(p: Path): Boolean =
    dirHasParquet.computeIfAbsent(p, q => hasParquet(q))

  /** One frame over a run of data dirs. Unpartitioned tables read all
    * dirs in ONE scan. Partitioned dirs carry `col=value/` subdirs, and
    * Spark's partition discovery rejects multiple sibling roots
    * ("conflicting directory structures") — so each dir becomes its own
    * discovery root and the run unions; a filter on the partition
    * column pushes through the union into every scan, so bucket
    * pruning holds per dir. `decorate` runs directly above each raw
    * scan (NOT above the union: `_metadata` columns only resolve
    * against a file source relation).
    *
    * Both reads go through [[graft.Tables.scan]], whose schema cache
    * keys on the dir Spark's inference reads — the smallest
    * `data-<uuid>` dir of an unpartitioned run, the head dir of a
    * partitioned one — plus that dir's file listing. A committed dir
    * is immutable, so a table read again after commits that leave its
    * smallest dir in place infers nothing: no Spark job. */
  private[store] def readDirs(table: String, dirs: Seq[String],
      partitioned: Boolean = false,
      decorate: DataFrame => DataFrame = identity): DataFrame =
    if (!partitioned)
      decorate(graft.Tables.scan(spark, dirs.map(d => resolveDir(table, d).toString): _*))
    else {
      val paths = dirs.map(d => resolveDir(table, d))
      val nonEmpty = paths.filter(hasParquetCached)
      val use = if (nonEmpty.nonEmpty) nonEmpty else paths
      // infer the schema from the first root only: every dir of a run
      // shares a schema vintage, and per-leg inference would re-read
      // footers once per dir per plan build (a streaming probe builds
      // plans every micro-batch)
      val head = graft.Tables.scan(spark, use.head.toString)
      val rest = use.tail.map(p =>
        spark.read.schema(head.schema).parquet(p.toString))
      (head +: rest).map(decorate).reduce(_.unionByName(_))
    }

  /** Fold the manifest log into one frame: each maximal run of data
    * dirs is ONE parquet read (those dirs share a schema vintage), each
    * subsequent op transforms everything accumulated so far, and later
    * runs — written after the op, already in the new logical schema —
    * union in untransformed. `decorate` runs right after each raw read
    * (before any op) so callers can capture physical metadata like
    * `_metadata.file_path`. For the common no-ops manifest this is
    * exactly one `spark.read.parquet` call, same as before schema ops
    * existed. */
  private[store] def readLog(table: String, entries: Seq[ManifestEntry],
      decorate: DataFrame => DataFrame = identity): DataFrame = {
    val dvs = entries.collect { case DvEntry(d) => d }
    // deletion vectors suppress physical rows: stamp every raw scan
    // with its (file, row_index) identity BEFORE the caller's decorate
    // and any schema op ( `_metadata` resolves only on the file
    // relation), anti-join the vector set once at the end. The vector
    // side is bytes ∝ deleted rows — AQE broadcasts it, so the fact
    // scan never shuffles for visibility.
    val dec: DataFrame => DataFrame =
      if (dvs.isEmpty) decorate
      else df => decorate(dvStamp(df))
    var acc: Option[DataFrame] = None
    var run = Vector.empty[String]
    var layout: Seq[String] = Nil // in effect for the dirs in `run`
    def flushRun(): Unit = if (run.nonEmpty) {
      val batch = readDirs(table, run, layout.nonEmpty, dec)
      acc = Some(acc.fold(batch)(_.unionByName(batch)))
      run = Vector.empty
    }
    entries.foreach {
      case DataDir(d) => run :+= d
      case OpEntry(op) => flushRun(); acc = acc.map(op.apply)
      // a layout line applies to the dirs AFTER it (partition
      // evolution): earlier dirs must read under THEIR layout, so the
      // run flushes here. The legacy shape — one line, first — flushes
      // an empty run, i.e. behaves exactly as before. Reading a
      // partitioned run needs no other handling: each dir is its own
      // discovery root, `col=value/` subdirs surface the partition
      // column in every scan, and unionByName reconciles the vintages'
      // column orders
      case PartColsEntry(cs) => flushRun(); layout = cs
      case PropsEntry(_) => ()
      // visibility metadata, not data: dirs around it stay one run
      case DvEntry(_) => ()
    }
    flushRun()
    val full = acc.getOrElse(throw new IllegalArgumentException(
      s"table $table has no data dirs"))
    if (dvs.isEmpty) full else applyDv(table, dvs, full)
  }

  /** Physical row identity for deletion vectors: the file path FROM its
    * `data-<uuid>` dir segment down (dir names are store-unique UUIDs),
    * plus the row index. Root-RELATIVE on purpose — an incremental
    * backup or a relocated store keeps every vector valid, where an
    * absolute path would silently stop matching and resurrect rows. */
  private[store] def dvStamp(df: DataFrame): DataFrame = df
    .withColumn(TableStore.DvFileCol,
      regexp_extract(col("_metadata.file_path"), "^.*/(data-[^/]+/.*)$", 1))
    .withColumn(TableStore.DvPosCol, col("_metadata.row_index"))

  /** Anti-join `df` (carrying [[TableStore.DvFileCol]]/[[TableStore.DvPosCol]])
    * against the union of the given deletion-vector dirs, dropping the
    * identity columns afterwards. */
  private[store] def applyDv(table: String, dvs: Seq[String],
      df: DataFrame): DataFrame = {
    val dv = readDirs(table, dvs)
      .select(col("file").as(TableStore.DvMatchFile),
        col("pos").as(TableStore.DvMatchPos)).distinct()
    df.join(dv,
        df(TableStore.DvFileCol) === dv(TableStore.DvMatchFile) &&
          df(TableStore.DvPosCol) === dv(TableStore.DvMatchPos),
        "left_anti")
      .drop(TableStore.DvFileCol, TableStore.DvPosCol)
  }

  // ----------------------------------------------------------- public API

  def exists(name: String): Boolean = currentTables().contains(name)

  /** Names of all committed tables in the current snapshot (REPL /
    * host-tool discovery surface). */
  def tables: Seq[String] = currentTables().keys.toSeq.sorted

  /** Absolute data directories backing `table`'s current snapshot —
    * the plan-identification surface for [[graft.plans.MvRewrite]]: a
    * parquet scan whose root paths equal this set IS a full read of
    * this table (a strict subset would be a pruned read, which must
    * NOT be treated as the whole relation). */
  def dataDirPaths(table: String): Set[String] =
    currentEntries(table).collect { case DataDir(dir) =>
      resolveDir(table, dir).toAbsolutePath.normalize.toString
    }.toSet

  /** Absolute deletion-vector directories of `table`'s current
    * snapshot — the OTHER half of plan identity for
    * [[graft.plans.FkJoinElim]]: a shallow clone shares its source's
    * data dirs, and a MOR delete diverges the visible rows WITHOUT
    * touching them, so data dirs alone cannot distinguish the clone
    * from the constraint-validated source. (dataDirs, dvDirs) can:
    * any visible-row divergence either rewrites a data dir or appends
    * a vector. */
  def dvDirPaths(table: String): Set[String] =
    currentEntries(table).collect { case DvEntry(dir) =>
      resolveDir(table, dir).toAbsolutePath.normalize.toString
    }.toSet

  /** Multi-table atomic transaction: all mutations in `f` become visible
    * in one pointer swap, or none do (an exception publishes nothing).
    *
    * Optimistic concurrency (`Rewrite.md:6-15` "queue transactions
    * parallelly … cancel on conflicting writes", the designed heir of
    * the kernel lock manager `Kernel/Source/Utility/Lock.cpp:586-943`):
    * the txn snapshots the store manifest at open; at publish a CAS-style
    * validate-and-swap compares each WRITTEN table's current manifest to
    * the snapshot. Unchanged → commit (concurrent commits to OTHER
    * tables merge in — disjoint writers never conflict); changed →
    * [[WriteConflictException]], nothing published, no lost update.
    *
    * NOTE: a raw transaction can also fail with an IMPORTANCE-YIELD
    * conflict (`importanceYield = true`) while a higher-importance txn
    * merely holds OPEN buffered intent on a shared table, even though
    * no manifest moved — transient by construction; retry (or use
    * [[transactionRetry]], which the one-shot mutation facades route
    * through). */
  def transaction[T](f: Txn => T): T = transactionImportance(0)(f)

  /** [[transaction]] at an explicit IMPORTANCE class — the reference's
    * prioritized transaction scheduling re-based on optimistic CAS
    * (`Kernel/Source/Utility/Lock.cpp:637-676`: the lock scheduler
    * grants pending transactions most-important-class first,
    * round-robin within a class; `Rewrite.md:11-12`: "submit the
    * transaction of highest cost, rollback all conflicted
    * transactions"). DIVERGENCE from the lock-queue semantics,
    * documented: there is no blocking grant queue to reorder — instead
    * the commit point yields. A txn publishing while a HIGHER-importance
    * open txn has buffered writes to one of the same tables throws
    * [[WriteConflictException]] (it "rolls back" as the conflicted
    * loser and may retry); equal-importance writers race the CAS as
    * before. The priority inversion the reference's scheduler prevents
    * — a low txn sneaking its commit in and forcing the expensive high
    * txn to rerun — is prevented here at the same single-threaded
    * commit stage. A high txn that aborts drops out of [[openTxns]],
    * releasing the yield immediately; a txn that keeps losing to an
    * unbroken stream of higher-importance writers AGES through
    * [[transactionRetry]] (once yields exceed half its retry budget it
    * stops deferring — second documented divergence from the blocking
    * grant queue, whose per-class FIFO is starvation-free by
    * construction; CAS validation still guards correctness either way,
    * aging only ends the politeness). */
  def transactionImportance[T](importance: Int)(f: Txn => T): T =
    transactionWith(importance, bypassYield = false)(f)

  private def transactionWith[T](importance: Int, bypassYield: Boolean)
      (f: Txn => T): T = {
    val tx = new Txn(this, importance, bypassYield)
    openTxns.add(tx)
    try {
      val result = f(tx)
      tx.publishAll()
      result
    } finally openTxns.remove(tx)
  }

  /** [[transaction]] with automatic retry on write-write conflict: `f`
    * re-runs against a fresh snapshot (it must be idempotent — pure
    * read-compute-mutate against its Txn). `importance` prioritizes
    * the commit under contention ([[transactionImportance]]). Backoff
    * only on an IMPORTANCE YIELD (the tagged exception — waiting out
    * the higher writer's open window costs real time); an ordinary
    * equal-class CAS race retries immediately, keeping the benign-
    * contention path spin-fast. LIVENESS: once more than HALF the
    * retry budget has gone to yields the txn has AGED — further
    * attempts skip the importance gate (never the CAS validation), so
    * an unbroken stream of higher-importance writers delays a retried
    * txn by a bounded number of rounds instead of starving it. Tying
    * patience to `maxAttempts` keeps both regimes: a briefly-open high
    * txn always wins (the backoffs outlast its window), a perpetually-
    * open one is eventually bypassed. */
  def transactionRetry[T](f: Txn => T, maxAttempts: Int = 8,
      importance: Int = 0): T = {
    var attempt = 0
    var yields = 0
    while (true) {
      attempt += 1
      try return transactionWith(importance,
        bypassYield = yields > maxAttempts / 2)(f)
      catch {
        case e: WriteConflictException if attempt < maxAttempts =>
          if (e.importanceYield) {
            yields += 1
            Thread.sleep(math.min(5L * attempt, 50L))
          }
      }
    }
    sys.error("unreachable")
  }

  /** Commit discipline for the one-shot mutation FACADES (insert /
    * delete / update / …): each is an independent atomic op whose body
    * is pure read-compute-mutate against its Txn, so it retries through
    * [[transactionRetry]] instead of surfacing a spurious
    * [[WriteConflictException]] when a higher-importance txn merely
    * holds open buffered intent on the table (the importance yield) or
    * a benign equal-class CAS race happens to interleave. RAW
    * `transaction { … }` callers keep fail-fast semantics — they own
    * their retry policy. */
  private def mutate[T](f: Txn => T): T = transactionRetry(f)

  /** Serializes validate+publish for this root's writers (the designed
    * "apply single-threaded" stage; one driver JVM owns a store root).
    * Shared by every instance on the same root: a per-instance lock let
    * two instances each read `_CURRENT` and overwrite the other's
    * commit. */
  private val commitLock = TableStore.commitLockFor(root)

  /** Transactions currently between open and publish/abort. [[vacuum]]
    * treats their snapshot AND buffered manifests as reachability roots:
    * a txn writes data dirs and table manifests eagerly, before
    * publishing, and a concurrent sweep must not reclaim them. */
  private val openTxns = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[Txn, java.lang.Boolean]())

  /** Validate-and-swap: commit `pending` iff none of those tables'
    * manifests moved since `snapshot`. Concurrent commits to other
    * tables are merged, not clobbered. Importance gate (see
    * [[transactionImportance]]): a publish yields — throws, to be
    * retried — while a HIGHER-importance open txn has buffered writes
    * to any of the same tables, so the expensive transaction wins the
    * race instead of being forced to rerun by a cheap one. */
  private[store] def commitAtomically(snapshot: Map[String, String],
      pending: Map[String, String], self: Txn): Unit = commitLock.synchronized {
    val now = currentTables()
    val conflicts = pending.keys.filter(t => now.get(t) != snapshot.get(t)).toSeq.sorted
    if (conflicts.nonEmpty) throw new WriteConflictException(conflicts)
    if (!self.bypassYield) {
      val it = openTxns.iterator()
      while (it.hasNext) {
        val other = it.next()
        if ((other ne self) && other.importance > self.importance) {
          val contested = other.writtenTables.intersect(pending.keySet)
          if (contested.nonEmpty)
            throw new WriteConflictException(contested.toSeq.sorted,
              importanceYield = true)
        }
      }
    }
    publish(now ++ pending)
  }

  def create(name: String, df: DataFrame): Unit = mutate(_.create(name, df))

  /** Create `name` hash/value-partitioned on `cols`: every data dir is
    * written `partitionBy(cols)` (inserts and COW rewrites preserve
    * this), so a reader filtering on a partition column — e.g. the
    * dedup probe's `fp_bucket IN (candidate buckets)` — opens only the
    * matching `col=value/` subdirectories instead of scanning every
    * file of a 10⁹-row corpus. The store-level port of the reference's
    * `Hash(col)` index (`Kernel/README.md:62-74`); static-table
    * bucketing (BucketingSpec) covers warehouse tables, this covers
    * store-managed ones. */
  def createPartitioned(name: String, df: DataFrame, cols: Seq[String],
      props: Map[String, String] = Map.empty): Unit =
    mutate(_.createPartitioned(name, df, cols, props))

  /** The partition columns `name` was created with (empty = unpartitioned). */
  def partitionColumns(name: String): Seq[String] =
    TableStore.currentLayout(currentEntries(name))

  /** Table properties pinned at creation (layout parameters the data
    * bakes in — see [[PropsEntry]]); empty when none were recorded. */
  def tableProps(name: String): Map[String, String] =
    currentEntries(name).collectFirst { case PropsEntry(ps) => ps }.getOrElse(Map.empty)

  def read(name: String): DataFrame = readLog(name, currentEntries(name))

  /** The table's current committed manifest file name — a fingerprint
    * that moves on EVERY committed write to the table, whatever route
    * it took ([[graft.plans.MvRewrite]]'s staleness-fence input). */
  private[graft] def currentManifestName(name: String): Option[String] =
    currentTables().get(name)

  // The plain mutation facade maintains registered views too: every
  // front door keeps base and views in ONE atomic commit (the one-WAL
  // discipline — WritePath's doc). When no view is registered over the
  // table the maintenance probe is a manifest-existence check and the
  // txn degrades to the bare primitive (no pin, no extra plan). Writes
  // issued through a RAW `transaction { tx => ... }` still bypass
  // maintenance — MvRewrite's base-manifest watermark then stops the
  // rewrite, so a bypassed view can go stale but never serve a stale
  // ANSWER.
  def insert(name: String, rows: DataFrame): Unit = mutate { tx =>
    val aggViews = MaterializedView.hasRegistered(tx, name)
    val joinViews = JoinViews.hasRegistered(tx, name)
    if (aggViews || joinViews) {
      val pre = tx.manifestName(name)
      val pinned = rows.localCheckpoint()
      try {
        tx.insert(name, pinned)
        if (aggViews) MaterializedView.refreshRegistered(tx, name, pinned, pre)
        if (joinViews) JoinViews.refreshRegistered(tx, name, pinned)
      } finally pinned.unpersist()
    } else tx.insert(name, rows)
  }

  /** Registered views see an upsert as delete(matched old rows) +
    * insert(batch) — both folds in the same commit as the rewrite. */
  def upsert(name: String, rows: DataFrame, keys: Seq[String]): Unit =
    mutate { tx =>
      if (MaterializedView.hasRegistered(tx, name)) {
        val pre = tx.manifestName(name)
        val pinned = rows.localCheckpoint()
        val old = tx.read(name)
          .join(pinned.select(keys.map(col): _*).distinct(), keys, "left_semi")
          .localCheckpoint()
        try {
          tx.upsert(name, pinned, keys)
          MaterializedView.refreshRegisteredUpdate(tx, name, old, pinned, pre)
        } finally { pinned.unpersist(); old.unpersist() }
      } else tx.upsert(name, rows, keys)
      // an upsert removes rows, so join views have no sound row delta
      JoinViews.rebuildRegistered(tx, name)
    }

  /** MERGE facade over [[Txn.merge]]: aggregate views are maintained
    * with an UPDATE-shaped fold — removed = the matched key-slice
    * PRE-state, added = the same slice POST-merge (read-your-writes),
    * which covers all three branches in one pass (deleted rows appear
    * only in `removed`, inserts only in `added`). Join views rebuild
    * (delete branch ⇒ no sound row delta, same trade as delete). */
  def merge(name: String, source: DataFrame, keys: Seq[String],
      updateSet: Map[String, Column] = Map.empty,
      deleteWhen: Option[Column] = None,
      insertNotMatched: Boolean = true): Unit = mutate { tx =>
    if (MaterializedView.hasRegistered(tx, name)) {
      val pre = tx.manifestName(name)
      val srcKeys = source.select(keys.map(col): _*).distinct().localCheckpoint()
      val old = tx.read(name).join(srcKeys, keys, "left_semi").localCheckpoint()
      try {
        tx.merge(name, source, keys, updateSet, deleteWhen, insertNotMatched)
        val post = tx.read(name).join(srcKeys, keys, "left_semi").localCheckpoint()
        try MaterializedView.refreshRegisteredUpdate(tx, name, old, post, pre)
        finally post.unpersist()
      } finally { srcKeys.unpersist(); old.unpersist() }
    } else tx.merge(name, source, keys, updateSet, deleteWhen, insertNotMatched)
    JoinViews.rebuildRegistered(tx, name)
  }

  def update(name: String, assignments: Map[String, Column], cond: Column): Unit =
    mutate { tx =>
      // admission control on the post-image + set-level RESTRICT when
      // a referenced key column is rewritten; then advance the
      // constraint validity chain (the post-image is proven)
      CheckConstraints.validateUpdate(tx, name, assignments, cond)
      val preCk = tx.manifestName(name)
      if (MaterializedView.hasRegistered(tx, name)) {
        // capture the matched PRE-state (old files persist until
        // vacuum, the checkpoint pins the rows); the applied form is
        // unconditional because `old` is already cond-filtered
        val pre = tx.manifestName(name)
        val old = tx.read(name).filter(coalesce(cond, lit(false))).localCheckpoint()
        try {
          tx.update(name, assignments, cond)
          val applied = old.select(old.columns.map(c =>
            assignments.get(c).map(_.as(c)).getOrElse(col(c))).toIndexedSeq: _*)
          MaterializedView.refreshRegisteredUpdate(tx, name, old, applied, pre)
        } finally old.unpersist()
      } else tx.update(name, assignments, cond)
      CheckConstraints.advanceAfterUpdate(tx, name, preCk)
      JoinViews.rebuildRegistered(tx, name)
    }

  def delete(name: String, cond: Column): Unit = mutate { tx =>
    // referential RESTRICT: refuse while incoming FKs still reference
    // any removed key, then advance the constraint validity chain (a
    // delete can't break CHECK/UNIQUE/outgoing-FK validity)
    CheckConstraints.restrictDelete(tx, name, coalesce(cond, lit(false)))
    val preCk = tx.manifestName(name)
    if (MaterializedView.hasRegistered(tx, name)) {
      val pre = tx.manifestName(name)
      val removed = tx.read(name).filter(coalesce(cond, lit(false))).localCheckpoint()
      try {
        tx.delete(name, cond)
        MaterializedView.refreshRegisteredDelete(tx, name, removed, pre)
      } finally removed.unpersist()
    } else tx.delete(name, cond)
    CheckConstraints.advanceAfterDelete(tx, name, preCk)
    JoinViews.rebuildRegistered(tx, name)
  }

  /** Merge-on-read DELETE — identical semantics and integration
    * (referential RESTRICT, view maintenance, constraint chain) to
    * [[delete]], but the commit writes only a deletion vector
    * ([[Txn.deleteMor]]): bytes ∝ deleted rows, zero data dirs
    * rewritten. The physical rewrite is deferred to [[applyDeletes]]
    * or the next compaction/COW touching the affected dirs. */
  def deleteMor(name: String, cond: Column): Unit = mutate { tx =>
    CheckConstraints.restrictDelete(tx, name, coalesce(cond, lit(false)))
    val preCk = tx.manifestName(name)
    if (MaterializedView.hasRegistered(tx, name)) {
      val pre = tx.manifestName(name)
      val removed = tx.read(name).filter(coalesce(cond, lit(false))).localCheckpoint()
      try {
        tx.deleteMor(name, cond)
        MaterializedView.refreshRegisteredDelete(tx, name, removed, pre)
      } finally removed.unpersist()
    } else tx.deleteMor(name, cond)
    CheckConstraints.advanceAfterDelete(tx, name, preCk)
    JoinViews.rebuildRegistered(tx, name)
  }

  /** Materialize accumulated deletion vectors — see [[Txn.applyDeletes]].
    * Returns the number of data dirs rewritten. Result-invariant, so no
    * constraint/view interaction. */
  def applyDeletes(name: String): Int = mutate(_.applyDeletes(name))

  /** Current `@dv` (deletion-vector) dirs of a table — observability
    * for specs and monitoring (how much MOR-delete debt is pending). */
  def deletionVectorDirs(name: String): Seq[String] =
    currentEntries(name).collect { case DvEntry(d) => d }

  def truncate(name: String): Unit = mutate { tx =>
    CheckConstraints.restrictDelete(tx, name, lit(true))
    val preCk = tx.manifestName(name)
    if (MaterializedView.hasRegistered(tx, name)) {
      val pre = tx.manifestName(name)
      val removed = tx.read(name).localCheckpoint()
      try {
        tx.truncate(name)
        MaterializedView.refreshRegisteredDelete(tx, name, removed, pre)
      } finally removed.unpersist()
    } else tx.truncate(name)
    CheckConstraints.advanceAfterDelete(tx, name, preCk)
    JoinViews.rebuildRegistered(tx, name)
  }

  /** Zero-copy SHALLOW CLONE — the copy-on-write package-instance
    * inheritance mechanism ([[entriesAsRefs]], the reference's
    * "uploading data based on an existing data package"
    * `Kernel/README.md:13`) surfaced as a user-facing table op (Delta
    * `CREATE TABLE ... SHALLOW CLONE` semantics): `dst`'s manifest
    * points at `src`'s immutable data dirs, zero data bytes copied —
    * cloning a 100 TB table costs one manifest write. The sides then
    * diverge safely: inserts land in `dst`'s own dirs, COW
    * update/delete re-home only the clone's view, and `src` never
    * observes any of it. Vacuum already treats cross-table refs as
    * reachability roots (the package-inheritance invariant), so the
    * base's files survive even if `src` itself is later rewritten.
    * Registered constraints/views are NOT cloned — they bind to the
    * table name, and a dev clone enforcing the prod table's FKs
    * against prod's reference tables would be wrong both ways. */
  def cloneTable(src: String, dst: String): Unit =
    transaction(tx => tx.link(dst, entriesAsRefs(src)))

  // ------------------------------------------- schema administration ops

  /** Append schema ops to the table's manifest log — METADATA-ONLY: no
    * data file is read or written, so an alter of a 100 TB table is one
    * manifest commit. Backfill expressions evaluate lazily on read
    * until [[migrate]]. */
  def alterTable(name: String, ops: SchemaOp*): Unit =
    mutate(_.alterTable(name, ops: _*))

  def addColumn(name: String, column: String, sqlType: String,
      defaultExpr: Option[String] = None): Unit =
    alterTable(name, AddCol(column, sqlType, defaultExpr))
  def dropColumn(name: String, column: String): Unit =
    alterTable(name, DropCol(column))
  def renameColumn(name: String, from: String, to: String): Unit =
    alterTable(name, RenameCol(from, to))
  def castColumn(name: String, column: String, sqlType: String): Unit =
    alterTable(name, CastCol(column, sqlType))

  /** The explicit DATA-MOVING procedure: materialize the logical schema
    * physically (one rewrite), leaving a clean single-vintage manifest
    * with no pending ops. Opt-in compaction — the only schema operation
    * whose cost is proportional to table size. */
  def migrate(name: String): Unit = mutate { tx =>
    tx.create(name, tx.read(name))
  }

  /** Pending (unmaterialized) schema ops, oldest first. */
  def pendingOps(name: String): Seq[SchemaOp] =
    currentEntries(name).collect { case OpEntry(op) => op }

  /** Size-aware tail compaction — see [[Txn.compact]]. */
  def compact(name: String, smallBytes: Long = Long.MaxValue): CompactStats =
    mutate(_.compact(name, smallBytes))

  /** Partition evolution — see [[Txn.evolvePartitioning]]. */
  def evolvePartitioning(name: String, cols: Seq[String]): Unit =
    mutate(_.evolvePartitioning(name, cols))

  /** METADATA-ONLY row count (the Iceberg/Delta "count(*) from
    * statistics" fast path): Σ of per-dir row counts stamped as
    * `rows.<dir>` table props, minus the LIVE deletion-vector rows —
    * counting a 100 TB table touches zero data files once stamped.
    * Dirs missing a stamp are counted once and stamped in the same
    * call (one commit, cost ∝ unstamped dirs — parquet counts are
    * footer-metadata reads); every later call is driver-side
    * arithmetic plus one tombstone-sized vector scan. Tombstone
    * liveness is exact by construction: any rewrite/fold/compaction
    * replaces a dir under a NEW name, so a vector row is live iff its
    * leading `data-<uuid>` segment is still a manifest dir — dangling
    * vectors can never over-subtract. Schema-op lines don't move row
    * counts, so stamps survive alters. */
  def fastCount(name: String): Long = transaction(_.fastCount(name))

  /** On-disk bytes of one data dir (driver-side filesystem metadata —
    * vacuum's scale class: proportional to file count, never data). */
  private[store] def dirBytes(table: String, dir: String): Long = {
    val p = resolveDir(table, dir)
    if (!Files.exists(p)) 0L
    else walkAll(p).filter(Files.isRegularFile(_)).map(Files.size(_)).sum
  }

  // ----------------------------------------------------------- time travel

  /** Published store versions, newest first — commit-sequence order
    * (from the manifest names), not mtime. Older entries exist only as
    * far back as [[vacuum]]'s `retainVersions` kept them. */
  /** Published store manifests, newest first — ANCHORED at `_CURRENT`:
    * publish() writes the manifest file BEFORE the atomic pointer swap,
    * so a crash in between leaves an orphaned higher-sequence manifest
    * on disk that was never published. Indexing raw `store-*` listings
    * would make version 0 that aborted commit (showing its eagerly
    * written data dirs) and shift every versionsBack. */
  def versions(): Seq[String] =
    if (!Files.exists(rootPath) || !Files.exists(currentPtr)) Seq.empty
    else {
      val head = storeSeq(
        new String(Files.readAllBytes(currentPtr), "UTF-8").trim)
      listDir(rootPath).map(_.getFileName.toString)
        .filter(n => n.startsWith("store-") && storeSeq(n) <= head)
        .sortBy(storeSeq).reverse
    }

  /** RESTORE `name` to its state `versionsBack` commits ago — rollback
    * as a FORWARD commit (the Delta `RESTORE TABLE ... TO VERSION`
    * semantics, re-based on the manifest log): the new store commit
    * points the table back at the old version's immutable table
    * manifest, so restoring a 100 TB table writes ZERO data bytes and
    * zero manifest bytes — one store-pointer swap. History is
    * preserved: the botched interval stays time-travelable behind the
    * restore commit, and a restore of the restore is just another
    * pointer. Requires the target version retained by [[vacuum]]
    * (`retainVersions > versionsBack`), like [[readVersion]].
    * Constraint / materialized-view watermarks key on manifest names,
    * so a restore naturally trips every staleness fence — transparent
    * rewrites stand down (never serve pre-restore proofs) until
    * [[CheckConstraints.revalidate]] / view refresh re-stamp. */
  def restoreTable(name: String, versionsBack: Int): Unit = {
    require(versionsBack >= 1, "restore needs versionsBack >= 1")
    val vs = versions()
    require(versionsBack < vs.size,
      s"store has ${vs.size} retained version(s); cannot go back $versionsBack")
    val old = readStoreManifest(vs(versionsBack))
    val m = old.getOrElse(name, throw new IllegalArgumentException(
      s"table $name does not exist at version -$versionsBack"))
    mutate(_.relink(name, m))
  }

  /** Read `name` as of `versionsBack` commits before HEAD (0 = HEAD) —
    * snapshot isolation for free: manifests and data files are
    * immutable, so an old version is just an old pointer. Readable as
    * long as the version survives [[vacuum]] (`retainVersions >
    * versionsBack` keeps it). */
  def readVersion(name: String, versionsBack: Int): DataFrame = {
    require(versionsBack >= 0, "versionsBack must be >= 0")
    val vs = versions()
    require(versionsBack < vs.size,
      s"store has ${vs.size} retained version(s); cannot go back $versionsBack")
    val tables = readStoreManifest(vs(versionsBack))
    val m = tables.getOrElse(name, throw new IllegalArgumentException(
      s"table $name does not exist at version -$versionsBack"))
    readLog(name, readEntries(name, m))
  }

  /** Change-data feed over an APPEND-ONLY interval: the rows added to
    * `name` between version `-versionsBack` and HEAD, derived purely
    * from the manifest diff — data dirs are immutable and uniquely
    * named, so the commit log IS the change log (the Delta-CDF shape
    * on the store's own manifests). No data diffing; read cost ∝
    * added dirs, never table size — the downstream-sync primitive at
    * 100 TB. Schema-op lines stay in place, so dirs added after a
    * mid-interval schema change read under the schema they were
    * written with.
    *
    * An interval containing a REWRITE (update / delete / compaction /
    * migrate folded or replaced dirs — an old dir absent from HEAD)
    * cannot be expressed as additions; it refuses with the real
    * diagnosis instead of returning a wrong delta. */
  def changesSince(name: String, versionsBack: Int): DataFrame = {
    require(versionsBack >= 0, "versionsBack must be >= 0")
    val vs = versions()
    require(versionsBack < vs.size,
      s"store has ${vs.size} retained version(s); cannot go back $versionsBack")
    val curM = readStoreManifest(vs(0)).getOrElse(name,
      throw new IllegalArgumentException(s"table $name does not exist at HEAD"))
    val cur = readEntries(name, curM)
    // table born inside the interval → every dir is an addition
    val oldDirs: Set[String] = readStoreManifest(vs(versionsBack)).get(name)
      .map(m => readEntries(name, m).collect { case DataDir(d) => d }.toSet)
      .getOrElse(Set.empty)
    val curDirs = cur.collect { case DataDir(d) => d }
    val rewritten = oldDirs -- curDirs.toSet
    if (rewritten.nonEmpty) throw new IllegalArgumentException(
      s"changesSince($name, $versionsBack): ${rewritten.size} data dir(s) " +
        s"of the old version were rewritten or folded in the interval " +
        s"(${rewritten.take(3).mkString(", ")}) — the history is not " +
        "append-only over this window, so the delta cannot be expressed " +
        "as added rows; read full versions (readVersion) and diff, or " +
        "narrow the window")
    // merge-on-read deletes don't rewrite dirs, but they still remove
    // rows — an insert-only feed would silently diverge a replica.
    // Tombstones only ever arrive via NEW @dv dirs (applyDeletes also
    // rewrites, caught above), so an unchanged vector set proves the
    // window really is insert-only.
    val oldDvs: Set[String] = readStoreManifest(vs(versionsBack)).get(name)
      .map(m => readEntries(name, m).collect { case DvEntry(d) => d }.toSet)
      .getOrElse(Set.empty)
    val curDvs = cur.collect { case DvEntry(d) => d }.toSet
    if (oldDvs != curDvs) throw new IllegalArgumentException(
      s"changesSince($name, $versionsBack): rows were deleted " +
        "merge-on-read in the interval — the delta is not insert-only; " +
        "use changeFeed for an insert+delete CDC stream")
    val feedEntries = cur.filter {
      case DataDir(d) => !oldDirs.contains(d)
      case _ => true
    }
    // an empty interval (no commits touched the table) is a valid,
    // EMPTY feed in the table's current schema, not an error
    if (!feedEntries.exists(_.isInstanceOf[DataDir]))
      readLog(name, cur).limit(0)
    else readLog(name, feedEntries)
  }

  /** Row-level CHANGE FEED over the last `versionsBack` commits — the
    * Delta CDF shape: every row tagged `_change_type` `insert` or
    * `delete`. Inserts are the raw rows of data dirs new in the window
    * (read WITHOUT tombstone filtering: a row inserted and MOR-deleted
    * inside the window emits BOTH records, and a consumer applying
    * inserts-then-deletes converges either way); deletes are the rows
    * named by deletion-vector entries new in the window, diffed at the
    * ROW level ((file, pos) EXCEPT), so vector folds — which rewrite
    * the `@dv` dir names but preserve their rows — don't fabricate
    * deltas. Copy-on-write rewrites still refuse (their row identity
    * moved; read full versions and diff) — the MOR path is exactly
    * what makes a 100 TB CDC stream expressible as metadata-sized
    * increments. Apply with `insert` + [[Txn.deleteMorMatching]]. */
  def changeFeed(name: String, versionsBack: Int): DataFrame = {
    require(versionsBack >= 0, "versionsBack must be >= 0")
    val vs = versions()
    require(versionsBack < vs.size,
      s"store has ${vs.size} retained version(s); cannot go back $versionsBack")
    val curM = readStoreManifest(vs(0)).getOrElse(name,
      throw new IllegalArgumentException(s"table $name does not exist at HEAD"))
    val cur = readEntries(name, curM)
    val oldEntries: Seq[ManifestEntry] = readStoreManifest(vs(versionsBack))
      .get(name).map(m => readEntries(name, m)).getOrElse(Seq.empty)
    val oldDirs = oldEntries.collect { case DataDir(d) => d }.toSet
    val curDirs = cur.collect { case DataDir(d) => d }
    val rewritten = oldDirs -- curDirs.toSet
    if (rewritten.nonEmpty) throw new IllegalArgumentException(
      s"changeFeed($name, $versionsBack): ${rewritten.size} data dir(s) " +
        "were rewritten in the interval (copy-on-write) — row identity " +
        "moved; read full versions (readVersion) and diff, or narrow " +
        "the window to merge-on-read commits")
    // inserts: new dirs, raw (strip @dv lines so in-window tombstones
    // don't pre-filter them; op/property lines carry)
    val newDirEntries = cur.filter {
      case DataDir(d) => !oldDirs.contains(d)
      case _: DvEntry => false
      case _ => true
    }
    val schemaRef = readLog(name, cur.filterNot(_.isInstanceOf[DvEntry]))
    val inserts =
      if (!newDirEntries.exists(_.isInstanceOf[DataDir])) schemaRef.limit(0)
      else readLog(name, newDirEntries)
    // deletes: tombstone rows new in the window, resolved back to data
    // rows via the stamped identity
    val oldDvDirs = oldEntries.collect { case DvEntry(d) => d }
    val curDvDirs = cur.collect { case DvEntry(d) => d }
    val newTombstones = (curDvDirs, oldDvDirs) match {
      case (Nil, _) => None
      case (c, Nil) => Some(readDirs(name, c).select("file", "pos").distinct())
      case (c, o) => Some(readDirs(name, c).select("file", "pos")
        .exceptAll(readDirs(name, o).select("file", "pos")).distinct())
    }
    val deletes = newTombstones match {
      case None => schemaRef.limit(0)
      case Some(ts) =>
        val stamped = readLog(name, cur.filterNot(_.isInstanceOf[DvEntry]),
          decorate = dvStamp)
        val t = ts.select(col("file").as(TableStore.DvMatchFile),
          col("pos").as(TableStore.DvMatchPos))
        stamped.join(t,
            stamped(TableStore.DvFileCol) === t(TableStore.DvMatchFile) &&
              stamped(TableStore.DvPosCol) === t(TableStore.DvMatchPos),
            "left_semi")
          .drop(TableStore.DvFileCol, TableStore.DvPosCol)
    }
    inserts.withColumn("_change_type", lit("insert"))
      .unionByName(deletes.withColumn("_change_type", lit("delete")))
  }

  /** Row-set merge-on-read delete — see [[Txn.deleteMorMatching]].
    * Same constraint/view integration as [[deleteMor]]. */
  def deleteMorMatching(name: String, keyRows: DataFrame, keys: Seq[String]): Unit =
    mutate { tx =>
      val sel = keyRows.select(keys.map(col): _*)
      val removed = tx.read(name).join(sel, keys, "left_semi").localCheckpoint()
      try {
        CheckConstraints.restrictDeleteRows(tx, name, removed)
        val preCk = tx.manifestName(name)
        if (MaterializedView.hasRegistered(tx, name)) {
          val pre = tx.manifestName(name)
          tx.deleteMorMatching(name, sel, keys)
          MaterializedView.refreshRegisteredDelete(tx, name, removed, pre)
        } else tx.deleteMorMatching(name, sel, keys)
        CheckConstraints.advanceAfterDelete(tx, name, preCk)
        JoinViews.rebuildRegistered(tx, name)
      } finally removed.unpersist()
    }

  /** S7 backup/export: write a self-contained snapshot of the table's
    * CURRENT committed state to `destDir` (plain parquet, no manifest —
    * readable by anything; a bucketed table exports with its
    * `col=value/` layout, standard hive-partitioned parquet, so the
    * snapshot keeps pruning in whatever engine reads it). The source
    * files are immutable, so the export is consistent without blocking
    * writers: it reads the manifest-resolved file set, concurrent
    * commits don't perturb it. */
  def exportTable(name: String, destDir: String): Unit = {
    val cols = partitionColumns(name)
    val out = read(name)
    val clustered = if (cols.isEmpty) out else out.repartition(cols.map(col): _*)
    val w = clustered.write.mode("overwrite")
    (if (cols.nonEmpty) w.partitionBy(cols: _*) else w).parquet(destDir)
    // same hazard writeData guards: an EMPTY partitioned write emits
    // zero parquet files (only _SUCCESS), so the exported snapshot
    // would fail schema inference in any engine. Decide from the DATA
    // (one limit-1 probe), NOT a filesystem walk — destDir may be a
    // non-local URI (s3a://, hdfs://) where a java.nio probe always
    // reads "empty" and the marker overwrite would wipe the snapshot.
    if (cols.nonEmpty && out.isEmpty)
      out.limit(0).coalesce(1).write.mode("overwrite").parquet(destDir)
  }

  /** Unpublish tables WITHOUT deleting files — the safe removal for
    * package instances, whose data dirs may be pointer-shared with an
    * inheriting or merged-into instance (GC is a separate concern, like
    * any snapshot store's vacuum). */
  def unpublish(names: Seq[String]): Unit = commitLock.synchronized {
    // read-modify-write of the published map — under the commit lock
    // (publish reenters it), else a drop racing a concurrent commit
    // publishes a stale map and silently loses the other writer
    publish(currentTables() -- names)
  }

  /** M4 `uncache Table`: unpublish and remove the materialization. */
  def drop(name: String): Unit = {
    commitLock.synchronized { publish(currentTables() - name) }
    // file deletion stays OUTSIDE the lock: the dir is unreachable from
    // any published manifest once the publish lands, and deleting can
    // be slow on a big table — no reason to stall concurrent commits
    val dir = rootPath.resolve(name)
    if (Files.exists(dir)) walkAll(dir).reverse.foreach(Files.delete)
  }

  /** S7 "auto backup to a file group ring" (`README.md:5`): rotate the
    * table's snapshot through `slots` export directories under
    * `destDir` (`slot-0` … `slot-<slots-1>`, each an independently
    * readable plain-parquet snapshot via [[exportTable]]). The `_RING`
    * pointer advances only AFTER a successful export, so a crash
    * mid-export re-targets the same (half-written) slot on the next
    * call and never corrupts an older good slot. Returns the slot
    * written. */
  /** One lock PER RING, not the commit lock: the read-export-advance of
    * `_RING` is a read-modify-write (two unsynchronized exports would
    * pick the same slot and lose an increment), but the export itself
    * reads immutable committed files — holding `commitLock` for a
    * multi-minute full-table export would stall every concurrent
    * commit, publish, and vacuum (`drop()` keeps slow file I/O outside
    * that lock for the same reason). */
  private val ringLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def exportRing(name: String, destDir: String, slots: Int): Int =
    ringLocks.computeIfAbsent(destDir, _ => new Object).synchronized {
    require(slots >= 1, "ring needs at least one slot")
    val dir = Paths.get(destDir)
    Files.createDirectories(dir)
    val ptr = dir.resolve("_RING")
    val next =
      if (Files.exists(ptr))
        new String(Files.readAllBytes(ptr), "UTF-8").trim.toInt
      else 0
    val slot = next % slots
    exportTable(name, dir.resolve(s"slot-$slot").toString)
    val tmp = dir.resolve(s"_RING.tmp.${UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, String.valueOf(next + 1).getBytes("UTF-8"))
    Files.move(tmp, ptr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    slot
  }

  /** Incremental backup — the reference's diff-bitmap design
    * (`Kernel/README.md:6` "maintain diff bitmaps for all file groups
    * ... backup incrementally") re-based on the manifest: data dirs
    * are immutable and uniquely named, so "changed since the last
    * backup" is simply "not yet present at the destination" — the
    * manifest IS the diff bitmap. Each export copies ONLY the missing
    * dirs (bytes ∝ delta, never table size; a full-snapshot ring at
    * 100 TB would copy 100 TB per slot) and publishes a stitched
    * manifest commit at the destination.
    *
    * The destination is itself a store layout, which buys everything
    * at once: restore is `new TableStore(spark, destDir).read(name)`
    * with full manifest semantics (schema-op lines, partitioned dirs,
    * cross-table refs), older backup generations are plain
    * [[readVersion]] time travel, each export is crash-atomic (the
    * `_CURRENT` swap — a half-finished export is unreachable), and
    * ring retention is [[vacuum]] keeping the newest `retainSlots`
    * backup versions and reclaiming dirs only they referenced.
    *
    * Crash safety of the byte copy: a dir copies into a `.tmp-` name
    * and renames into place only when complete, so a later export can
    * trust `Files.exists` as "fully copied" — a half dir from a crash
    * is never mistaken for done (and is swept by the dest vacuum).
    * Serialized per destination on the ring lock, like [[exportRing]];
    * the source read is the immutable manifest-resolved file set, so
    * concurrent source commits don't perturb it. */
  def exportIncremental(name: String, destDir: String,
      retainSlots: Int = Int.MaxValue): BackupStats =
    ringLocks.computeIfAbsent(destDir, _ => new Object).synchronized {
      require(retainSlots >= 1, "must retain at least one backup version")
      val dst = new TableStore(spark, destDir)
      val entries = currentEntries(name)
      var copied = 0; var carried = 0; var bytes = 0L
      // deletion-vector dirs ship exactly like data dirs: a restore
      // missing one would resurrect its tombstoned rows
      entries.foreach {
        case e @ (DataDir(_) | DvEntry(_)) =>
          val d = e match { case DataDir(x) => x; case DvEntry(x) => x
            case _ => throw new MatchError(e) }
          // a cross-table ref (`otherTable/data-x`, package pointer
          // share) keeps its owning table's namespace at the dest, so
          // two backed-up tables sharing a dir share its copy too
          val (ownTable, dirName) =
            if (d.contains("/")) { val a = d.split("/", 2); (a(0), a(1)) }
            else (name, d)
          val src = resolveDir(name, d)
          val dstPath = Paths.get(destDir).resolve(ownTable).resolve(dirName)
          if (Files.exists(dstPath)) carried += 1
          else {
            val tmp = dstPath.resolveSibling(
              s"$dirName.tmp-${UUID.randomUUID().toString.take(8)}")
            walkAll(src).foreach { p =>
              val q = tmp.resolve(src.relativize(p).toString)
              if (Files.isDirectory(p)) Files.createDirectories(q)
              else {
                Files.createDirectories(q.getParent)
                Files.copy(p, q)
                bytes += Files.size(p)
              }
            }
            Files.move(tmp, dstPath, StandardCopyOption.ATOMIC_MOVE)
            copied += 1
          }
        case _ => () // op/property lines carry in the manifest verbatim
      }
      // the stitched manifest: identical entry lines (dir names are
      // preserved 1:1), so the dest resolves them exactly like the
      // source — one metadata-sized backup commit
      val m = dst.writeTableManifest(name, entries)
      dst.publish(dst.currentTables() + (name -> m))
      if (retainSlots != Int.MaxValue)
        dst.vacuum(retainVersions = retainSlots, graceMillis = 0L)
      BackupStats(copied, carried, bytes)
    }

  /** Store GC — the heir of the kernel's free-page list
    * (`Kernel/Source/Utility/FileBuffer.cpp:293-419`, the mechanism
    * that reclaims dead pages): copy-on-write mutations and
    * [[unpublish]] strand data dirs and manifests no commit can reach;
    * at 100 TB with frequent upserts storage would otherwise grow
    * without bound.
    *
    * Reachability roots are the `retainVersions` most recent store
    * manifests (current always included — ordered by the commit
    * sequence in the manifest NAME, not mtime, so back-to-back commits
    * in one mtime granule can't make the retained set nondeterministic;
    * older retained versions give snapshot readers / time travel a
    * grace window, the same trade as any MVCC store's vacuum), PLUS
    * every open transaction's snapshot and buffered manifests (a txn
    * writes data eagerly before publish — sweeping those would let it
    * commit pointers to deleted files). Everything reachable — table
    * manifests, their data dirs, INCLUDING cross-table refs
    * (`otherTable/data-x`, the package-inheritance pointer-share) — is
    * kept; all other `data-*` dirs, `manifest-*` files, and `store-*`
    * manifests older than `graceMillis` are deleted. The age threshold
    * (Delta-vacuum-style, conf `spark.graft.store.vacuumGraceMs`)
    * additionally protects writers this JVM can't see — another
    * driver's in-flight txn, or a file written between a txn's eager
    * write and its registration — so the in-JVM txn registry and the
    * grace window cover each other's blind spots. Runs under the commit
    * lock, so a concurrent commit can't publish a new root mid-sweep;
    * DataFrames resolved before the sweep from still-retained versions
    * stay readable. */
  def vacuum(retainVersions: Int = 1,
      graceMillis: Long = -1L): VacuumStats = commitLock.synchronized {
    require(retainVersions >= 1, "must retain at least the current version")
    if (!Files.exists(currentPtr)) return VacuumStats(0, 0, 0)
    val grace =
      if (graceMillis >= 0) graceMillis
      else spark.conf.getOption(TableStore.VacuumGraceMsConf)
        .map(_.toLong).getOrElse(TableStore.DefaultVacuumGraceMs)
    val cutoff = System.currentTimeMillis() - grace
    def oldEnough(p: Path): Boolean =
      Files.getLastModifiedTime(p).toMillis < cutoff
    val currentName = new String(Files.readAllBytes(currentPtr), "UTF-8").trim
    val allStores = listDir(rootPath)
      .filter(_.getFileName.toString.startsWith("store-"))
    val othersNewestFirst = allStores
      .map(_.getFileName.toString).filterNot(_ == currentName)
      .sortBy(storeSeq).reverse
    val retained = (currentName +: othersNewestFirst).take(retainVersions)
    // reachable (table, manifest) pairs and root-relative data dirs:
    // the retained published versions plus every open txn's view
    val liveManifests = scala.collection.mutable.Set.empty[(String, String)]
    val liveDirs = scala.collection.mutable.Set.empty[String]
    def markLive(t: String, m: String): Unit = {
      liveManifests += ((t, m))
      val mPath = rootPath.resolve(t).resolve(m)
      if (Files.exists(mPath)) readEntries(t, m).foreach {
        case DataDir(d) =>
          liveDirs += (if (d.contains("/")) d else s"$t/$d")
        // deletion-vector dirs are as load-bearing as data dirs: losing
        // one resurrects its tombstoned rows
        case DvEntry(d) =>
          liveDirs += (if (d.contains("/")) d else s"$t/$d")
        case _ => ()
      }
    }
    retained.foreach(sn => readStoreManifest(sn).foreach((markLive _).tupled))
    openTxns.asScala.foreach(_.liveRefs.foreach((markLive _).tupled))
    // dirs with a write job in flight: mtime grace does NOT cover them
    // (see writesInFlight) — a long COW rewrite must never be reclaimed
    writesInFlight.asScala.foreach(liveDirs += _)
    var dirsDeleted, manifestsDeleted, storesDeleted = 0
    allStores.filterNot(p => retained.contains(p.getFileName.toString))
      .filter(oldEnough)
      .foreach { p => Files.delete(p); storesDeleted += 1 }
    listDir(rootPath).filter(Files.isDirectory(_)).foreach { tdir =>
      val t = tdir.getFileName.toString
      listDir(tdir).foreach { child =>
        val n = child.getFileName.toString
        if (n.startsWith("manifest-") && !liveManifests((t, n)) && oldEnough(child)) {
          Files.delete(child); manifestsDeleted += 1
        } else if (n.startsWith("data-") && !liveDirs(s"$t/$n") && oldEnough(child)) {
          walkAll(child).reverse.foreach(Files.delete)
          dirsDeleted += 1
        }
      }
      if (listDir(tdir).isEmpty) Files.delete(tdir)
    }
    VacuumStats(dirsDeleted, manifestsDeleted, storesDeleted)
  }

  /** On-disk `data-*` dirs for a table (observability for GC specs —
    * [[dataDirs]] is the manifest view, this is the filesystem view). */
  def dataDirsOnDisk(name: String): Seq[String] = {
    val dir = rootPath.resolve(name)
    if (!Files.exists(dir)) Seq.empty
    else listDir(dir)
      .map(_.getFileName.toString).filter(_.startsWith("data-")).sorted
  }

  /** A table's current data-dir manifest entries (observability: specs
    * assert which dirs a mutation carried by reference vs rewrote). */
  def dataDirs(name: String): Seq[String] =
    currentEntries(name).collect { case DataDir(d) => d }

  /** Per-table committed-manifest count — the commit-log length for the
    * table (observability of the WAL analogue). */
  def versionCount(name: String): Int =
    if (!Files.exists(rootPath.resolve(name))) 0 // dropped / never created
    else listDir(rootPath.resolve(name))
      .count(_.getFileName.toString.startsWith("manifest-"))

  /** Store-level commit count (one per published transaction). */
  def commitCount(): Int =
    if (!Files.exists(rootPath)) 0
    else listDir(rootPath).count(_.getFileName.toString.startsWith("store-"))
}

/** What [[TableStore.compact]] did: dirs folded into the new one vs
  * tail dirs carried by reference (0 folded = nothing worth folding). */
final case class CompactStats(dirsFolded: Int, dirsKept: Int)

/** What a [[TableStore.vacuum]] sweep reclaimed. */
final case class VacuumStats(dataDirsDeleted: Int, manifestsDeleted: Int,
  storeManifestsDeleted: Int)

/** What one [[TableStore.exportIncremental]] moved: dirs copied this
  * export vs carried by reference (already at the destination), and
  * the bytes actually transferred — the spec's "∝ delta" evidence. */
final case class BackupStats(dirsCopied: Int, dirsCarried: Int,
  bytesCopied: Long)

/** A write-write conflict detected at publish: another transaction
  * committed to one of this txn's written tables after it opened —
  * or, when `importanceYield`, no manifest moved at all and this txn
  * yielded the commit point to an OPEN higher-importance writer of the
  * same tables (retry once that txn closes; see
  * [[TableStore.transactionImportance]]). */
final class WriteConflictException(val tables: Seq[String],
    val importanceYield: Boolean = false)
  extends RuntimeException(
    (if (importanceYield) "yield to higher-importance open txn on table(s): "
     else "write-write conflict on table(s): ") + tables.mkString(", "))

/** Buffered mutations with read-your-writes over a manifest SNAPSHOT
  * taken at open (repeatable reads — concurrent commits are invisible);
  * published atomically, with write-set validation, by
  * [[TableStore.transaction]].
  *
  * `importance` is the reference's transaction scheduling class
  * (`Kernel/Source/Utility/Lock.cpp:637-676` — the lock scheduler
  * iterates pending classes from the most important down, round-robin
  * within a class; `Rewrite.md:11-12` "submit the transaction of
  * highest cost, rollback all conflicted transactions"): under
  * write-write contention a LOWER-importance txn yields the commit
  * point to an open higher-importance writer of the same table (see
  * [[TableStore.commitAtomically]]). */
final class Txn(store: TableStore, private[store] val importance: Int = 0,
    private[store] val bypassYield: Boolean = false) {
  /** Store manifest as of txn open — both the read view and the CAS
    * expected-value at publish. */
  private val snapshot: Map[String, String] = store.currentTables()
  // volatile: commitAtomically reads OTHER open txns' write sets under
  // the commit lock while their owner threads keep buffering
  @volatile private var pending: Map[String, String] = Map.empty // table -> manifest

  /** Tables this txn has buffered writes for — its declared commit
    * intent, read cross-thread by the importance scheduler. */
  private[store] def writtenTables: Set[String] = pending.keySet

  private def manifestOf(name: String): Option[String] =
    pending.get(name).orElse(snapshot.get(name))

  /** The manifest name `name` resolves to under this txn's view —
    * read-your-writes: a table this txn already wrote resolves to the
    * PENDING manifest. What [[MaterializedView]] stamps into a view as
    * its base-manifest watermark, and what the HeroQL mutation routes
    * capture pre-write as the maintenance sync point. */
  private[graft] def manifestName(name: String): Option[String] = manifestOf(name)

  private def entriesOf(name: String): Seq[ManifestEntry] =
    manifestOf(name) match {
      case Some(m) => store.readEntries(name, m)
      case None => throw new IllegalArgumentException(s"no such table: $name")
    }

  def read(name: String): DataFrame = store.readLog(name, entriesOf(name))

  /** Table visibility under the txn's read-your-writes view: pending
    * creates count, concurrent commits don't (snapshot isolation). */
  def exists(name: String): Boolean = manifestOf(name).isDefined

  /** The table's partition-column property (empty when absent or the
    * table doesn't exist yet) — every write path consults it so a
    * partitioned table can never silently gain unpartitioned dirs. */
  private def partColsOf(name: String): Seq[String] =
    TableStore.currentLayout(
      manifestOf(name).map(m => store.readEntries(name, m)).getOrElse(Seq.empty))

  private def propsOf(name: String): Map[String, String] =
    manifestOf(name).map(m => store.readEntries(name, m)).getOrElse(Seq.empty)
      .collectFirst { case PropsEntry(ps) => ps }.getOrElse(Map.empty)

  /** Creation-pinned props under this txn's read-your-writes view
    * ([[MaterializedView]]'s watermark probe). */
  private[store] def props(name: String): Map[String, String] = propsOf(name)

  private def withPartLine(cols: Seq[String], entries: Seq[ManifestEntry],
      props: Map[String, String] = Map.empty): Seq[ManifestEntry] = {
    val withProps = if (props.isEmpty) entries else PropsEntry(props) +: entries
    if (cols.isEmpty) withProps else PartColsEntry(cols) +: withProps
  }

  /** Full replace. An existing table KEEPS its partition property and
    * its creation-pinned props — a rewrite ([[TableStore.migrate]],
    * truncate, vintage compaction) must not silently flatten a
    * partitioned corpus or drop its layout parameters. */
  def create(name: String, df: DataFrame): Unit = {
    val cols = partColsOf(name)
    pending += name -> store.writeTableManifest(name,
      withPartLine(cols, Seq(DataDir(store.writeData(name, df, cols))), propsOf(name)))
  }

  /** [[create]] with extra creation-pinned props merged over the kept
    * ones (same-key extras win) — the MV maintenance path stamps its
    * base-manifest watermark through this. */
  private[store] def createWithExtraProps(name: String, df: DataFrame,
      extra: Map[String, String]): Unit = {
    val cols = partColsOf(name)
    pending += name -> store.writeTableManifest(name,
      withPartLine(cols, Seq(DataDir(store.writeData(name, df, cols))),
        propsOf(name) ++ extra))
  }

  def createPartitioned(name: String, df: DataFrame, cols: Seq[String],
      props: Map[String, String] = Map.empty): Unit = {
    require(cols.nonEmpty, "createPartitioned needs at least one column")
    pending += name -> store.writeTableManifest(name,
      withPartLine(cols, Seq(DataDir(store.writeData(name, df, cols))), props))
  }

  /** Read cost of a manifest log is one parquet scan per maximal RUN of
    * data dirs (dirs split by an op line can't share a scan — they're in
    * different schema vintages). Alternating insert/alter would grow
    * runs, and scans, without bound. */
  private def dataRuns(entries: Seq[ManifestEntry]): Int = {
    var runs = 0; var inRun = false
    entries.foreach {
      case DataDir(_) => if (!inRun) { runs += 1; inRun = true }
      case OpEntry(_) => inRun = false
      // a layout line splits a read run too (partition evolution)
      case PartColsEntry(_) => inRun = false
      // property/visibility lines — don't split a run
      case PropsEntry(_) | DvEntry(_) => ()
    }
    runs
  }

  private def maxVintageRuns: Int =
    store.spark.conf.getOption(Txn.MaxVintageRunsConf)
      .map(_.toInt).getOrElse(Txn.DefaultMaxVintageRuns)

  def insert(name: String, rows: DataFrame): Unit = {
    val entries = manifestOf(name) match {
      case Some(m) => store.readEntries(name, m)
      case None => Seq.empty
    }
    val cols = TableStore.currentLayout(entries)
    // appended AFTER every op line: the new files carry the current
    // logical schema, so no op ever re-applies to them on read
    val newDir = DataDir(store.writeData(name, rows, cols))
    val appended = entries :+ newDir
    pending += name -> (
      if (dataRuns(appended) > maxVintageRuns) {
        // vintage-compaction guard: fold the PRE-EXISTING log into one
        // materialized dir (an opportunistic migrate — LSM-style
        // amortization, paid once every maxVintageRuns alternations,
        // keeping every read's scan count bounded); the fresh insert's
        // dir appends after it, written once either way
        val folded = store.readLog(name, entries)
        store.writeTableManifest(name, withPartLine(cols,
          Seq(DataDir(store.writeData(name, folded, cols)), newDir),
          entries.collectFirst { case PropsEntry(ps) => ps }.getOrElse(Map.empty)))
      } else store.writeTableManifest(name, appended))
    // zone-map- / bloom-tracked tables stamp the fresh dir's stats
    // into the manifest in the same commit (no-op for untracked tables)
    stampZoneStats(name)
    stampBlooms(name)
  }

  /** Merge `extra` over the table's creation-pinned props and rewrite
    * the pending manifest — the zone-map stamp primitive. */
  private[store] def mergeProps(name: String, extra: Map[String, String]): Unit =
    setProps(name, propsOf(name) ++ extra)

  /** Replace the table's prop map wholesale (merge-with-removal — the
    * row-count stamp pruning needs to DROP keys, which a merge can't). */
  private[store] def setProps(name: String, all: Map[String, String]): Unit = {
    val entries = entriesOf(name)
    pending += name -> store.writeTableManifest(name,
      PropsEntry(all) +: entries.filterNot(_.isInstanceOf[PropsEntry]))
  }

  /** Stamp zone-map stats ([[ZoneMaps.ColsProp]] columns) for every
    * data dir of `name` missing them — the [[ZoneMaps.createTracked]]
    * seed, the per-insert stamp, and the re-track hook after a
    * rewrite. No-op for untracked tables; cost is one delta-sized
    * aggregate per UNSTAMPED dir, never the table. */
  private[store] def stampZoneStats(name: String): Unit = {
    val props = propsOf(name)
    props.get(ZoneMaps.ColsProp).foreach { cs =>
      val cols = cs.split(',').toSeq.filter(_.nonEmpty)
      val entries = entriesOf(name)
      // per-dir layout: an evolved table mixes vintages, and reading a
      // dir under the wrong flag either loses its partition column or
      // fails discovery
      val layouts = TableStore.dirLayouts(entries)
      val dirs = entries.collect { case DataDir(d) => d }
      val missing = dirs
        .filter(d => !cols.forall(c => props.contains(ZoneMaps.statKey(d, c))))
      val add = missing.flatMap(d =>
        ZoneMaps.statsFor(store, name, d, cols,
          layouts.getOrElse(d, Nil).nonEmpty)).toMap
      // stale stamps (dirs a rewrite/compaction replaced, or a dropped
      // tracked column) prune in the same commit — the prop map must
      // not grow with the table's mutation history (fastCount's rows.*
      // hygiene, applied to zm.*)
      val valid = dirs.flatMap(d => cols.map(c => ZoneMaps.statKey(d, c))).toSet
      val stale = props.keySet.filter(k => k.startsWith("zm.") && !valid(k))
      if (add.nonEmpty || stale.nonEmpty)
        setProps(name, (props -- stale) ++ add)
    }
  }

  /** Stamp Bloom filters ([[BloomSkipping.ColsProp]] columns) for
    * every data dir of `name` missing them — [[stampZoneStats]]'
    * membership twin ([[BloomSkipping.createTracked]] seed, per-insert
    * stamp, post-rewrite re-track). Same hygiene: stale `bf.*` keys
    * (replaced dirs, dropped columns) prune in the same commit. */
  private[store] def stampBlooms(name: String): Unit = {
    val props = propsOf(name)
    props.get(BloomSkipping.ColsProp).foreach { cs =>
      val cols = cs.split(',').toSeq.filter(_.nonEmpty)
      val m = props.get(BloomSkipping.BitsProp).map(_.toInt)
        .getOrElse(BloomSkipping.DefaultBits)
      val h = props.get(BloomSkipping.HashesProp).map(_.toInt)
        .getOrElse(BloomSkipping.DefaultHashes)
      val entries = entriesOf(name)
      val layouts = TableStore.dirLayouts(entries)
      val dirs = entries.collect { case DataDir(d) => d }
      val missing = dirs
        .filter(d => !cols.forall(c => props.contains(BloomSkipping.statKey(d, c))))
      val add = missing.flatMap(d =>
        BloomSkipping.bloomsFor(store, name, d, cols, m, h,
          layouts.getOrElse(d, Nil).nonEmpty)).toMap
      val valid = dirs.flatMap(d => cols.map(c => BloomSkipping.statKey(d, c))).toSet
      val stale = props.keySet.filter(k => k.startsWith("bf.") && !valid(k))
      if (add.nonEmpty || stale.nonEmpty)
        setProps(name, (props -- stale) ++ add)
    }
  }

  /** SIZE-AWARE tail compaction — the streaming-sink countermeasure:
    * every micro-batch commit appends a small data dir, and a month of
    * 30-second batches is ~90k dirs even when the table fits in a
    * handful of files. [[TableStore.migrate]] folds the WHOLE log
    * (cost ∝ table size — unaffordable as maintenance on a 100 TB
    * table); compact folds only the current-vintage tail dirs at or
    * below `smallBytes` on disk, carrying every other entry BY
    * REFERENCE — cost ∝ the small-file fraction. Folding never
    * crosses an op line: an op applies to the dirs logged before it,
    * so moving a dir from one side of the line to the other would
    * change which rows the op transforms on read. Partition layout is
    * preserved (the fold re-clusters through `writeData`'s
    * partition-aware path). Old manifests stay time-travelable; the
    * superseded small dirs become unreferenced and [[TableStore.vacuum]]
    * reclaims them by retention. */
  def compact(name: String, smallBytes: Long = Long.MaxValue): CompactStats = {
    val entries = entriesOf(name)
    val cols = partColsOf(name)
    // folding never crosses an op line (ops apply to the dirs before
    // them) NOR a layout line (a pre-evolution dir moved past it would
    // be read under the wrong partitioning) — so the foldable tail is
    // uniformly in the CURRENT layout
    val lastOp = entries.lastIndexWhere(e =>
      e.isInstanceOf[OpEntry] || e.isInstanceOf[PartColsEntry])
    val (prefix, tail) = entries.splitAt(lastOp + 1)
    val tailDirs = tail.collect { case e: DataDir => e }
    val (small, big) = tailDirs.partition(e =>
      store.dirBytes(name, e.dir) <= smallBytes)
    if (small.size < 2) CompactStats(0, tailDirs.size)
    else {
      // fold through any deletion vectors: the rewritten files get NEW
      // paths, so a vector row naming an old small-dir file would
      // silently stop matching — tombstoned rows must not resurrect.
      // Vectors for prefix/big files don't match the folded subset and
      // pass through untouched (their `@dv` lines carry over below).
      val dvDirs = entries.collect { case DvEntry(d) => d }
      val raw = store.readDirs(name, small.map(_.dir), cols.nonEmpty,
        decorate = if (dvDirs.isEmpty) identity else store.dvStamp)
      val folded =
        if (dvDirs.isEmpty) raw else store.applyDv(name, dvDirs, raw)
      val newDir = DataDir(store.writeData(name, folded, cols))
      val keepNonData = tail.filterNot(_.isInstanceOf[DataDir])
      pending += name -> store.writeTableManifest(name,
        prefix ++ keepNonData ++ big :+ newDir)
      CompactStats(small.size, big.size)
    }
  }

  /** PARTITION EVOLUTION (the Iceberg headline feature, re-based on the
    * manifest log): append a layout line changing the partitioning of
    * all FUTURE writes — metadata-only, zero data moved, so evolving a
    * 100 TB table is one manifest commit. Dirs already written keep the
    * layout they were written under (each reads under its own vintage;
    * a filter on the new column dir-prunes only new-vintage dirs — the
    * Iceberg behavior); any whole-log rewrite (migrate, the vintage
    * fold) migrates history to the current layout as a side effect. */
  def evolvePartitioning(name: String, cols: Seq[String]): Unit = {
    val entries = entriesOf(name)
    val schema = store.readLog(name, entries).columns.toSet
    require(cols.forall(schema),
      s"partition cols ${cols.mkString(",")} must exist on $name")
    require(cols != TableStore.currentLayout(entries),
      s"$name already partitioned by ${cols.mkString(",")}")
    pending += name -> store.writeTableManifest(name, entries :+ PartColsEntry(cols))
  }

  /** Metadata-only row count — see [[TableStore.fastCount]]. */
  def fastCount(name: String): Long = {
    val entries = entriesOf(name)
    val dirs = entries.collect { case DataDir(d) => d }
    val layouts = TableStore.dirLayouts(entries)
    def key(d: String) = s"rows.$d"
    val have = propsOf(name)
    val missing = dirs.filterNot(d => have.contains(key(d)))
    // stale stamps (dirs a rewrite replaced) prune in the same commit —
    // the prop map must not grow with the table's mutation history
    val stale = have.keySet.filter(k =>
      k.startsWith("rows.") && !dirs.contains(k.drop(5)))
    if (missing.nonEmpty || stale.nonEmpty)
      setProps(name, (have -- stale) ++ missing.map { d =>
        key(d) -> store.readDirs(name, Seq(d),
          layouts.getOrElse(d, Nil).nonEmpty).count().toString
      }.toMap)
    val props = propsOf(name)
    val total = dirs.map(d => props(key(d)).toLong).sum
    val dvDirs = entries.collect { case DvEntry(d) => d }
    val liveTombstones =
      if (dvDirs.isEmpty) 0L
      else {
        // a vector row is live iff its data dir is still in the
        // manifest (rewrites always rename dirs); distinct defensively
        val names = dirs.map(_.split("/").last)
        store.readDirs(name, dvDirs).select(col("file"), col("pos"))
          .distinct()
          .filter(regexp_extract(col("file"), "^(data-[^/]+)", 1)
            .isin(names: _*))
          .count()
      }
    total - liveTombstones
  }

  /** Metadata-only alter: append op lines to the log. Validated against
    * the current logical schema so a bad op fails at commit, not at the
    * next read. */
  def alterTable(name: String, ops: SchemaOp*): Unit = {
    val entries = entriesOf(name)
    val cols = store.readLog(name, entries).columns.toSet
    // partition columns are baked into the physical layout (col=value/
    // dirs) and every write path's partitionBy — renaming, dropping, or
    // casting one would commit fine and then wedge every subsequent
    // write (writeData repartitions by the stale PartColsEntry name)
    val partCols = TableStore.currentLayout(entries).toSet
    ops.foreach {
      case DropCol(c) if partCols(c) => throw new IllegalArgumentException(
        s"cannot drop partition column $c of $name (layout-defining)")
      case RenameCol(from, _) if partCols(from) => throw new IllegalArgumentException(
        s"cannot rename partition column $from of $name (layout-defining)")
      case CastCol(c, _) if partCols(c) => throw new IllegalArgumentException(
        s"cannot cast partition column $c of $name (layout-defining)")
      case _ => ()
    }
    ops.foldLeft(cols) { (cs, op) =>
      op match {
        case AddCol(c, _, _) =>
          require(!cs(c), s"column $c already exists in $name"); cs + c
        case DropCol(c) =>
          require(cs(c), s"no column $c in $name"); cs - c
        case RenameCol(from, to) =>
          require(cs(from), s"no column $from in $name")
          require(!cs(to), s"column $to already exists in $name")
          cs - from + to
        case CastCol(c, _) =>
          require(cs(c), s"no column $c in $name"); cs
      }
    }
    pending += name -> store.writeTableManifest(name,
      entries ++ ops.map(OpEntry(_)))
  }

  /** FILE-LEVEL copy-on-write — the primitive behind update/delete/
    * upsert. A whole-table rewrite (`create`) makes a one-row update of a
    * 100 TB table rewrite 100 TB; instead:
    *
    *  1. one probe pass finds the data dirs that actually contain
    *     matched rows (`_metadata.file_path`, predicate pushed into the
    *     scan — metadata-scale output);
    *  2. only those dirs are re-materialized through `rewrite`;
    *  3. every untouched dir is carried into the new manifest BY
    *     REFERENCE — zero bytes moved, keeping its position in the log
    *     relative to any schema-op lines;
    *  4. `appended` rows (upsert inserts) land in their own new dir.
    *
    * Cost is proportional to the touched fraction plus one pushed-down
    * probe scan, never to table size.
    *
    * @param hits     matched-row selector; input carries a `__dir`
    *                 column naming each row's data dir (keep it in the
    *                 output)
    * @param rewrite  new content for the touched dirs' rows (no `__dir`)
    */
  private[graft] def rewriteMatched(name: String,
      hits: DataFrame => DataFrame,
      rewrite: DataFrame => DataFrame,
      appended: Option[DataFrame] = None): Unit = {
    val entries = entriesOf(name)
    val dirs = entries.collect { case DataDir(d) => d }
    // probe carries the raw file path; the filename is stripped INSIDE
    // the query, before distinct, so the collect is DIR-count rows (the
    // set the driver needs) — not file-count: a broad update of a
    // million-file table must not ship a million path strings to the
    // driver. `decorate` stamps __dir before any schema op runs, so
    // hits() sees the LOGICAL schema.
    val withDir = store.readLog(name, entries,
      decorate = _.withColumn("__dir", col("_metadata.file_path")))
    val touchedPaths = hits(withDir)
      .select(regexp_replace(col("__dir"), "/[^/]+$", "").as("__dir"))
      .distinct().collect().map(_.getString(0)).toSet
    def suffixOf(d: String) = if (d.contains("/")) s"/$d" else s"/$name/$d"
    // a partitioned table's file paths carry `col=value/` segments BELOW
    // the data dir, so the stripped parent is the partition subdir — the
    // data dir is then an inner segment, not the path's suffix
    val touched: Set[String] =
      dirs.filter { d =>
        val sfx = suffixOf(d)
        touchedPaths.exists(p => p.endsWith(sfx) || p.contains(sfx + "/"))
      }.toSet
    // the touched rows in LOGICAL schema: drop untouched dirs from the
    // log and fold — ops before a touched dir still apply to it
    val touchedLog = entries.filter {
      case DataDir(d) => touched(d)
      case _ => true
    }
    // rewritten rows and appended rows land in ONE new dir — same bytes,
    // one write job
    val newContent = (touched.nonEmpty, appended) match {
      case (true, Some(rows)) =>
        Some(rewrite(store.readLog(name, touchedLog)).unionByName(rows))
      case (true, None) => Some(rewrite(store.readLog(name, touchedLog)))
      case (false, Some(rows)) => Some(rows)
      case (false, None) => None
    }
    // untouched entries keep their log positions; the new dir appends
    // after every op line (it is already in the logical schema AND the
    // current partition layout)
    val cols = TableStore.currentLayout(entries)
    pending += name -> store.writeTableManifest(name,
      entries.filter {
        case DataDir(d) => !touched(d)
        case _ => true
      } ++ newContent.map(c => DataDir(store.writeData(name, c, cols))).toSeq)
  }

  def upsert(name: String, rows: DataFrame, keys: Seq[String]): Unit = {
    // the batch feeds three plans (probe semi-join, rewrite anti-join,
    // append) — materialize it once instead of recomputing its lineage
    // three times; an upsert batch is bounded by the caller (spillable
    // MEMORY_AND_DISK blocks, never the table side)
    val batch = rows.localCheckpoint()
    try {
      val keyRows = batch.select(keys.map(col): _*)
      rewriteMatched(name,
        hits = _.join(keyRows, keys, "left_semi"),
        rewrite = _.join(keyRows, keys, "left_anti"),
        appended = Some(batch))
      // rewriteMatched has WRITTEN the rewrite by now (writeData is
      // eager) — the blocks would otherwise outlive the upsert for the
      // driver's lifetime, accumulating dead batches on a streaming path
    } finally batch.unpersist()
  }

  /** SQL MERGE (the reference's `set`-upsert generalized to the full
    * three-branch statement, `Kernel/Drafts/draft:130`): one atomic
    * commit applying, per source row joined on `keys`,
    * WHEN MATCHED AND `deleteWhen` → DELETE, WHEN MATCHED → UPDATE
    * `updateSet`, WHEN NOT MATCHED → INSERT (when `insertNotMatched`).
    *
    * Namespace contract (a raw-`Column` stand-in for SQL's
    * `target.c`/`source.c` qualifiers): matched-branch expressions
    * (`updateSet` values, `deleteWhen`) see target columns under their
    * own names and every source NON-KEY column as `src_<name>`; the
    * NOT-MATCHED insert takes the source's target-named columns
    * directly, so an insert-bearing merge needs the source to carry the
    * full target schema. Source keys must be unique — a multi-match
    * would multiply target rows, so it refuses instead.
    *
    * Cost shape at 100 TB: one dir-granular copy-on-write — only dirs
    * holding matched keys are rewritten (same `rewriteMatched` engine
    * as update/upsert), inserts land in the same single new dir, and
    * the match probe ships dir NAMES to the driver, never rows. */
  def merge(name: String, source: DataFrame, keys: Seq[String],
      updateSet: Map[String, Column] = Map.empty,
      deleteWhen: Option[Column] = None,
      insertNotMatched: Boolean = true): Unit = {
    val targetCols = read(name).columns.toIndexedSeq
    require(keys.nonEmpty && keys.forall(targetCols.contains) &&
      keys.forall(source.columns.contains),
      s"merge keys ${keys.mkString(",")} must exist on target and source")
    val batch = source.localCheckpoint()
    try {
      require(batch.groupBy(keys.map(col): _*).count()
        .filter(col("count") > 1).isEmpty,
        "merge source keys must be unique (a multi-match would multiply rows)")
      val keyRows = batch.select(keys.map(col): _*)
      // matched-branch namespace: keys + src_-prefixed non-key columns
      // + the match marker (nullable after the left join)
      val srcSide = batch.select(keys.map(col) ++ batch.columns
        .filterNot(keys.contains).map(c => col(c).as(s"src_$c"))
        :+ lit(1).as("__m"): _*)
      val appended =
        if (!insertNotMatched) None
        else Some(batch.join(read(name).select(keys.map(col): _*),
          keys, "left_anti").select(targetCols.map(col): _*))
      rewriteMatched(name,
        hits = _.join(keyRows, keys, "left_semi"),
        rewrite = { df =>
          val joined = df.join(srcSide, keys, "left")
          val matched = col("__m") === 1
          val kept = deleteWhen match {
            case Some(d) =>
              joined.filter(not(matched && coalesce(d, lit(false))))
            case None => joined
          }
          kept.select(targetCols.map { c =>
            updateSet.get(c)
              .map(e => when(matched, e).otherwise(col(c)).as(c))
              .getOrElse(col(c))
          }: _*)
        },
        appended = appended)
    } finally batch.unpersist()
  }

  /** SQL UPDATE semantics: the condition and EVERY right-hand side see
    * pre-update values — all assignments are applied in ONE select
    * against the original frame. A per-assignment `withColumn` fold
    * would re-evaluate the condition (and any cross-referenced column)
    * against already-updated values: `a=1, b=2 WHERE a=0` would skip
    * b on the rows it just updated, and `a=b, b=a` would not swap. */
  def update(name: String, assignments: Map[String, Column], cond: Column): Unit =
    rewriteMatched(name,
      hits = _.filter(coalesce(cond, lit(false))),
      rewrite = df => df.select(df.columns.map { c =>
        assignments.get(c)
          .map(e => when(cond, e).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }.toSeq: _*))

  /** SQL DELETE semantics: only rows where cond is TRUE are removed; NULL keeps the row. */
  def delete(name: String, cond: Column): Unit =
    rewriteMatched(name,
      hits = _.filter(coalesce(cond, lit(false))),
      rewrite = _.filter(not(coalesce(cond, lit(false)))))

  /** Merge-on-read DELETE: append a deletion vector ([[DvEntry]]) of
    * the matched rows' physical identities instead of rewriting any
    * data dir. Write cost ∝ matched rows (one pushed-down probe scan +
    * a tombstone-sized parquet write); the copy-on-write [[delete]]
    * pays a rewrite of every TOUCHED dir — at 100 TB, a delete
    * scattered across many dirs is only affordable this way, with
    * [[applyDeletes]]/compaction amortizing the physical rewrite later.
    * Accumulated vectors past [[TableStore.MaxDvEntries]] fold into one
    * dir in the same commit (cost ∝ total deleted rows) so the read
    * path never unions an unbounded number of vector scans. */
  def deleteMor(name: String, cond: Column): Unit =
    deleteMorWhere(name, _.filter(coalesce(cond, lit(false))))

  /** Row-SET merge-on-read delete: tombstone the rows whose `keys`
    * match a row of `keyRows` — the CDC-apply primitive (a change
    * feed's delete rows name their victims by key, not by a predicate
    * expressible as one Column). Same cost shape as [[deleteMor]]; the
    * probe is a semi-join against the batch (small side, broadcast). */
  def deleteMorMatching(name: String, keyRows: DataFrame, keys: Seq[String]): Unit = {
    val sel = keyRows.select(keys.map(col): _*)
    deleteMorWhere(name, _.join(sel, keys, "left_semi"))
  }

  private[graft] def deleteMorWhere(name: String,
      hits: DataFrame => DataFrame): Unit = {
    val entries = entriesOf(name)
    // read through existing vectors (a row deleted twice must not be
    // tombstoned twice) in the LOGICAL schema, carrying each row's
    // physical identity from the raw scan
    val withId = store.readLog(name, entries, decorate = df => df
      .withColumn("__mor_file",
        regexp_extract(col("_metadata.file_path"), "^.*/(data-[^/]+/.*)$", 1))
      .withColumn("__mor_pos", col("_metadata.row_index")))
    val matched = hits(withId)
      .select(col("__mor_file").as("file"), col("__mor_pos").as("pos"))
    val existing = entries.collect { case DvEntry(d) => d }
    if (existing.size + 1 > TableStore.MaxDvEntries) {
      val all = store.readDirs(name, existing)
        .select(col("file"), col("pos")).unionByName(matched)
      pending += name -> store.writeTableManifest(name,
        entries.filterNot(_.isInstanceOf[DvEntry]) :+
          DvEntry(store.writeData(name, all)))
    } else
      pending += name -> store.writeTableManifest(name,
        entries :+ DvEntry(store.writeData(name, matched)))
  }

  /** Materialize accumulated deletion vectors: rewrite ONLY the data
    * dirs holding tombstoned rows (dir-granular, like [[rewriteMatched]]
    * — the vector's file paths name the touched dirs directly, no probe
    * scan needed), drop every `@dv` line, carry untouched dirs by
    * reference. Returns the number of dirs rewritten. */
  def applyDeletes(name: String): Int = {
    val entries = entriesOf(name)
    val dvDirs = entries.collect { case DvEntry(d) => d }
    if (dvDirs.isEmpty) return 0
    // vector identities are `data-<uuid>/...` relative paths — the
    // touched dir NAMES fall straight out of the first segment (the
    // collect is dir-count rows, like rewriteMatched's probe)
    val touchedDirNames = store.readDirs(name, dvDirs)
      .select(regexp_extract(col("file"), "^(data-[^/]+)", 1).as("p"))
      .distinct().collect().map(_.getString(0)).toSet
    val dirs = entries.collect { case DataDir(d) => d }
    val touched: Set[String] =
      dirs.filter(d => touchedDirNames(d.split("/").last)).toSet
    // fold ONLY the touched dirs through the log (vectors apply inside
    // readLog, so the rebuilt dir holds exactly the live rows); ops
    // before a touched dir still apply to it
    val touchedLog = entries.filter {
      case DataDir(d) => touched(d)
      case _ => true
    }
    val cols = TableStore.currentLayout(entries)
    val rebuilt =
      if (touched.isEmpty) None
      else Some(DataDir(store.writeData(name,
        store.readLog(name, touchedLog), cols)))
    pending += name -> store.writeTableManifest(name,
      entries.filter {
        case DataDir(d) => !touched(d)
        case _: DvEntry => false
        case _ => true
      } ++ rebuilt.toSeq)
    touched.size
  }

  def truncate(name: String): Unit =
    create(name, read(name).filter(lit(false)))

  /** Pointer-only publish: point `name` at existing data dirs (root-
    * relative refs from [[TableStore.entriesAsRefs]]) — no data written.
    * The copy-on-write primitive behind package-instance inheritance
    * and merge. */
  private[graft] def link(name: String, refEntries: Seq[ManifestEntry]): Unit =
    pending += name -> store.writeTableManifest(name, refEntries)

  /** Point `name` at an EXISTING (immutable) table manifest — the
    * RESTORE primitive: not even a manifest file is written, the new
    * store commit just re-references the old one. */
  private[store] def relink(name: String, manifest: String): Unit =
    pending += name -> manifest

  /** Every (table, manifest) this txn can reach: its read snapshot plus
    * buffered writes — [[TableStore.vacuum]]'s in-flight roots. */
  private[store] def liveRefs: Map[String, String] = snapshot ++ pending

  private[store] def publishAll(): Unit =
    if (pending.nonEmpty) store.commitAtomically(snapshot, pending, this)
}

object TableStore {
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The JVM-wide commit lock of a store root, keyed by its normalized
    * absolute path so every spelling of one root shares it. */
  private def commitLockFor(root: String): Object = commitLocks.computeIfAbsent(
    Paths.get(root).toAbsolutePath.normalize.toString, _ => new Object)

  /** Session override for [[TableStore.vacuum]]'s age threshold: files
    * younger than this are never reclaimed, protecting in-flight writes
    * the sweeping JVM can't observe (another driver's open txn). */
  val VacuumGraceMsConf = "spark.graft.store.vacuumGraceMs"
  val DefaultVacuumGraceMs: Long = 10 * 60 * 1000L

  /** Row-identity columns the read path stamps while deletion vectors
    * are in play (dropped before the frame leaves [[TableStore.readLog]]);
    * `__dv`-prefixed so they can't collide with the match-side aliases. */
  private[store] val DvFileCol = "__dv_file"
  private[store] val DvPosCol = "__dv_pos"
  private[store] val DvMatchFile = "__dv_match_file"
  private[store] val DvMatchPos = "__dv_match_pos"

  /** Max `@dv` manifest lines before [[Txn.deleteMor]] folds the
    * accumulated vectors (plus the new one) into a single dir — the
    * read path otherwise unions one small parquet scan per MOR delete
    * ever issued. Folding cost ∝ total deleted rows, never table size. */
  private[graft] val MaxDvEntries = 8

  /** The partition layout in effect for NEW writes: the LAST
    * `@partcols` line of the log. Partition evolution appends layout
    * lines positionally — each data dir keeps the layout that was in
    * effect when it was written (see [[Txn.evolvePartitioning]]) — so
    * "the table's partitioning" for write paths means the newest one. */
  private[store] def currentLayout(entries: Seq[ManifestEntry]): Seq[String] =
    entries.collect { case PartColsEntry(cs) => cs }.lastOption.getOrElse(Nil)

  /** Per-data-dir partition layout: the last `@partcols` line logged
    * BEFORE the dir. Legacy single-layout manifests carry the line
    * first, so every dir resolves to it — unchanged semantics. */
  private[store] def dirLayouts(entries: Seq[ManifestEntry]): Map[String, Seq[String]] = {
    var layout: Seq[String] = Nil
    val m = Map.newBuilder[String, Seq[String]]
    entries.foreach {
      case PartColsEntry(cs) => layout = cs
      case DataDir(d) => m += d -> layout
      case _ => ()
    }
    m.result()
  }
}

object Txn {
  /** Session override for the vintage-compaction threshold: the max
    * data-dir runs a table manifest may reach before an insert folds
    * the older log into one dir. Raise it where compaction rewrites
    * should be rarer (bigger tables, fewer alters); every read then
    * scans proportionally more vintages. */
  val MaxVintageRunsConf = "spark.graft.store.maxVintageRuns"
  val DefaultMaxVintageRuns = 8
}
