package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.store.TableStore

/** Schema administration operations (SURVEY §2.10 tail; the reference's
  * "UPDATE SCHEMA … upload a new data package definition with data
  * moving procedures", `Kernel/README.md:275-282`), oracle-checked the
  * same way as [[Mutations]]: seed a scratch store, evolve the schema
  * through metadata-only manifest commits, and compare the final
  * committed table to the equivalent relational statement in DuckDB.
  *
  * Every alter (add/rename/drop/cast) is a manifest line — zero data
  * bytes touched, so the same operations cost the same on a 100 TB
  * table; `migrate` is the explicit opt-in data-moving rewrite.
  */
object AdminQueries extends QueryPack {

  private val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderpriority")

  private def scratch(s: SparkSession): TableStore =
    new TableStore(s, Files.createTempDirectory("graft-store-").toString)

  private def evolve(st: TableStore, s: SparkSession, d: String): Unit = {
    st.create("orders", t(s, d, "orders")
      .filter(col("o_orderkey") % 10 === 0).select(cols.map(col): _*))
    // four metadata-only commits: backfill expression ("data moving
    // procedure") evaluates lazily at read until migrate
    st.addColumn("orders", "o_discounted", "DOUBLE",
      Some("o_totalprice * 0.9"))
    st.renameColumn("orders", "o_orderpriority", "priority")
    st.dropColumn("orders", "o_orderstatus")
    st.castColumn("orders", "o_custkey", "DOUBLE")
    // a post-alter insert arrives in the NEW logical schema and lands
    // after the op lines — never re-transformed on read
    st.insert("orders", t(s, d, "orders")
      .filter(col("o_orderkey") % 10 === 1)
      .select(col("o_orderkey"), col("o_custkey").cast("double"),
        col("o_totalprice"),
        (col("o_totalprice") + 500.0).as("o_discounted"),
        col("o_orderpriority").as("priority")))
  }

  /** adm1 — lazy evolution: all four alters pending in the manifest
    * log, result computed through the read-time fold. */
  private def adm1(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    evolve(st, s, d)
    st.read("orders")
  }

  /** adm2 — the full administration lifecycle: evolve, mutate THROUGH
    * the pending ops (copy-on-write update conditioned on a renamed +
    * backfilled column), then `migrate` to materialize. Must equal the
    * same relational statement — proving lazy and materialized schemas
    * are observationally identical. */
  private def adm2(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    evolve(st, s, d)
    st.update("orders",
      Map("o_totalprice" -> (col("o_totalprice") + col("o_discounted"))),
      col("priority") === "1-URGENT")
    st.migrate("orders")
    st.read("orders")
  }

  /** adm3 — GC lifecycle: copy-on-write mutations strand dirs, `vacuum`
    * reclaims them, and the post-GC read must still equal the relational
    * statement — proving the reachability sweep deletes ONLY dead files.
    * (StoreSpec asserts the disk-level reclamation; this query gives the
    * external oracle the read-after-GC correctness.) */
  private def adm3(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    st.create("orders", t(s, d, "orders")
      .filter(col("o_orderkey") % 10 === 0).select(cols.map(col): _*))
    st.update("orders",
      Map("o_totalprice" -> (col("o_totalprice") * 2.0)),
      col("o_orderpriority") === "1-URGENT")
    st.delete("orders",
      col("o_orderstatus") === "F" && col("o_custkey") % 3 === 0)
    st.vacuum(graceMillis = 0)
    st.read("orders")
  }

  /** adm4 — backup ring (`README.md:5`): three exports through a
    * 2-slot ring; the third wraps onto slot 0, which must then hold the
    * NEWEST full snapshot as plain parquet readable without the store. */
  private def adm4(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    def part(r: Int) = t(s, d, "orders")
      .filter(col("o_orderkey") % 10 === r).select(cols.map(col): _*)
    val ring = Files.createTempDirectory("graft-ring-").toString
    st.create("orders", part(0))
    st.exportRing("orders", ring, slots = 2) // slot 0: v1
    st.insert("orders", part(1))
    st.exportRing("orders", ring, slots = 2) // slot 1: v1+v2
    st.insert("orders", part(2))
    st.exportRing("orders", ring, slots = 2) // wraps: slot 0 rewritten, v1+v2+v3
    graft.Tables.scan(s, s"$ring/slot-0")
  }

  /** adm5 — time travel: three commits (create, update, delete), then
    * read ONE VERSION BACK — the update must be visible, the delete not
    * yet. Proves version resolution follows true commit order (the
    * seq-named manifests) and that an old version is just an old
    * pointer over immutable files. */
  private def adm5(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    st.create("orders", t(s, d, "orders")
      .filter(col("o_orderkey") % 10 === 0).select(cols.map(col): _*))
    st.update("orders",
      Map("o_totalprice" -> (col("o_totalprice") * 2.0)),
      col("o_orderpriority") === "1-URGENT")
    st.delete("orders", col("o_orderstatus") === "F")
    st.readVersion("orders", 1)
  }

  /** adm21 — RESTORE: create, then a botched update + delete, then
    * [[TableStore.restoreTable]] two versions back (to post-create),
    * then one MORE insert on the restored table. The read must equal
    * create-slice ∪ insert-slice exactly — the mutations' effects are
    * rolled back by a pure pointer commit (zero data written; the
    * metadata-only claim is pinned by StoreSpec), and the table stays
    * fully writable afterwards. */
  private def adm21(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    def part(r: Int) = t(s, d, "orders")
      .filter(col("o_orderkey") % 10 === r).select(cols.map(col): _*)
    st.create("orders", part(0))
    st.update("orders",
      Map("o_totalprice" -> (col("o_totalprice") * 2.0)),
      col("o_orderpriority") === "1-URGENT")
    st.delete("orders", col("o_orderstatus") === "F")
    st.restoreTable("orders", 2)
    st.insert("orders", part(1))
    st.read("orders")
  }

  /** adm6 — log compaction: a create plus five single-slice inserts
    * (the streaming-sink commit pattern — one small dir per commit),
    * compacted into one materialized dir, then one MORE insert on top —
    * the read must equal the plain relational union, proving compaction
    * is a pure physical reorganization (CompactionSpec asserts the
    * file-count collapse, the size-aware partial fold, and vacuum
    * reclamation of the superseded dirs). */
  private def adm6(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    def part(r: Int) = t(s, d, "orders")
      .filter(col("o_orderkey") % 10 === r).select(cols.map(col): _*)
    st.create("orders", part(0))
    (1 to 5).foreach(r => st.insert("orders", part(r)))
    st.compact("orders")
    st.insert("orders", part(6))
    st.read("orders")
  }

  /** adm7 — z-order clustered layout ([[graft.store.ZOrder]]): orders
    * written Morton-bucketed on (custkey, floor(totalprice)), then a
    * 2-D range query through the pruned read — only the buckets whose
    * cells intersect the box are opened (ZOrderSpec pins files-read <
    * files-on-disk for 2-D, x-only, AND y-only probes; a custkey-only
    * layout answers the price-range probe with a full scan). The exact
    * predicate re-applies after the prune, so the oracle is the plain
    * rectangle select — equality proves the conservative bucket math
    * dropped nothing. */
  private def adm7(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val rows = t(s, d, "orders").select(cols.map(col): _*)
      .withColumn("o_price_i", expr("CAST(floor(o_totalprice) AS BIGINT)"))
    graft.store.ZOrder.createZOrdered(st, "orders_z", rows,
      "o_custkey", "o_price_i", bits = 3)
    graft.store.ZOrder.rangeQuery(st, "orders_z",
      Some((20L, 80L)), Some((50000L, 200000L)))
      .select(cols.map(col): _*)
  }

  /** adm8 — CHECK constraints at the write path
    * ([[graft.store.CheckConstraints]]): declare two predicates on a
    * seeded orders table, admit a conforming batch, then attempt a
    * violating batch (negated prices) — rejected WHOLE before any
    * commit, so the final table is seed + valid batch exactly. The
    * oracle states that final content; a broken rejection (partial
    * commit, wrong predicate, unchecked batch) shifts the rows and
    * hash-mismatches. */
  private def adm8(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    st.create("orders", seedMod(s, d, 0))
    graft.store.CheckConstraints.declare(st, "orders",
      "price_nonneg", "o_totalprice >= 0.0")
    graft.store.CheckConstraints.declare(st, "orders",
      "status_enum", "o_orderstatus IN ('O', 'F', 'P')")
    graft.store.CheckConstraints.insert(st, "orders", seedMod(s, d, 1))
    val bad = seedMod(s, d, 2).withColumn("o_totalprice", -col("o_totalprice"))
    try {
      graft.store.CheckConstraints.insert(st, "orders", bad)
      throw new IllegalStateException("violating batch must be rejected")
    } catch { case _: graft.store.CheckConstraints.CheckViolation => () }
    st.read("orders")
  }

  private def seedMod(s: SparkSession, d: String, m: Int): DataFrame =
    t(s, d, "orders").filter(col("o_orderkey") % 10 === m)
      .select(cols.map(col): _*)

  /** adm13 — changefeed-driven replica sync (adm11's feed consumed for
    * real): a replica bootstraps from the source snapshot, then each
    * sync cycle applies exactly `changesSince` over the interval since
    * its last sync — cycle one folds TWO source commits in one feed
    * read, cycle two folds one. The final replica must equal the
    * source relationally, yet no cycle ever re-read the source table:
    * the feed cost is ∝ the added dirs (the commit log IS the change
    * log), which is the whole point of the primitive at 100 TB —
    * downstream sync without downstream rescans. */
  private def adm13(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    st.create("src", seedMod(s, d, 0))
    st.create("replica", st.read("src"))
    st.insert("src", seedMod(s, d, 1))
    st.insert("src", seedMod(s, d, 2))
    // two src commits since the replica's bootstrap commit
    st.insert("replica", st.changesSince("src", 2))
    st.insert("src", seedMod(s, d, 3))
    // one src commit since the last sync commit
    st.insert("replica", st.changesSince("src", 1))
    st.read("replica")
  }

  /** adm14 — zero-copy SHALLOW CLONE + divergence
    * ([[TableStore.cloneTable]]): clone a two-commit base by manifest
    * reference, then diverge the CLONE three ways (COW delete, COW
    * update, fresh insert) while the BASE must not move — the gate
    * returns both sides tagged, so a clone that shared mutable state
    * with its base (either direction) hash-mismatches. CloneSpec pins
    * the zero-copy claim itself (no parquet bytes under the clone's
    * dir at clone time). */
  private def adm14(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    st.create("orders", seedMod(s, d, 0))
    st.insert("orders", seedMod(s, d, 1))
    st.cloneTable("orders", "dev")
    st.delete("dev", col("o_orderkey") % 20 === 0)
    st.update("dev", Map("o_totalprice" -> (col("o_totalprice") * 2.0)),
      col("o_orderpriority") === "1-URGENT")
    st.insert("dev", seedMod(s, d, 2))
    st.read("orders").withColumn("side", lit("base"))
      .unionByName(st.read("dev").withColumn("side", lit("clone")))
  }

  /** adm15 — referential RESTRICT on the delete path
    * ([[graft.store.CheckConstraints.restrictDelete]], the complement
    * of adm9's insert-side orphan check — together a declared FK is
    * unbreakable through the checked front doors): the fact references
    * only EVEN custkeys, so deleting any even-key slice of the dim must
    * be refused whole (nothing commits), an odd-key slice sails
    * through, and a fact-side delete is always safe. The gate returns
    * both tables tagged — a store that let the referenced rows go, or
    * leaked a partial delete from the refused attempt, mismatches. */
  private def adm15(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    st.create("dim15", t(s, d, "customer").select("c_custkey", "c_mktsegment"))
    st.create("fact15", t(s, d, "orders")
      .filter(col("o_custkey") % 2 === 0 && col("o_orderkey") % 3 === 0)
      .select("o_orderkey", "o_custkey", "o_orderstatus"))
    graft.store.CheckConstraints.declareUnique(st, "dim15",
      "dim15_pk", Seq("c_custkey"))
    graft.store.CheckConstraints.declareForeignKey(st, "fact15",
      "fact15_fk", Seq("o_custkey"), "dim15", Seq("c_custkey"))
    try {
      st.delete("dim15", col("c_custkey") % 2 === 0)
      throw new IllegalStateException("deleting referenced keys must be refused")
    } catch { case _: graft.store.CheckConstraints.CheckViolation => () }
    st.delete("dim15", col("c_custkey") % 2 === 1 && col("c_custkey") % 3 === 0)
    st.delete("fact15", col("o_orderkey") % 9 === 0)
    st.read("dim15").select(col("c_custkey").as("k"),
        col("c_mktsegment").as("v"), lit("dim").as("side"))
      .unionByName(st.read("fact15").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("v"), lit("fact").as("side")))
  }

  /** adm9 — UNIQUE + FOREIGN-KEY constraints at the write path (the
    * reference's `Unique` index kind and enforced relationship
    * endpoints): orders keyed unique on o_orderkey with o_custkey
    * referencing a customer table. A batch that repeats committed keys
    * and a batch with orphan custkeys are each rejected whole; the
    * admitted batch lands. Final table = seed + valid batch exactly. */
  private def adm9(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    st.create("customers", t(s, d, "customer").select("c_custkey"))
    st.create("orders", seedMod(s, d, 3))
    graft.store.CheckConstraints.declareUnique(st, "orders",
      "orderkey_unique", Seq("o_orderkey"))
    graft.store.CheckConstraints.declareForeignKey(st, "orders",
      "custkey_fk", Seq("o_custkey"), "customers", Seq("c_custkey"))
    graft.store.CheckConstraints.insert(st, "orders", seedMod(s, d, 4))
    def mustReject(batch: DataFrame): Unit =
      try {
        graft.store.CheckConstraints.insert(st, "orders", batch)
        throw new IllegalStateException("violating batch must be rejected")
      } catch { case _: graft.store.CheckConstraints.CheckViolation => () }
    mustReject(seedMod(s, d, 4)) // repeats committed keys
    mustReject(seedMod(s, d, 5)
      .withColumn("o_custkey", -col("o_custkey"))) // orphan custkeys
    st.read("orders")
  }

  /** adm10 — INCREMENTAL backup ring (`Kernel/README.md:6` "diff
    * bitmaps ... backup incrementally"): three exports to the same
    * destination, each moving only the dirs new since the last (the
    * first ships the seed, the second ships one insert's dir with the
    * seed carried by reference, the third ships the update's COW
    * rewrites), then restore by OPENING THE BACKUP AS A STORE — the
    * result must equal the live table's relational statement.
    * BackupRingSpec pins the ∝-delta byte claim and ring retention;
    * this gate gives the external oracle the restore correctness. */
  private def adm10(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val dest = Files.createTempDirectory("graft-incr-").toString
    st.create("orders", seedMod(s, d, 0))
    st.exportIncremental("orders", dest, retainSlots = 2)
    st.insert("orders", seedMod(s, d, 1))
    st.exportIncremental("orders", dest, retainSlots = 2)
    st.update("orders",
      Map("o_totalprice" -> (col("o_totalprice") * 2.0)),
      col("o_orderpriority") === "1-URGENT")
    st.exportIncremental("orders", dest, retainSlots = 2)
    new TableStore(s, dest).read("orders")
  }

  /** adm11 — change-data feed over the commit log: a seed commit plus
    * two insert commits, then `changesSince(2)` — the rows ADDED in
    * the last two commits, derived purely from the manifest diff
    * (read cost ∝ added dirs, never table size — the downstream-sync
    * primitive). The oracle states the two batches relationally; a
    * feed that leaked seed rows or dropped a batch hash-mismatches.
    * StoreSpec pins the refusal on rewrite-bearing intervals. */
  private def adm11(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    st.create("orders", seedMod(s, d, 0))
    st.insert("orders", seedMod(s, d, 1))
    st.insert("orders", seedMod(s, d, 2))
    st.changesSince("orders", 2)
  }

  /** j14 — dynamic partition pruning through a store-partitioned join:
    * the fact side is a store table laid out `PARTITIONED BY
    * (event_type)`, the dim side a tiny category map filtered AFTER
    * the join key is bound — so the fact partitions that matter are
    * only known at RUNTIME, from the dim's broadcast. Spark's DPP
    * turns the dim broadcast into a partition filter on the fact scan
    * (DppSpec pins the `dynamicpruning` subquery in the plan and that
    * the scan reads strictly fewer partitions than the table holds).
    * At 100 TB this is THE mechanism that keeps star-schema joins from
    * scanning every partition of the fact table; it composes with the
    * static pruning the store already proves (bucket probe, ann6
    * `list=`). Values fix-point to micro BIGINTs before the sum. */
  private def j14(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    st.createPartitioned("ev",
      graft.streaming.EventStreams.normalizeTs(t(s, d, "events"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("CAST(floor(value * 1000000) AS BIGINT)").as("vmicro")),
      Seq("event_type"))
    import s.implicits._
    // the dim is a STORE table, not an inline relation: DPP requires a
    // visible selective predicate on the build side, and an inline
    // local relation constant-folds its filter away before the
    // pruning rule looks (DppSpec pins the fired plan)
    st.create("dim", Seq(("view", "browse"), ("click", "browse"),
      ("purchase", "buy"), ("signup", "acct"), ("error", "ops"))
      .toDF("event_type", "category"))
    st.read("ev")
      .join(st.read("dim").filter(col("category") === "browse"), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vmicro").as("sum_vmicro"))
  }

  /** adm12 — manifest zone-map data skipping
    * ([[graft.store.ZoneMaps]]): events ingested as six time-banded
    * commits (the ordered-ingest shape — each commit's dir covers a
    * narrow epoch-micro range, stamped min/max in the manifest), then
    * a 5-day range probe reads only the overlapping commit
    * (ZoneMapsSpec pins the kept-dir count and the conservative
    * fallbacks). The exact predicate re-applies after the prune, so
    * the oracle is the plain range select — equality proves the
    * interval math dropped nothing. At 100 TB this prunes from the
    * DRIVER, before a single file of the non-overlapping commits is
    * listed or opened. */
  private def adm12(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val e = graft.streaming.EventStreams.normalizeTs(t(s, d, "events"))
      .select(col("event_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tus"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("vmicro"))
    val lo = e.agg(min("tus")).head.getLong(0)
    val day = 86400000000L
    graft.store.ZoneMaps.createTracked(st, "ev",
      e.filter(col("tus") < lo + 5 * day), Seq("tus"))
    (1 to 4).foreach(i => st.insert("ev",
      e.filter(col("tus") >= lo + i * 5 * day &&
        col("tus") < lo + (i + 1) * 5 * day)))
    st.insert("ev", e.filter(col("tus") >= lo + 25 * day))
    graft.store.ZoneMaps.readRange(st, "ev", "tus",
      lo + 10 * day, lo + 15 * day - 1)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vmicro").as("sum_vmicro"))
  }

  /** adm22 — manifest Bloom-filter data skipping
    * ([[graft.store.BloomSkipping]]): events ingested as six
    * entity-banded commits (`user_id % 6` — every dir spans the FULL
    * user range, so zone maps prune nothing, but each holds a disjoint
    * user SET), then a single-user equality probe opens only the
    * commit whose filter may contain the key (BloomSpec pins kept-dir
    * counts, no-false-negative parity, and the conservative
    * fallbacks). The exact predicate re-applies after the prune, so
    * the oracle is the plain equality select. At 100 TB this is the
    * point-probe twin of adm12: driver-side manifest math prunes
    * whole commits before a file is listed. */
  private def adm22(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val e = t(s, d, "events").select(col("event_id"), col("user_id"),
      col("event_type"),
      expr("CAST(floor(value * 1000000) AS BIGINT)").as("vmicro"))
    graft.store.BloomSkipping.createTracked(st, "ev",
      e.filter(col("user_id") % 6 === 0), Seq("user_id"))
    (1 to 5).foreach(i => st.insert("ev", e.filter(col("user_id") % 6 === i)))
    val probe = e.agg(max("user_id")).head.getLong(0)
    graft.store.BloomSkipping.readEquals(st, "ev", "user_id", probe)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vmicro").as("sum_vmicro"))
  }

  /** adm23 — Bloom-pruned BATCH point lookup
    * ([[graft.store.BloomSkipping.readIn]]): the dim-key fetch shape —
    * three consecutive user ids land in three different mod-6 bands,
    * and the pruned read opens the UNION of their kept commits (one
    * tiny hash job for the whole key list), never the table. Oracle is
    * the plain IN select (the exact predicate re-applies). */
  private def adm23(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val e = t(s, d, "events").select(col("event_id"), col("user_id"),
      col("event_type"),
      expr("CAST(floor(value * 1000000) AS BIGINT)").as("vmicro"))
    graft.store.BloomSkipping.createTracked(st, "ev",
      e.filter(col("user_id") % 6 === 0), Seq("user_id"))
    (1 to 5).foreach(i => st.insert("ev", e.filter(col("user_id") % 6 === i)))
    val mx = e.agg(max("user_id")).head.getLong(0)
    graft.store.BloomSkipping.readIn(st, "ev", "user_id",
      Seq(mx, mx - 1, mx - 2))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vmicro").as("sum_vmicro"))
  }

  /** adm24 — STRING-KEY Bloom skipping: the same entity-banded layout
    * as adm22 but keyed by a string entity id (`'u' || user_id` — the
    * most common real key of a per-user layout: account names, device
    * ids, url hosts). The stamp hashes the RAW string value and the
    * probe hashes the literal identically
    * ([[graft.store.BloomSkipping]]'s per-type hash contract;
    * AutoSkipSpec pins the kept-dir count on this exact fixture), so
    * string-banded ingest prunes like numeric. Oracle is the plain
    * string-equality select — the exact predicate re-applies. */
  private def adm24(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val e = t(s, d, "events").select(col("event_id"),
      concat(lit("u"), col("user_id")).as("uid"), col("user_id"),
      col("event_type"),
      expr("CAST(floor(value * 1000000) AS BIGINT)").as("vmicro"))
    graft.store.BloomSkipping.createTracked(st, "ev",
      e.filter(col("user_id") % 6 === 0).drop("user_id"), Seq("uid"))
    (1 to 5).foreach(i =>
      st.insert("ev", e.filter(col("user_id") % 6 === i).drop("user_id")))
    val probe = "u" + e.agg(max("user_id")).head.getLong(0)
    graft.store.BloomSkipping.readEquals(st, "ev", "uid", probe)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vmicro").as("sum_vmicro"))
  }

  /** adm25 — TRANSPARENT data skipping on the plain read path
    * ([[graft.plans.AutoSkip]]): adm22's banded store probed with NO
    * special API — `store.read("ev").filter(user_id = k)` — and the
    * optimizer rule narrows the scan to the Bloom-kept commits (the
    * reference's declared-index posture, `Kernel/README.md:62-74`:
    * queries are served by indexes without naming them; AutoSkipSpec
    * pins that the optimized plan's scan opens 1 of 6 dirs). Oracle is
    * the plain equality select — transparent pruning must be
    * invisible in the answer. */
  private def adm25(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val e = t(s, d, "events").select(col("event_id"), col("user_id"),
      col("event_type"),
      expr("CAST(floor(value * 1000000) AS BIGINT)").as("vmicro"))
    graft.store.BloomSkipping.createTracked(st, "ev",
      e.filter(col("user_id") % 6 === 0), Seq("user_id"))
    (1 to 5).foreach(i => st.insert("ev", e.filter(col("user_id") % 6 === i)))
    val probe = e.agg(max("user_id")).head.getLong(0)
    val rule = graft.plans.AutoSkip.install(s, st)
    try
      st.read("ev").filter(col("user_id") === probe)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("vmicro").as("sum_vmicro"))
        .localCheckpoint() // materialize under the rule, then uninstall
    finally graft.plans.AutoSkip.uninstall(s, rule)
  }

  /** adm26 — STRING zone-map data skipping ([[graft.store.ZoneMaps]]
    * string stamps, r18): customers ingested as six NAME-banded
    * commits (names are zero-padded, so key-ordered ingest IS
    * name-ordered ingest — the URL-crawl/id-prefixed key-space shape),
    * each dir stamped with its lexicographic [min, max] name in UTF-8
    * byte order (the order Spark's UTF8String AND DuckDB's default
    * collation both use, so the oracle needs no collation pinning).
    * Two probes, both answered from pruned commits:
    *  - an explicit inclusive name RANGE ([[ZoneMaps.readRangeString]]),
    *  - a transparent PREFIX read — a plain `LIKE 'p%'` filter, which
    *    Catalyst simplifies to StartsWith and [[graft.plans.AutoSkip]]
    *    turns into the byte-interval [p, prefixUpper(p)) against the
    *    stamps; the user writes no probe API.
    * ZoneMapsSpec pins kept-dir counts, sentinel/conservative
    * fallbacks, and the transparent route; the oracle is the plain
    * predicate, so equality proves the byte-interval math drops
    * nothing. */
  private def adm26(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val c = t(s, d, "customer").select(col("c_custkey"), col("c_name"),
      expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("cents"))
    val mx = c.agg(max("c_custkey")).head.getLong(0)
    val step = mx / 6 + 1
    graft.store.ZoneMaps.createTracked(st, "cust",
      c.filter(col("c_custkey") < step), Seq("c_name"))
    (1 to 5).foreach(i => st.insert("cust",
      c.filter(col("c_custkey") >= i * step &&
        col("c_custkey") < (i + 1) * step)))
    val ranged = graft.store.ZoneMaps.readRangeString(st, "cust", "c_name",
      "Customer#000000200", "Customer#000000399")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .select(lit("range").as("probe"), col("n"), col("sum_cents"))
    val rule = graft.plans.AutoSkip.install(s, st)
    val prefixed =
      try st.read("cust").filter(col("c_name").like("Customer#0000001%"))
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        .select(lit("prefix").as("probe"), col("n"), col("sum_cents"))
        .localCheckpoint() // materialize under the rule, then uninstall
      finally graft.plans.AutoSkip.uninstall(s, rule)
    ranged.unionByName(prefixed)
  }

  /** adm27 — TIMESTAMP and DOUBLE zone-map data skipping
    * ([[graft.store.ZoneMaps]] `t64`/`d64` stamps): the two remaining
    * stampable families after r18's strings.
    *  - `ev_ts`: events ingested as six TIME-ordered commits with a
    *    native TimestampType column — the log-shipper shape — stamped
    *    with per-commit [min, max] EPOCH MICROS. Probed two ways: the
    *    explicit [[ZoneMaps.readRangeMicros]] API, and a transparent
    *    `ets >= TIMESTAMP-literal` filter that [[graft.plans.AutoSkip]]
    *    turns into a t64 interval — no manual epoch cast anywhere.
    *  - `ev_val`: the same events VALUE-banded into six commits with
    *    the raw DOUBLE column stamped as IEEE-754 total-order bits
    *    ([[ZoneMaps.sortableDoubleBits]]). Probed explicitly
    *    ([[ZoneMaps.readRangeDouble]]) and transparently
    *    (`value >= 0.8 * max`).
    * ZoneMapsSpec pins kept-dir counts plus the conservatism corners
    * (NaN, ±0.0, null-only commits); the oracle is the plain
    * predicate, so equality proves both encodings drop nothing. */
  private def adm27(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val e0 = graft.streaming.EventStreams.tsInstant(t(s, d, "events"))
    val e = e0.select(col("event_id"), col("ts").as("ets"), col("value"),
      expr("CAST(floor(value * 1000000) AS BIGINT)").as("vmicro"))
    val loMicros = e.agg(min(unix_micros(col("ets")))).head.getLong(0)
    val hiMicros = e.agg(max(unix_micros(col("ets")))).head.getLong(0)
    val step = (hiMicros - loMicros) / 6 + 1
    graft.store.ZoneMaps.createTracked(st, "ev_ts",
      e.filter(unix_micros(col("ets")) < loMicros + step), Seq("ets"))
    (1 to 5).foreach(i => st.insert("ev_ts",
      e.filter(unix_micros(col("ets")) >= loMicros + i * step &&
        unix_micros(col("ets")) < loMicros + (i + 1) * step)))
    // value-banded ingest: six bands over [0, max], the last a
    // catch-all ≥ so no row can fall between bands (band edges are
    // derived doubles; a row must land in EXACTLY one commit for the
    // store to equal the source)
    val vmax = e.agg(max("value")).head.getDouble(0)
    val vstep = vmax / 6
    graft.store.ZoneMaps.createTracked(st, "ev_val",
      e.filter(col("value") < vstep), Seq("value"))
    (1 to 4).foreach(i => st.insert("ev_val",
      e.filter(col("value") >= i * vstep && col("value") < (i + 1) * vstep)))
    st.insert("ev_val", e.filter(col("value") >= 5 * vstep))
    val t1 = loMicros + 10 * 86400000000L
    val t2 = loMicros + 15 * 86400000000L - 1
    val v1 = vmax * 0.8
    def agg(df: DataFrame, probe: String): DataFrame =
      df.agg(count(lit(1)).as("n"), sum("vmicro").as("sum_vmicro"))
        .select(lit(probe).as("probe"), col("n"), col("sum_vmicro"))
    val tsRange = agg(
      graft.store.ZoneMaps.readRangeMicros(st, "ev_ts", "ets", t1, t2),
      "ts_range")
    val valRange = agg(
      graft.store.ZoneMaps.readRangeDouble(st, "ev_val", "value", v1, vmax),
      "val_range")
    val rule = graft.plans.AutoSkip.install(s, st)
    val (tsTrans, valTrans) =
      try {
        val a = agg(st.read("ev_ts")
          .filter(col("ets") >= expr(s"timestamp_micros(${t1}L)") &&
            col("ets") <= expr(s"timestamp_micros(${t2}L)")), "ts_transparent")
          .localCheckpoint()
        val b = agg(st.read("ev_val").filter(col("value") >= v1),
          "val_transparent").localCheckpoint()
        (a, b)
      } finally graft.plans.AutoSkip.uninstall(s, rule)
    tsRange.unionByName(valRange).unionByName(tsTrans).unionByName(valTrans)
  }

  /** hq29 — the IN-list point probe FROM THE LANGUAGE: adm23's
    * Bloom-pruned batch lookup reached by a parsed HeroQL collection
    * query (`where user_id in (k1, k2, k3)`). The `in` expression
    * plans to Catalyst's `In`, and the transparent skipping rule
    * ([[graft.plans.AutoSkip]]) narrows the store scan to the union of
    * the keys' kept commits — the user writes no probe API, just the
    * query. Oracle is the plain IN select. */
  private def hq29(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val e = t(s, d, "events").select(col("event_id"), col("user_id"),
      col("event_type"),
      expr("CAST(floor(value * 1000000) AS BIGINT)").as("vmicro"))
    graft.store.BloomSkipping.createTracked(st, "ev",
      e.filter(col("user_id") % 6 === 0), Seq("user_id"))
    (1 to 5).foreach(i => st.insert("ev", e.filter(col("user_id") % 6 === i)))
    val mx = e.agg(max("user_id")).head.getLong(0)
    val rule = graft.plans.AutoSkip.install(s, st)
    try graft.heroql.HeroQL.compileCollection(
      "data Ev(event_id: int64, user_id: int64, event_type: string, vmicro: int64).",
      s"""collection_query(event_id, user_id, event_type, vmicro) :-
           Ev(event_id, user_id, event_type, vmicro),
           where user_id in ($mx, ${mx - 1}, ${mx - 2})
         group_by event_type(event_type, n = Count(event_id),
           sum_vmicro = Sum(vmicro))
         ;""",
      Map("Ev" -> st.read("ev"))).localCheckpoint()
    finally graft.plans.AutoSkip.uninstall(s, rule)
  }

  /** hq33 — the STRING-RANGE probe FROM THE LANGUAGE: adm26's
    * zone-pruned name range reached by a parsed HeroQL collection
    * query (`where name >= "…" , where name <= "…"`). The comparisons
    * plan to Catalyst ≥/≤ on a string column, and [[graft.plans
    * .AutoSkip]]'s SRange extraction narrows the store scan to the
    * commits whose stamped name interval intersects — the user writes
    * no probe API, just the predicate (hq29's posture for the string
    * index family). Oracle is the plain range select. */
  private def hq33(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    // store columns carry the DECLARED names (the planner binds decl
    // fields to catalog columns by name), and the zm stamp tracks the
    // stored name — the language predicate and the stamp meet on it
    val c = t(s, d, "customer").select(col("c_custkey").as("ck"),
      col("c_name").as("name"),
      expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("cents"))
    val mx = c.agg(max("ck")).head.getLong(0)
    val step = mx / 6 + 1
    graft.store.ZoneMaps.createTracked(st, "cust",
      c.filter(col("ck") < step), Seq("name"))
    (1 to 5).foreach(i => st.insert("cust",
      c.filter(col("ck") >= i * step && col("ck") < (i + 1) * step)))
    val rule = graft.plans.AutoSkip.install(s, st)
    try graft.heroql.HeroQL.compileCollection(
      "data Cust(ck: int64, name: string, cents: int64).",
      """collection_query(ck, name, cents) :-
           Cust(ck, name, cents),
           where name >= "Customer#000000200",
           where name <= "Customer#000000399"
         ;""",
      Map("Cust" -> st.read("cust"))).localCheckpoint()
    finally graft.plans.AutoSkip.uninstall(s, rule)
  }

  /** adm16 — ANALYZE-style table profile (the optimizer-statistics /
    * data-quality pass every warehouse ships): one row per column of
    * `orders` with non-null count, EXACT distinct count, and canonical
    * lo/hi bounds. Everything is computed in a SINGLE aggregate node
    * over ONE scan — Spark plans the 6 `count(distinct …)` via one
    * Expand (6× row multiplication map-side, the standard
    * multi-distinct shape: rows×6 flow into partial aggregates, never
    * a second scan) — then the 24 scalars pivot to rows driver-side
    * with a 6-element explode. Bounds are canonicalized BEFORE min/max
    * (price → cents BIGINT → string, timestamp → yyyy-MM-dd) so no
    * engine-specific float/date rendering enters the hash. */
  private def adm16(s: SparkSession, d: String): DataFrame = {
    val canon = t(s, d, "orders").select(
      col("o_orderkey").as("r1"),
      col("o_custkey").as("r2"),
      col("o_orderstatus").as("k3"),
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("r4"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("k5"),
      col("o_orderpriority").as("k6"))
    def stats(i: Int, src: String) = Seq(
      count(col(src)).as(s"n$i"),
      count_distinct(col(src)).as(s"d$i"),
      min(col(src)).cast("string").as(s"lo$i"),
      max(col(src)).cast("string").as(s"hi$i"))
    val names = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val srcs = Seq("r1", "r2", "k3", "r4", "k5", "k6")
    val aggs = srcs.zipWithIndex.flatMap { case (c, i) => stats(i + 1, c) }
    canon.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(names.zipWithIndex.map { case (n, ix) =>
        val i = ix + 1
        struct(lit(n).as("column_name"), col(s"n$i").as("n_nonnull"),
          col(s"d$i").as("n_distinct"), col(s"lo$i").as("lo"),
          col(s"hi$i").as("hi"))
      }: _*)).as("r"))
      .select("r.*")
  }

  /** adm17 — merge-on-read DELETE via deletion vectors
    * ([[graft.store.TableStore.deleteMor]]): each delete commits only a
    * tombstone set (bytes ∝ deleted rows, ZERO data dirs rewritten —
    * the shape that makes a scattered delete of a 100 TB table a
    * metadata-sized operation; the reference's diff-bitmap design,
    * `Kernel/README.md:6`, applied to row visibility). The gate pins
    * the full lifecycle the oracle can express: two MOR deletes with a
    * batch INSERTED BETWEEN them — rows matching the first predicate
    * but arriving after its tombstone must stay (a vector is
    * point-in-time, not a filter) while the second delete hits them —
    * then [[graft.store.TableStore.applyDeletes]] materializes the debt
    * and compaction folds, both result-invariant. DeletionVectorSpec
    * pins the physical side (zero-rewrite, vacuum/backup/clone/zonemap
    * composition). */
  private def adm17(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val base = t(s, d, "orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    st.create("t17", base.filter(col("o_orderkey") % 2 === 0))
    st.insert("t17", base.filter(col("o_orderkey") % 2 === 1))
    st.deleteMor("t17",
      col("o_orderstatus") === "F" && col("cents") % 7 === 3)
    // arrives AFTER the first tombstone: its pred-1 matches must stay
    st.insert("t17", base.filter(col("o_orderkey") % 100 === 42)
      .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
        col("o_orderstatus"), col("cents")))
    st.deleteMor("t17", col("cents") % 5 === 1)
    st.applyDeletes("t17")
    st.compact("t17")
    st.read("t17")
  }

  /** adm18 — PARTITION EVOLUTION (the Iceberg headline feature,
    * [[graft.store.TableStore.evolvePartitioning]]): re-partition a
    * table for all FUTURE writes in one metadata-only commit — zero
    * data moved, so the same operation costs the same at 100 TB. Old
    * dirs keep and read under the layout they were written in; a
    * post-evolution insert lands in the new layout; a COW delete
    * touching BOTH vintages rewrites its rows into the current layout.
    * The gate runs that full sequence and returns the final table —
    * visibility semantics under a full oracle; the physical contract
    * (zero-move evolve, per-vintage dir layouts, fold migration,
    * compaction fences) is PartitionEvolutionSpec. */
  private def adm18(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val base = t(s, d, "orders").select(
      col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"),
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    st.createPartitioned("t18", base.filter(col("o_orderkey") % 2 === 0),
      Seq("o_orderstatus"))
    st.evolvePartitioning("t18", Seq("o_orderpriority"))
    st.insert("t18", base.filter(col("o_orderkey") % 2 === 1))
    st.delete("t18", col("cents") % 9 === 4)
    st.read("t18")
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "cents")
  }

  /** adm19 — row-level CHANGE FEED + CDC replay
    * ([[TableStore.changeFeed]], the Delta CDF shape): a window holding
    * inserts AND a merge-on-read delete streams as `_change_type`
    * insert/delete rows — deletes resolved from the window's NEW
    * deletion-vector rows (row-level diff, fold-proof), inserts raw
    * new-dir rows — and a replica replaying the feed (insert +
    * [[TableStore.deleteMorMatching]]) converges to the source. The
    * gate returns BOTH sides tagged, so a feed that missed a delete,
    * duplicated an insert, or fabricated a delta hash-mismatches.
    * adm13 keeps the insert-only fast path; `changesSince` now refuses
    * MOR windows outright (CdcFeedSpec) — silent replica divergence is
    * the failure mode this closes. */
  private def adm19(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val base = t(s, d, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    st.create("src", base.filter(col("o_orderkey") % 3 === 0))
    st.create("rep", st.read("src"))
    st.insert("src", base.filter(col("o_orderkey") % 3 === 1))
    st.deleteMor("src", col("cents") % 7 === 2)
    st.insert("src", base.filter(col("o_orderkey") % 3 === 2))
    val feed = st.changeFeed("src", 3).localCheckpoint()
    st.insert("rep",
      feed.filter(col("_change_type") === "insert").drop("_change_type"))
    st.deleteMorMatching("rep",
      feed.filter(col("_change_type") === "delete").drop("_change_type"),
      Seq("o_orderkey"))
    st.read("src").withColumn("side", lit("src"))
      .unionByName(st.read("rep").withColumn("side", lit("replica")))
  }

  /** adm20 — metadata-only row counts ([[TableStore.fastCount]], the
    * Iceberg/Delta count-from-statistics fast path): per-dir `rows.*`
    * stamps + live-tombstone subtraction answer count(*) without
    * touching data files (FastCountSpec physically removes them and
    * asks again). The gate reports the fast count after an insert, a
    * merge-on-read delete, and a copy-on-write delete — the number
    * must track every mutation kind exactly, under a full oracle. */
  private def adm20(s: SparkSession, d: String): DataFrame = {
    val st = scratch(s)
    val base = t(s, d, "orders").select(col("o_orderkey"),
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    st.create("t20", base.filter(col("o_orderkey") % 2 === 0))
    st.insert("t20", base.filter(col("o_orderkey") % 2 === 1))
    val c1 = st.fastCount("t20")
    st.deleteMor("t20", col("cents") % 5 === 2)
    val c2 = st.fastCount("t20")
    st.delete("t20", col("cents") % 7 === 3)
    val c3 = st.fastCount("t20")
    import s.implicits._
    Seq(("after_insert", c1), ("after_mor_delete", c2),
      ("after_cow_delete", c3)).toDF("stage", "n_rows")
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "adm20_fast_count" -> (adm20 _),
    "adm19_change_feed" -> (adm19 _),
    "adm18_partition_evolution" -> (adm18 _),
    "adm17_deletion_vectors" -> (adm17 _),
    "adm16_table_profile" -> (adm16 _),
    "j14_dpp_partition_join" -> (j14 _),
    "adm12_zonemap_skipping" -> (adm12 _),
    "adm22_bloom_skipping" -> (adm22 _),
    "adm23_bloom_batch_lookup" -> (adm23 _),
    "adm24_bloom_string_key" -> (adm24 _),
    "adm25_transparent_skipping" -> (adm25 _),
    "adm26_string_zonemap" -> (adm26 _),
    "adm27_ts_double_zonemap" -> (adm27 _),
    "hq33_string_range_hql" -> (hq33 _),
    "hq29_bloom_in_hql" -> (hq29 _),
    "adm10_incremental_backup" -> (adm10 _),
    "adm11_changefeed" -> (adm11 _),
    "adm13_changefeed_sync" -> (adm13 _),
    "adm1_schema_evolution" -> (adm1 _),
    "adm2_schema_migrate" -> (adm2 _),
    "adm3_vacuum_gc" -> (adm3 _),
    "adm4_backup_ring" -> (adm4 _),
    "adm5_time_travel" -> (adm5 _),
    "adm21_restore_table" -> (adm21 _),
    "adm6_compaction" -> (adm6 _),
    "adm7_zorder_layout" -> (adm7 _),
    "adm8_check_constraints" -> (adm8 _),
    "adm9_key_constraints" -> (adm9 _),
    "adm14_shallow_clone" -> (adm14 _),
    "adm15_restrict_delete" -> (adm15 _),
  )

  private val evolvedSql =
    """SELECT o_orderkey, CAST(o_custkey AS DOUBLE) AS o_custkey,
              o_totalprice, o_totalprice * 0.9 AS o_discounted,
              o_orderpriority AS priority
       FROM orders WHERE o_orderkey % 10 = 0
       UNION ALL
       SELECT o_orderkey, CAST(o_custkey AS DOUBLE) AS o_custkey,
              o_totalprice, o_totalprice + 500.0 AS o_discounted,
              o_orderpriority AS priority
       FROM orders WHERE o_orderkey % 10 = 1"""

  override val oracles: Map[String, String] = Map(
    "adm20_fast_count" ->
      """WITH base AS (
           SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders)
         SELECT 'after_insert' AS stage, count(*) AS n_rows FROM base
         UNION ALL
         SELECT 'after_mor_delete', count(*) FROM base
         WHERE NOT (cents % 5 = 2)
         UNION ALL
         SELECT 'after_cow_delete', count(*) FROM base
         WHERE NOT (cents % 5 = 2) AND NOT (cents % 7 = 3)""",
    "adm19_change_feed" ->
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_orderstatus,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
         live AS (
           SELECT * FROM base
           WHERE o_orderkey % 3 IN (0, 1) AND NOT (cents % 7 = 2)
           UNION ALL
           SELECT * FROM base WHERE o_orderkey % 3 = 2)
         SELECT *, 'src' AS side FROM live
         UNION ALL
         SELECT *, 'replica' AS side FROM live""",
    "adm18_partition_evolution" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority,
                CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
         FROM orders
         WHERE NOT (CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) % 9 = 4)""",
    "adm17_deletion_vectors" ->
      """WITH base AS (
           SELECT o_orderkey, o_orderstatus,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders),
         surv1 AS (
           SELECT * FROM base
           WHERE NOT (o_orderstatus = 'F' AND cents % 7 = 3)),
         late AS (
           SELECT o_orderkey + 10000000 AS o_orderkey, o_orderstatus, cents
           FROM base WHERE o_orderkey % 100 = 42),
         live AS (
           SELECT * FROM surv1 UNION ALL SELECT * FROM late)
         SELECT o_orderkey, o_orderstatus, cents
         FROM live WHERE NOT (cents % 5 = 1)""",
    "adm16_table_profile" ->
      """WITH canon AS (
           SELECT o_orderkey AS r1, o_custkey AS r2, o_orderstatus AS k3,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS r4,
                  strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS k5,
                  o_orderpriority AS k6
           FROM orders)
         SELECT 'o_orderkey' AS column_name, count(r1) AS n_nonnull,
                count(DISTINCT r1) AS n_distinct,
                CAST(min(r1) AS VARCHAR) AS lo, CAST(max(r1) AS VARCHAR) AS hi
         FROM canon
         UNION ALL SELECT 'o_custkey', count(r2), count(DISTINCT r2),
                CAST(min(r2) AS VARCHAR), CAST(max(r2) AS VARCHAR) FROM canon
         UNION ALL SELECT 'o_orderstatus', count(k3), count(DISTINCT k3),
                min(k3), max(k3) FROM canon
         UNION ALL SELECT 'o_totalprice', count(r4), count(DISTINCT r4),
                CAST(min(r4) AS VARCHAR), CAST(max(r4) AS VARCHAR) FROM canon
         UNION ALL SELECT 'o_orderdate', count(k5), count(DISTINCT k5),
                min(k5), max(k5) FROM canon
         UNION ALL SELECT 'o_orderpriority', count(k6), count(DISTINCT k6),
                min(k6), max(k6) FROM canon""",
    "adm12_zonemap_skipping" ->
      """WITH e AS (SELECT event_type,
                    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                    CAST(floor(value * 1000000) AS BIGINT) AS vmicro
                    FROM events),
              b AS (SELECT min(tus) AS lo FROM e)
         SELECT event_type, count(*) AS n,
                CAST(sum(vmicro) AS BIGINT) AS sum_vmicro
         FROM e, b
         WHERE tus >= lo + 10 * 86400000000
           AND tus <= lo + 15 * 86400000000 - 1
         GROUP BY event_type""",
    // adm27: both probes per family state the PLAIN predicate — the
    // Spark side answers from pruned commits, so equality proves the
    // micros / total-order-bits interval math drops nothing
    "adm27_ts_double_zonemap" ->
      """WITH e AS (SELECT event_id,
                    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                    value,
                    CAST(floor(value * 1000000) AS BIGINT) AS vmicro
                    FROM events),
              b AS (SELECT min(tus) AS lo, max(value) AS vmax FROM e)
         SELECT 'ts_range' AS probe, count(*) AS n,
                CAST(sum(vmicro) AS BIGINT) AS sum_vmicro
         FROM e, b
         WHERE tus >= lo + 10 * 86400000000
           AND tus <= lo + 15 * 86400000000 - 1
         UNION ALL
         SELECT 'val_range', count(*), CAST(sum(vmicro) AS BIGINT)
         FROM e, b WHERE value >= vmax * 0.8 AND value <= vmax
         UNION ALL
         SELECT 'ts_transparent', count(*), CAST(sum(vmicro) AS BIGINT)
         FROM e, b
         WHERE tus >= lo + 10 * 86400000000
           AND tus <= lo + 15 * 86400000000 - 1
         UNION ALL
         SELECT 'val_transparent', count(*), CAST(sum(vmicro) AS BIGINT)
         FROM e, b WHERE value >= vmax * 0.8""",
    "adm26_string_zonemap" ->
      """SELECT 'range' AS probe, count(*) AS n,
                CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM customer
         WHERE c_name >= 'Customer#000000200'
           AND c_name <= 'Customer#000000399'
         UNION ALL
         SELECT 'prefix', count(*),
                CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         FROM customer WHERE c_name LIKE 'Customer#0000001%'""",
    "hq33_string_range_hql" ->
      """SELECT c_custkey AS ck, c_name AS name,
                CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
         FROM customer
         WHERE c_name >= 'Customer#000000200'
           AND c_name <= 'Customer#000000399'""",
    "adm22_bloom_skipping" ->
      """WITH p AS (SELECT max(user_id) AS k FROM events)
         SELECT event_type, count(*) AS n,
                CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                  AS sum_vmicro
         FROM events, p
         WHERE user_id = p.k
         GROUP BY event_type""",
    "adm23_bloom_batch_lookup" ->
      """WITH p AS (SELECT max(user_id) AS k FROM events)
         SELECT event_type, count(*) AS n,
                CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                  AS sum_vmicro
         FROM events, p
         WHERE user_id IN (p.k, p.k - 1, p.k - 2)
         GROUP BY event_type""",
    "adm24_bloom_string_key" ->
      """WITH p AS (SELECT 'u' || max(user_id) AS k FROM events)
         SELECT event_type, count(*) AS n,
                CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                  AS sum_vmicro
         FROM events, p
         WHERE 'u' || user_id = p.k
         GROUP BY event_type""",
    "adm25_transparent_skipping" ->
      """WITH p AS (SELECT max(user_id) AS k FROM events)
         SELECT event_type, count(*) AS n,
                CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                  AS sum_vmicro
         FROM events, p
         WHERE user_id = p.k
         GROUP BY event_type""",
    "hq29_bloom_in_hql" ->
      """WITH p AS (SELECT max(user_id) AS k FROM events)
         SELECT event_type, count(*) AS n,
                CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                  AS sum_vmicro
         FROM events, p
         WHERE user_id IN (p.k, p.k - 1, p.k - 2)
         GROUP BY event_type""",
    "j14_dpp_partition_join" ->
      """WITH dim(event_type, category) AS (VALUES
           ('view', 'browse'), ('click', 'browse'), ('purchase', 'buy'),
           ('signup', 'acct'), ('error', 'ops'))
         SELECT e.event_type, count(*) AS n,
                CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
                  AS sum_vmicro
         FROM events e JOIN dim ON e.event_type = dim.event_type
         WHERE dim.category = 'browse'
         GROUP BY e.event_type""",
    "adm1_schema_evolution" -> evolvedSql,
    "adm2_schema_migrate" ->
      s"""WITH evolved AS ($evolvedSql)
         SELECT o_orderkey, o_custkey,
                CASE WHEN priority = '1-URGENT'
                     THEN o_totalprice + o_discounted
                     ELSE o_totalprice END AS o_totalprice,
                o_discounted, priority
         FROM evolved""",
    "adm3_vacuum_gc" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderpriority = '1-URGENT'
                     THEN o_totalprice * 2.0
                     ELSE o_totalprice END AS o_totalprice,
                o_orderpriority
         FROM orders
         WHERE o_orderkey % 10 = 0
           AND NOT (o_orderstatus = 'F' AND o_custkey % 3 = 0)""",
    "adm4_backup_ring" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderpriority
         FROM orders WHERE o_orderkey % 10 IN (0, 1, 2)""",
    // seed (%10 = 0) + second export's insert (%10 = 1), urgent prices
    // doubled by the pre-third-export update — restored from backup
    "adm10_incremental_backup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderpriority = '1-URGENT'
                     THEN o_totalprice * 2.0
                     ELSE o_totalprice END AS o_totalprice,
                o_orderpriority
         FROM orders WHERE o_orderkey % 10 IN (0, 1)""",
    // the feed = exactly the two inserted batches, never the seed
    "adm11_changefeed" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderpriority
         FROM orders WHERE o_orderkey % 10 IN (1, 2)""",
    // the synced replica = the full source, without any cycle having
    // re-read it
    "adm13_changefeed_sync" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderpriority
         FROM orders WHERE o_orderkey % 10 IN (0, 1, 2, 3)""",
    // dim keeps every even key (refused delete leaked nothing) and
    // every odd key outside the %3 slice; fact loses only its own slice
    "adm15_restrict_delete" ->
      """SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS v,
                'dim' AS side
         FROM customer
         WHERE NOT (c_custkey % 2 = 1 AND c_custkey % 3 = 0)
         UNION ALL
         SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS v,
                'fact' AS side
         FROM orders
         WHERE o_custkey % 2 = 0 AND o_orderkey % 3 = 0
           AND o_orderkey % 9 <> 0""",
    // base = the two seed commits untouched; clone = the same rows
    // minus the COW delete, urgent prices doubled, plus the third batch
    "adm14_shallow_clone" ->
      """WITH seed AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                  o_orderpriority
           FROM orders WHERE o_orderkey % 10 IN (0, 1))
         SELECT *, 'base' AS side FROM seed
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN o_totalprice * 2.0 ELSE o_totalprice END AS o_totalprice,
           o_orderpriority, 'clone' AS side
         FROM seed WHERE o_orderkey % 20 <> 0
         UNION ALL
         SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderpriority, 'clone' AS side
         FROM orders WHERE o_orderkey % 10 = 2""",
    // compaction is physical only: the content is the plain union
    "adm6_compaction" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderpriority
         FROM orders WHERE o_orderkey % 10 <= 6""",
    "adm7_zorder_layout" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderpriority
         FROM orders
         WHERE o_custkey BETWEEN 20 AND 80
           AND CAST(floor(o_totalprice) AS BIGINT) BETWEEN 50000 AND 200000""",
    // seed (%10 = 3) + the admitted batch (%10 = 4); the duplicate-key
    // and orphan-fk batches must leave no trace
    "adm9_key_constraints" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderpriority
         FROM orders WHERE o_orderkey % 10 IN (3, 4)""",
    // seed (%10 = 0) + the admitted batch (%10 = 1); the rejected
    // batch (%10 = 2, negated prices) must leave no trace
    "adm8_check_constraints" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderpriority
         FROM orders WHERE o_orderkey % 10 IN (0, 1)""",
    // one version back: the update is visible, the delete is not
    "adm5_time_travel" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
                CASE WHEN o_orderpriority = '1-URGENT'
                     THEN o_totalprice * 2.0
                     ELSE o_totalprice END AS o_totalprice,
                o_orderpriority
         FROM orders WHERE o_orderkey % 10 = 0""",
    // the restored table = the pristine create slice plus the
    // post-restore insert — the update/delete interval fully undone
    "adm21_restore_table" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                o_orderpriority
         FROM orders WHERE o_orderkey % 10 IN (0, 1)""",
  )
}
