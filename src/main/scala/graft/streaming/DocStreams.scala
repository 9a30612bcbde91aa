package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming document-pipeline transforms: the streaming form of the
  * incremental dedup ladder ([[graft.queries.Dedup]] dd6) — documents
  * arrive in micro-batches and each batch is deduplicated against
  * everything already ingested BEFORE it lands.
  *
  * Dedup state lives in the TABLE STORE, not the streaming state store:
  * the corpus of kept texts IS the state, so it survives restarts, is
  * unbounded (no watermark eviction — a dup is a dup forever), and is
  * readable mid-stream by any other query. The 100 TB shape is
  * [[dedupSinkToStoreByFp]]: the corpus stores 8-byte fingerprints
  * hash-partitioned into `fp_bucket` directories, a driver-held bloom
  * pre-splits each batch, and the probe prunes to the candidate
  * buckets — the per-batch cost tracks the batch, not the corpus.
  */
object DocStreams {

  /** The bloom membership probe as a Column: the codegen'd
    * [[graft.functions.BloomMightContainLong]] over a broadcast of the
    * driver-maintained filter (see that class for why Spark's own
    * `might_contain`-over-a-literal is a trap: multi-MB binary literals
    * hex-render in every plan string — AQE's own explain logging OOMed
    * on it). Registered through the session registry so the Column
    * resolves in the batch's analyzer; the builder closes over the
    * broadcast, so `value` is the only SQL-visible child. The
    * registered name is suffixed with the BROADCAST id, so two probes
    * with different blooms built on one session before analysis each
    * resolve their own builder — the registration is collision-proof,
    * not merely convention-protected (the fixed-name form silently
    * probed whichever bloom registered last). */
  private[graft] def mightContainCol(spark: SparkSession,
      bloomBc: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter],
      value: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val fn = s"graft_bloom_might_contain_${bloomBc.id}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      fn,
      cs => graft.functions.BloomMightContainLong(bloomBc, cs(0)),
      "built-in")
    org.apache.spark.sql.functions.call_function(fn, value)
  }

  /** Stage `documents.parquet` as `nFiles` doc_id-range chunks with
    * ascending names AND mtimes: the file source (latestFirst=false)
    * processes oldest-first, so arrival order is doc_id order — which
    * makes "first arrival wins" equal "min doc_id wins", the property
    * the deterministic oracle needs. */
  private def stageOrderedDocs(spark: SparkSession, dir: String, nFiles: Int,
      idCol: String = "doc_id", sourceTable: String = "documents"): String = {
    val stage = Files.createTempDirectory("graft-docstream-")
    val docs = graft.Tables.scan(spark, s"$dir/$sourceTable.parquet")
    // cast before the collect: an int32-regenerated id column must not
    // ClassCastException the staging (schema-drift hardening)
    val maxId = docs.agg(max(col(idCol).cast("long"))).head.getLong(0)
    val step = maxId / nFiles + 1
    (0 until nFiles).foreach { k =>
      val part = docs.filter(col(idCol) >= k * step && col(idCol) < (k + 1) * step)
      val tmp = Files.createTempDirectory("graft-docstream-part-")
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      // Files.list holds a directory fd until the stream is closed —
      // drain under try/finally (same contract as TableStore.listDir)
      val parquetFile = {
        val written = Files.list(tmp)
        try {
          var found: java.nio.file.Path = null
          val it = written.iterator()
          while (it.hasNext) {
            val p = it.next()
            if (p.getFileName.toString.endsWith(".parquet")) found = p
          }
          found
        } finally written.close()
      }
      val dest = stage.resolve(f"chunk-$k%04d.parquet")
      Files.move(parquetFile, dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(1_000_000_000L + k * 60_000L))
    }
    stage.toString
  }

  /** Streaming incremental dedup into the table store: each micro-batch
    * keeps one row per text (min doc_id within the batch), drops texts
    * the store corpus already holds (left_anti against the committed
    * table — reading ONLY the text column, so the scan prunes to one
    * column at any width), and appends the novel rows in one atomic
    * commit. `availableNow` drains the staged chunks, then the committed
    * deduplicated corpus is returned.
    *
    * PRECONDITION: null-text rows are dropped at ingest. A null key
    * never matches an equi-join, so a null-text row would be
    * re-admitted as "novel" on EVERY micro-batch — unbounded duplicate
    * accumulation in the store. A null document is also worthless as
    * training data, so the contract is filter-at-ingest, not
    * null-keyed dedup. Same guard on [[dedupSinkToStoreByFp]]. */
  def dedupSinkToStore(spark: SparkSession, dir: String,
      store: graft.store.TableStore, table: String): DataFrame = {
    val schema = graft.Tables.schemaOf(spark, s"$dir/documents.parquet")
    val staged = stageOrderedDocs(spark, dir, nFiles = 4)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val q = src.select("doc_id", "text", "lang", "n_chars")
      .filter(col("text").isNotNull)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val firstPerText = batch.groupBy("text").agg(
          min("doc_id").as("doc_id"),
          expr("min_by(lang, doc_id)").as("lang"),
          expr("min_by(n_chars, doc_id)").as("n_chars"))
          .select("doc_id", "text", "lang", "n_chars")
        // FLIPPED membership probe: a plain batch-anti-corpus join puts
        // the CORPUS on the build/right side — broadcast-impossible and
        // shuffle-prohibitive at 10⁹ rows. Instead the corpus SCANS once
        // and probes the broadcast batch keys (left_semi, matched ≤
        // batch), then the batch anti-joins the matched set — the corpus
        // is never shuffled and never broadcast, at any corpus size.
        // persist (not localCheckpoint): freed at batch end — a stream
        // runs unbounded micro-batches and per-batch blocks must not
        // accumulate in the block manager for the stream's lifetime.
        val first = firstPerText.persist()
        try {
          val batchRows = first.count()
          val novel =
            if (store.exists(table)) {
              val matched = store.read(table).select("text").join(
                graft.operators.SizeGate.maybeBroadcast(
                  first.select("text"), batchRows, 5000000L),
                Seq("text"), "left_semi")
              first.join(graft.operators.SizeGate.maybeBroadcast(
                matched, batchRows, 5000000L), Seq("text"), "left_anti")
            } else first
          if (store.exists(table)) store.insert(table, novel)
          else store.create(table, novel)
        } finally first.unpersist(false)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-dedup-ckpt-").toString)
      .start()
    q.awaitTermination()
    store.read(table)
  }

  /** Fingerprint-keyed streaming incremental dedup — the 100 TB shape
    * of [[dedupSinkToStore]]: each batch fingerprints its texts map-side
    * (tx4's rolling hash), keeps min doc_id per fingerprint within the
    * batch, and membership-probes the COMMITTED CORPUS'S STORED `fp`
    * COLUMN — 8 bytes per corpus row through the scan and the join
    * instead of ~KB of raw text, and the corpus is never re-hashed (its
    * fingerprints were computed once, on ingest).
    *
    * The corpus table is HASH-PARTITIONED on `fp_bucket = pmod(fp, N)`
    * (`spark.graft.dedup.fpBuckets`, default 8 — raise it with corpus
    * size; buckets cost files per commit, so size N to the cluster's
    * file-handle budget, not the row count): a bloom-positive
    * batch first reduces its candidate fps to their bucket set (≤ N
    * values, one tiny distinct over batch-scale data), and the corpus
    * probe filters `fp_bucket IN (buckets)` — partition pruning opens
    * ONLY those `fp_bucket=k/` directories, so the per-batch probe
    * reads the candidate slice of the corpus, not the whole fp column
    * (at 10⁹ corpus rows, a 3-candidate batch opens ≤ 3 of N buckets).
    * StoreBucketPruningSpec pins files-read < files-total.
    *
    * Two scale mechanisms on top of [[dedupSinkToStore]]'s flipped
    * probe (corpus scans, batch broadcasts — never the reverse):
    *
    *  - A DRIVER-HELD BLOOM FILTER over every committed fingerprint
    *    pre-splits each batch: bloom-negative rows are DEFINITELY novel
    *    (no false negatives) and skip the corpus probe entirely; only
    *    bloom-positive candidates — true dups plus ~fpp of the novel —
    *    reach the corpus scan, and a batch with zero candidates skips
    *    the scan outright. The bloom is built once from the corpus on
    *    start and grown with each commit's novel fps — both via
    *    `stat.bloomFilter` (a distributed treeAggregate) with the delta
    *    merged into the driver-held filter, so no per-row collect ever
    *    runs on this path. Size it via
    *    `spark.graft.dedup.bloomExpectedItems` (default 4M ≈ 5 MB at 1%
    *    fpp; 10⁹ fps ≈ 1.2 GB — past driver budget, turn it off via
    *    `spark.graft.dedup.bloomEnabled=false` and the flipped probe
    *    alone still never shuffles the corpus).
    *  - The bloom membership test is Catalyst's BloomFilterMightContain
    *    over the serialized filter as a binary literal ([[mightContainCol]])
    *    — the batch pre-split stays inside whole-stage codegen end to
    *    end; the corpus-side probe was always codegen native. */
  def dedupSinkToStoreByFp(spark: SparkSession, dir: String,
      store: graft.store.TableStore, table: String,
      idCol: String = "doc_id", textCol: String = "text",
      carryCols: Seq[String] = Seq("lang", "n_chars"),
      sourceTable: String = "documents"): DataFrame = {
    val schema = graft.Tables.schemaOf(spark, s"$dir/$sourceTable.parquet")
    val staged = stageOrderedDocs(spark, dir, nFiles = 4, idCol, sourceTable)
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val bloomEnabled = spark.conf.getOption("spark.graft.dedup.bloomEnabled")
      .forall(_.toBoolean)
    val expectedItems = spark.conf.getOption("spark.graft.dedup.bloomExpectedItems")
      .map(_.toLong).getOrElse(4000000L)
    // the bucket modulus is a LAYOUT parameter the corpus data bakes in
    // (dirs are labeled fp_bucket = fp mod N): an existing table's
    // pinned property wins over the session conf — a restart with a
    // different conf would otherwise probe fp mod N' against dirs
    // labeled fp mod N, prune away the dir holding the match, and
    // silently re-admit duplicates. The conf only sizes NEW corpora
    // (legacy tables without the prop fall back to it unchanged).
    val fpBuckets = (if (store.exists(table))
        store.tableProps(table).get("fpBuckets").map(_.toInt) else None)
      .orElse(spark.conf.getOption("spark.graft.dedup.fpBuckets").map(_.toInt))
      .getOrElse(8)
    // periodic log compaction: the sink commits one small dir per
    // micro-batch — exactly the accumulation TableStore.compact exists
    // for. Every N commits, fold the current-vintage small dirs (big
    // dirs ride by reference, so steady-state maintenance cost tracks
    // the small-file fraction). Off by default: compaction cadence is
    // a deployment decision, and 0 keeps the gate artifacts byte-stable.
    val compactEvery = spark.conf.getOption("spark.graft.dedup.compactEvery")
      .map(_.toInt).getOrElse(0)
    val compactSmallBytes = spark.conf.getOption("spark.graft.dedup.compactSmallBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)
    var commits = 0L
    var bloom: org.apache.spark.util.sketch.BloomFilter =
      if (!bloomEnabled) null
      else if (store.exists(table)) // one distributed aggregate, once
        store.read(table).stat.bloomFilter("fp", expectedItems, 0.01)
      else org.apache.spark.util.sketch.BloomFilter.create(expectedItems, 0.01)
    // null-text guard: see dedupSinkToStore's precondition — a null fp
    // would also silently vanish from the long-typed bloom probe's
    // candidate set, making the re-admission loop invisible to the probe
    val q = src.select(idCol, (textCol +: carryCols): _*)
      .filter(col(textCol).isNotNull)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val firstPerFp = batch
          .withColumn("fp", graft.operators.TextFns.fingerprintOf(col(textCol)))
          .groupBy("fp").agg(
            min(idCol).as(idCol),
            carryCols.map(c => expr(s"min_by($c, $idCol)").as(c)): _*)
          .select(idCol, ("fp" +: carryCols): _*)
          // the corpus partition key: rows land in their fp bucket so
          // later probes prune to the buckets a batch can hit
          .withColumn("fp_bucket",
            pmod(col("fp"), lit(fpBuckets.toLong)).cast("int"))
        // persist (not localCheckpoint) + unpersist at batch end: an
        // unbounded stream must not accumulate per-batch blocks; the
        val first = firstPerFp.persist()
        // per-batch bloom broadcast, destroyed once the commit is
        // durable — never left to leak for the stream's lifetime
        var bloomBc: org.apache.spark.broadcast.Broadcast[
          org.apache.spark.util.sketch.BloomFilter] = null
        try {
          // no eager count: the candidate-stats aggregate below is the
          // first action and materializes the persisted batch — an
          // explicit count() here would be one pure-overhead job per
          // micro-batch (its row count is not needed on this path)
          val novel =
            if (!store.exists(table)) first
            else {
              val candFps =
                if (bloom == null) first.select("fp")
                else {
                  // the codegen'd broadcast-backed probe expression
                  // (BloomMightContainLong — see its doc for why NOT a
                  // binary literal): batch plan stays inside
                  // whole-stage codegen where a scala UDF broke it.
                  // Registered on the BATCH df's session: foreachBatch
                  // hands a per-batch session CLONE whose registry
                  // snapshot predates any outer-session registration.
                  bloomBc = spark.sparkContext.broadcast(bloom)
                  first.select("fp")
                    .filter(DocStreams.mightContainCol(first.sparkSession,
                      bloomBc, col("fp")))
                }
              // ONE aggregate job yields both the candidate count (the
              // broadcast size gate) and the candidate BUCKET SET (≤
              // min(candRows, fpBuckets) ints, driver-bounded by
              // construction) — same per-batch job count as a plain
              // count, and the bucket set drives partition pruning
              val candStats = candFps.agg(
                count(lit(1)).as("n"),
                collect_set(pmod(col("fp"), lit(fpBuckets.toLong)).cast("int")).as("bs"))
                .head()
              val candRows = candStats.getLong(0)
              val candBuckets = candStats.getSeq[Int](1)
              // bloom said no batch key can be in the corpus → the whole
              // batch is novel, don't even open the corpus
              val matched =
                if (candRows == 0) first.select("fp").limit(0)
                else {
                  // bucket pruning: the IN filter on the partition
                  // column prunes the corpus scan to the candidate
                  // `fp_bucket=k/` directories at planning time (the
                  // round-8 shape full-column-scanned the corpus fp
                  // column every bloom-positive batch)
                  store.read(table)
                    .filter(col("fp_bucket").isin(candBuckets: _*))
                    .select("fp").join(
                      graft.operators.SizeGate.maybeBroadcast(candFps, candRows, 5000000L),
                      Seq("fp"), "left_semi")
                }
              first.join(graft.operators.SizeGate.maybeBroadcast(
                matched, candRows, 5000000L), Seq("fp"), "left_anti")
            }
          // materialize once: the commit write and the bloom-grow
          // aggregate would otherwise each re-run the plan (two corpus
          // scans)
          val novelM = if (bloom != null) novel.persist() else novel
          try {
            if (store.exists(table)) store.insert(table, novelM)
            else store.createPartitioned(table, novelM, Seq("fp_bucket"),
              Map("fpBuckets" -> fpBuckets.toString))
            // grow with this commit's novel fps — built via
            // stat.bloomFilter (the same API that seeds the bloom at
            // stream start) and merged into the driver-held filter: no
            // per-row collect, no driver loop. Same (n, fpp) as the
            // seed filter: mergeInPlace requires compatible bit arrays
            // — which also means every delta task must allocate and
            // ship the FULL expectedItems-sized buffer (~5 MB at the
            // 4M default) regardless of content. coalesce(1) keeps
            // that to ONE buffer per batch instead of one per shuffle
            // partition (profiled at ~5s/run across 4 micro-batches
            // otherwise — the st5b ledger in SURVEY.md); the delta
            // input is ≤ one micro-batch of 8-byte fps, so single-task
            // is the right size by construction. An all-dup batch is skipped —
            // bloomFilter over zero rows yields a null buffer.
            if (bloom != null && !novelM.isEmpty) {
              val delta = novelM.select("fp").coalesce(1)
                .stat.bloomFilter("fp", expectedItems, 0.01)
              bloom.mergeInPlace(delta)
              ()
            }
            commits += 1
            // content-neutral (the oracle can't see it): folds only this
            // table's small tail dirs; partition layout — and therefore
            // the probe's bucket pruning — is preserved through the fold
            if (compactEvery > 0 && commits % compactEvery == 0) {
              store.compact(table, compactSmallBytes)
              ()
            }
          } finally if (bloom != null) novelM.unpersist(false)
        } finally {
          first.unpersist(false)
          if (bloomBc != null) bloomBc.destroy()
        }
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        Files.createTempDirectory("graft-dedup-fp-ckpt-").toString)
      .start()
    q.awaitTermination()
    store.read(table)
  }
}
