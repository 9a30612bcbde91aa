package graft.streaming

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Streaming analytics over the `events` table.
  *
  * The reference has no streaming surface (SURVEY §2.9); the closest
  * analogue is its WAL's serialized incremental apply
  * (`Kernel/Source/Utility/Log.cpp:316-387`, `Rewrite.md:11-15`), which
  * Structured Streaming's per-batch commit mirrors. The transforms below
  * are defined once over a plain DataFrame, so the SAME function runs in
  * batch mode (for the DuckDB oracle gate) and under `readStream` (the
  * ScalaTest specs drive them with watermarks through a streaming query;
  * Structured Streaming guarantees batch/stream result parity for
  * windowed aggregations once all data arrives).
  *
  * Scale: windowed aggregations shuffle on (window, key) — partial
  * aggregation applies, and the watermark bounds state size; session
  * windows use Spark's built-in session merge with the same watermark
  * bound.
  */
object EventStreams {

  /** The driver has shipped `events.ts` under two physical parquet
    * schemas across rounds: INT64 epoch-nanoseconds (arriving as a
    * LongType under `spark.sql.legacy.parquet.nanosAsLong=true`) and
    * plain `timestamp[us]` (arriving as TIMESTAMP_NTZ, or TIMESTAMP if
    * the file is flagged adjusted-to-UTC). Every events consumer goes
    * through one of the three adapters below, keyed on the column's
    * actual `DataType`, so either physical schema produces identical
    * logical values (sessions run with timezone pinned to UTC, making
    * NTZ↔instant casts value-preserving).
    */

  /** Normalize `ts` to a microsecond TIMESTAMP_NTZ — the same
    * truncation the DuckDB oracles apply with `CAST(ts AS TIMESTAMP)`. */
  def normalizeTs(events: DataFrame): DataFrame =
    events.schema("ts").dataType match {
      case LongType => // legacy INT64 epoch-nanos
        events.withColumn("ts",
          expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)"))
      case TimestampNTZType => events
      case TimestampType =>
        events.withColumn("ts", col("ts").cast(TimestampNTZType))
      case other =>
        throw new IllegalArgumentException(s"unsupported events.ts type: $other")
    }

  /** Derive an exact BIGINT epoch-nanoseconds column `out` from `ts`.
    * Long input passes through untouched (full nano precision);
    * timestamp input is microsecond physical, so `unix_micros * 1000`
    * is exact — the integer arithmetic consumers (ev1's gap islands)
    * stay in BIGINT either way, never a double. */
  def tsNanos(events: DataFrame, out: String = "tns"): DataFrame =
    events.schema("ts").dataType match {
      case LongType => events.withColumn(out, col("ts"))
      case TimestampNTZType | TimestampType =>
        events.withColumn(out,
          expr("unix_micros(CAST(ts AS TIMESTAMP)) * 1000L"))
      case other =>
        throw new IllegalArgumentException(s"unsupported events.ts type: $other")
    }

  /** Normalize `ts` to an instant TIMESTAMP (streaming watermarks
    * require TimestampType, not NTZ). */
  def tsInstant(events: DataFrame): DataFrame =
    events.schema("ts").dataType match {
      case LongType =>
        events.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        events.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => events
      case other =>
        throw new IllegalArgumentException(s"unsupported events.ts type: $other")
    }

  /** Streaming STATE-partition fan for a corpus of `corpusRows` rows —
    * the r20 guide-§2 discipline applied to streaming state: a stateful
    * operator runs one state-store task per shuffle partition per
    * micro-batch (open + update + delta-commit, a fixed ~20-40 ms each
    * on the HDFS-backed store), so inheriting the BATCH shuffle fan
    * (= core count) taxes every batch with empty-partition state
    * commits. Size the fan so each state task sees enough rows per
    * batch to amortize that fixed cost (~25k rows/task — the same
    * amortization argument as maxPartitionBytes for scans), clamped to
    * [4, defaultParallelism]. Measured on st19 at sf0.1/local[32]:
    * 32 → 4 partitions halves the drain (5.9 s → 2.9 s), rows
    * identical; at 100× the clamp returns the full parallelism, so the
    * fan GROWS with data, not with the local core count. */
  def stateFan(spark: SparkSession, corpusRows: Long): Int =
    math.max(4, math.min(
      spark.sparkContext.defaultParallelism,
      math.ceil(corpusRows / 25000.0).toInt))

  /** The events corpus's state fan — one parquet metadata count. */
  def eventsFan(spark: SparkSession, dir: String): Int =
    stateFan(spark, graft.Tables.scan(spark, s"$dir/events.parquet").count())

  /** Where [[drain]] writes a stream, and what it returns. */
  sealed trait Sink[A]
  object Sink {
    /** The memory sink; returns the drained rows. The sink's temp view
      * is dropped once the frame is resolved, so the rows live only as
      * long as the returned frame. */
    case object Memory extends Sink[DataFrame]
    /** A parquet file sink; returns the files read back under the
      * stream's own schema (which also covers an empty drain). The
      * stream-stream joins emit output linear in the data: a memory
      * sink would gather it on the driver, a file sink keeps it on
      * disk, where a real pipeline's sink puts it. */
    case object Parquet extends Sink[DataFrame]
    /** `foreachBatch(f)`: each micro-batch goes to `f`. */
    final case class ForeachBatch(f: (DataFrame, Long) => Unit) extends Sink[Unit]
  }

  /** Drain the streaming frame `df` to the end of its source (an
    * AvailableNow trigger) into `sink`, under a fresh query name and a
    * checkpoint directory deleted once the query ends.
    *
    * `stateFan` sizes the stateful operators ([[stateFan]]): their
    * state-partition count is fixed from `spark.sql.shuffle.partitions`
    * at the query's first micro-batch. The same scope pins no-data
    * micro-batches on, which the heartbeats of the watermarked gates
    * rely on to flush their last windows. The scope covers only
    * `start()`: the query clones the session when it is constructed,
    * so the stream keeps both settings and the session is restored
    * before the drain runs. */
  def drain[A](df: DataFrame, sink: Sink[A], stateFan: Option[Int] = None,
      outputMode: String = "append"): A = {
    val spark = df.sparkSession
    val name = "graft_drain_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = Files.createTempDirectory("graft-drain-ckpt-").toString
    val writer = df.writeStream.queryName(name).outputMode(outputMode)
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", ckpt)
    lazy val out = Files.createTempDirectory("graft-drain-out-").toString
    val sinkWriter = sink match {
      case Sink.Memory => writer.format("memory")
      case Sink.Parquet => writer.format("parquet").option("path", out)
      case Sink.ForeachBatch(f) => writer.foreachBatch(f)
    }
    val fanConf = stateFan.fold(Map.empty[String, String])(n => Map(
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "true"))
    try {
      val q = graft.Sessions.withConf(spark, fanConf)(sinkWriter.start())
      try q.awaitTermination() finally q.stop()
    } finally graft.Tables.rmTree(ckpt)
    sink match {
      case Sink.Memory =>
        val rows = spark.table(name)
        spark.catalog.dropTempView(name)
        rows
      case Sink.Parquet => spark.read.schema(df.schema).parquet(out)
      case Sink.ForeachBatch(_) => ()
    }
  }

  /** The staged corpus's max-ts row as a LOCAL 1-row frame, plus its
    * epoch micros — the shared base of every drained gate's
    * watermark-heartbeat machinery (r20 measurement: the old shape ran
    * one full scan+agg for maxMicros and then RE-EXECUTED a full
    * scan+TakeOrdered per heartbeat write, because `orderBy(ts
    * desc).limit(1)` was an unmaterialized frame each write recomputed
    * — three full corpus passes per query build at st19, five at the
    * outer joins). One TakeOrdered collect (a single bounded row — the
    * sanctioned metadata-scale collect) replaces them all; heartbeat
    * writes become local-relation jobs. maxMicros from the max-raw-ts
    * row equals the old agg(max(unix_micros)) because every raw-ts →
    * instant-micros mapping here is monotone (nanos div 1000; NTZ cast
    * under the fixed UTC session; identity). */
  private def maxTsBase(spark: SparkSession, staged: String,
      schema: org.apache.spark.sql.types.StructType): (Long, DataFrame) = {
    val row = spark.read.schema(schema).parquet(staged)
      .orderBy(col("ts").desc).limit(1).collect()(0)
    val base = spark.createDataFrame(
      java.util.Collections.singletonList(row), schema)
    val maxMicros = tsInstant(base)
      .select(expr("unix_micros(ts)")).head.getLong(0)
    (maxMicros, base)
  }

  /** Append one future-dated copy of [[maxTsBase]]'s row as its own
    * staged file (one micro-batch under maxFilesPerTrigger=1) — the
    * clock-advancing heartbeat. ONE heartbeat suffices (r21): the
    * heartbeat batch advances the watermark, and the trailing no-data
    * batch that [[drain]] pins on for a stateful stream is where the
    * new watermark APPLIES, flushing every closed window / unmatched
    * outer row (StreamParity pins value equality at sf0.1 and the 100×
    * corpus). `mutate` lets the outer joins stamp a
    * side's real event type (the predicate-pushdown lesson in their
    * docstrings). The ts arithmetic is the exact Spark expression the
    * per-site closures used, evaluated on the local 1-row frame. */
  private def writeHeartbeat(base: DataFrame, staged: String, days: Long,
      mutate: DataFrame => DataFrame = identity): Unit = {
    val hb = base.schema("ts").dataType match {
      case LongType =>
        base.withColumn("ts", col("ts") + lit(days * 86400L * 1000000000L))
      case _ => base.withColumn("ts", col("ts") + expr(s"INTERVAL $days DAYS"))
    }
    mutate(hb).coalesce(1).write.mode("append").parquet(staged)
  }

  /** Tumbling 1-day window per event_type: count + sum(value). The
    * value sum runs on per-row micro fixed-point BIGINTs (floor(v*1e6)
    * — deterministic on identical doubles in both engines) so the
    * cross-row sum is accumulation-order-FREE; a raw double sum's last
    * ulp depends on partition merge order and can diverge from the
    * oracle's row order (the a7 strict failure class). One double
    * division at publish. */
  def tumblingDaily(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value * 1000000) AS BIGINT)")).as("__v"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n_events"), expr("CAST(__v AS DOUBLE) / 1000000.0").as("sum_value"))

  /** Sliding 1-day window, 12-hour slide, per event_type. */
  def slidingDaily(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day", "12 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n_events"))

  /** Session windows per user with a 30-minute inactivity gap. */
  def userSessions(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("sess_start"), col("user_id"), col("n_events"))

  /** Stateful per-user running totals via `mapGroupsWithState` — the
    * custom-state surface (SURVEY §2.9 scope): state = (event count,
    * value sum) per user, updated per micro-batch, emitted in Update
    * mode. The state store bounds memory to one small tuple per active
    * user key at any scale. */
  def runningUserTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    // id-range chunks, one per trigger: the state genuinely
    // accumulates across micro-batches instead of one giant batch
    val src = chunkStream(graft.Tables.scan(spark, s"$dir/events.parquet"), "event_id")
    src.selectExpr("user_id", "value").as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state) =>
          var (n, s) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          (uid, n, s)
      }
      .toDF("user_id", "n_events", "sum_value")
  }

  /** Statement-form stream-static enrich sink (`stream enrich Rel(…)
    * with Dim(…) on l = r into T;`): the stream's rows arrive in four
    * id-chunked micro-batches, the dimension is a BROADCAST static
    * side whose source plan re-executes per batch (so a dimension
    * swapped under the running query is picked up), and each enriched
    * batch appends through one atomic store commit. The first stream
    * variable is the arrival id (the staging order), matching the
    * `stream dedup` convention. */
  def enrichSinkToStore(spark: SparkSession, dir: String,
      store: graft.store.TableStore, table: String, vars: Seq[String],
      dimPath: String, dimVars: Seq[String], leftKey: String,
      rightKey: String, sourceTable: String = "events"): DataFrame = {
    val rows = graft.Tables.scan(spark, s"$dir/$sourceTable.parquet")
    require(vars.forall(rows.schema.fieldNames.contains),
      s"stream enrich variables must name physical columns of $sourceTable")
    val dim = graft.Tables.scan(spark, dimPath)
    require(dimVars.forall(dim.schema.fieldNames.contains),
      s"stream enrich dimension variables must name physical columns of $dimPath")
    val src = chunkStream(rows, vars.head).select(vars.map(col): _*)
    val bdim = org.apache.spark.sql.functions.broadcast(
      dim.select(dimVars.map(col): _*))
    val joined =
      if (leftKey == rightKey) src.join(bdim, Seq(leftKey))
      else src.join(bdim, col(leftKey) === col(rightKey))
    drain(joined, Sink.ForeachBatch(appendTo(store, table)))
    store.read(table)
  }

  /** Stream-STATIC enrichment join (the third join shape next to
    * st8's stream-stream and j10's batch-batch): the event stream
    * joins a broadcast dimension snapshot per micro-batch — the
    * standard streaming-ETL enrich step. The static side re-resolves
    * each batch from its source, so at cluster scale the dimension can
    * be swapped under the running query; state-free (inner equi-join
    * against a static side needs no watermark, and append mode emits
    * each enriched row exactly once). */
  def streamStaticSegmentJoin(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.schemaOf(spark, s"$dir/events.parquet")
    val src = tsInstant(spark.readStream.schema(schema).parquet(stageDir(spark, dir)._1))
    val dim = org.apache.spark.sql.functions.broadcast(
      graft.Tables.scan(spark, s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment")))
    src.join(dim, col("user_id") === col("c_custkey"))
      .select(col("c_mktsegment"), col("event_id"), col("value"))
  }

  /** Watermark-bounded streaming dedup (`dropDuplicatesWithinWatermark`
    * — the state-EVICTING flavor st5's store-backed dedup does not
    * cover: state is bounded by the watermark horizon, not the corpus).
    * Every event is doubled in-flight (explode to two copies with the
    * same id and timestamp), so the duplicate always lands inside the
    * watermark and the deduped stream must equal the original —
    * an exact oracle, while still exercising eviction across the
    * four id-chunked micro-batches. */
  def watermarkDedup(spark: SparkSession, dir: String): DataFrame = {
    val src = tsInstant(
      chunkStream(graft.Tables.scan(spark, s"$dir/events.parquet"), "event_id"))
    src.select(explode(expr("array(1, 2)")).as("__copy"),
        col("event_id"), col("ts"), col("event_type"),
        col("user_id"), col("value"))
      .drop("__copy")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
  }

  /** Stage the events table into a directory (the file stream source
    * requires one), returning (path, corpus file count). A single-file
    * table is copied verbatim (the gate / bench fixture shape —
    * byte-identical staging, no Spark job; count 1, so consumers that
    * pass the count as `maxFilesPerTrigger` behave EXACTLY as the r20
    * `maxFilesPerTrigger = 1` code did at every benched/oracled
    * scale). A MULTI-file table is staged as ONE BATCH (r20: a
    * Spark-written table's part files each span the full event-time
    * range, so under per-file micro-batches every file after the first
    * would arrive entirely below the watermark the first one advanced
    * and be silently dropped as late — the outer joins' long-documented
    * hazard; the 100× probe measured st19 at 188 s over ~32 per-file
    * state-heavy batches besides). r21 (the r20 verdict's item 5): the
    * one-batch mechanism is no longer a `repartition(1)` single-task
    * funnel — the corpus is rewritten by a PARALLEL
    * repartitionByRange(ts) job and the whole file set lands in batch
    * 1 because consumers read with `maxFilesPerTrigger = <count>`; the
    * staged files get pinned ascending mtimes in ts-range order, so
    * they sort as the oldest batch ahead of the trailing heartbeat
    * files (which still advance the clock in their own later
    * batches). */
  private def stageDir(spark: SparkSession, dir: String): (String, Int) = {
    val stage = java.nio.file.Files.createTempDirectory("graft-stream-")
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    if (java.nio.file.Files.isRegularFile(src)) {
      java.nio.file.Files.copy(src, stage.resolve("events.parquet"))
      (stage.toString, 1)
    } else {
      val parts = parquetFiles(src)
      if (parts.size == 1) {
        java.nio.file.Files.copy(parts.head,
          stage.resolve(parts.head.getFileName.toString))
        (stage.toString, 1)
      } else {
        stageCorpusParallel(spark,
          graft.Tables.scan(spark, src.toString), stage.toString)
      }
    }
  }

  /** Parallel one-batch corpus write (shared by [[stageDir]] and the
    * outer joins' staging): repartitionByRange on `ts` spreads the
    * rewrite over the cluster — every task writes its own
    * range-disjoint file — and the files are stamped with pinned
    * ascending mtimes in range order so the file source lists them as
    * the oldest files (ahead of any heartbeat appended after). Returns
    * (stage path, file count) for the consumer's
    * `maxFilesPerTrigger`. */
  private def stageCorpusParallel(spark: SparkSession, df: DataFrame,
      stage: String): (String, Int) = {
    val fan = spark.sparkContext.defaultParallelism
    df.repartitionByRange(fan, col("ts")).write.mode("append").parquet(stage)
    val staged = parquetFiles(java.nio.file.Paths.get(stage))
    pinMtimes(staged)
    (stage, staged.size)
  }

  /** The `.parquet` files directly under `dir`, sorted by name. The
    * listing stream is closed: `Files.list` holds a directory handle
    * until it is (the hazard `TableStore.listDir` documents). */
  private def parquetFiles(dir: Path): Seq[Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  /** Give `files`, in order, strictly ascending mtimes one second
    * apart and firmly in the past: the file source takes the oldest
    * file first, and a file appended later (a heartbeat) lists after
    * every one of them — even when the writes shared a clock tick. */
  private def pinMtimes(files: Seq[Path]): Unit = {
    val t0 = System.currentTimeMillis() - (files.size + 3600L) * 1000L
    files.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(t0 + i * 1000L))
    }
  }

  /** Stage `rows` as `n` parquet chunks for a file stream: chunk k
    * (`chunk-%04d.parquet`, mtimes ascending in chunk order, see
    * [[pinMtimes]]) holds the rows of the k-th equal range of
    * `chunkCol` over [0, max] (ids), or with `ntiles` the k-th
    * `chunkCol`-ordered ntile (event time: chunk k+1 starts at or after
    * chunk k ends, the arrival contract of a time-ordered stream; the
    * global ntile sort is STAGING-only code for the local gates — a
    * real stream arrives already ordered). Returns the stage path. */
  private[graft] def stageChunks(rows: DataFrame, chunkCol: String, n: Int,
      ntiles: Boolean = false): String = {
    val chunk =
      if (ntiles) ntile(n).over(Window.orderBy(col(chunkCol))) - 1
      else {
        // cast before the collect: an int32-regenerated id column must
        // not ClassCastException the staging (schema-drift hardening)
        val maxId = rows.agg(max(col(chunkCol).cast("long"))).head.getLong(0)
        (col(chunkCol).cast("long") / (maxId / n + 1)).cast("int")
      }
    val tagged = rows.withColumn("__chunk", chunk)
    val stage = Files.createTempDirectory("graft-chunks-")
    val chunks = (0 until n).map { k =>
      // written under a hidden name, then moved to its chunk name
      val tmp = stage.resolve(s"_chunk-$k")
      tagged.filter(col("__chunk") === k).drop("__chunk")
        .coalesce(1).write.parquet(tmp.toString)
      val file = stage.resolve(f"chunk-$k%04d.parquet")
      Files.move(parquetFiles(tmp).head, file)
      graft.Tables.rmTree(tmp.toString)
      file
    }
    pinMtimes(chunks)
    stage.toString
  }

  /** [[stageChunks]] read back as a file stream that delivers one
    * chunk per micro-batch, in chunk order. */
  private[graft] def chunkStream(rows: DataFrame, chunkCol: String, n: Int = 4,
      ntiles: Boolean = false): DataFrame =
    rows.sparkSession.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1").parquet(stageChunks(rows, chunkCol, n, ntiles))

  /** The `foreachBatch` body of the append sinks: each batch lands in
    * `table` through one atomic store commit. */
  private def appendTo(store: graft.store.TableStore, table: String)(
      batch: DataFrame, batchId: Long): Unit =
    if (store.exists(table)) store.insert(table, batch)
    else store.create(table, batch)

  /** Gap-based sessionization with per-user session ordinals (the ev1
    * islands analysis; the form `session_window` cannot express —
    * ordinals need the user's full ordered history). All arithmetic in
    * exact BIGINT nanos from [[tsNanos]]; integer div, never `/` —
    * epoch nanos exceed double's 53-bit mantissa. The lag/running-sum
    * windows partition per user: bounded by one user's event count,
    * never a viral key; one exchange carrying (user, tns, value, id). */
  def sessionize(events: DataFrame, gapNanos: Long,
      userCol: String = "user_id", valueCol: String = "value",
      idCol: String = "event_id"): DataFrame =
    publishSessions(sessionizeExact(events, gapNanos, userCol, valueCol, idCol))

  /** [[sessionize]] with EXACT nano bounds kept (min_tns/max_tns) and
    * the value sum in EXACT MICROS (per-row `floor(v*1e6)` BIGINT —
    * integer sums are accumulation-order-free, so batch merges,
    * retries, and the DuckDB oracle cannot drift by an ulp the way a
    * raw double sum can; the a7 strict-failure class) — the
    * representation the incremental maintenance needs: the merge
    * decision compares nanos, partials add exactly, and the single
    * lossy step (the 1e6 division) happens once at publish. */
  private[graft] def sessionizeExact(events: DataFrame, gapNanos: Long,
      userCol: String = "user_id", valueCol: String = "value",
      idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tns", "event_id")
    tsNanos(events, "tns")
      .select(col(userCol).as("user_id"), col("tns"),
        expr(s"CAST(floor(`$valueCol` * 1000000) AS BIGINT)").as("value"),
        col(idCol).as("event_id"))
      .withColumn("new_sess",
        when(col("tns") - lag("tns", 1).over(w) > gapNanos, 1L).otherwise(0L))
      .withColumn("session_id", lit(1L) + sum("new_sess").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("tns").as("min_tns"), max("tns").as("max_tns"),
        sum("value").as("sum_value"))
  }

  /** Exact session rows → the published schema (microsecond bounds,
    * millisecond duration — integer div, never `/`: epoch nanos exceed
    * double's 53-bit mantissa; the exact micro value sum becomes a
    * double in ONE division here). */
  private[graft] def publishSessions(exact: DataFrame): DataFrame =
    exact.select(col("user_id"), col("session_id"), col("n_events"),
      expr("min_tns div 1000").as("start_us"),
      expr("max_tns div 1000").as("end_us"),
      expr("(max_tns - min_tns) div 1000000").as("duration_ms"),
      expr("CAST(sum_value AS DOUBLE) / 1000000.0").as("sum_value"))

  /** `stream sessionize` sink ([[graft.heroql.Ast.StreamSessionize]]),
    * INCREMENTAL: events arrive in event-time-ordered micro-batches;
    * each batch is sessionized batch-locally ([[sessionizeExact]], cost
    * ∝ batch), then merged against the per-user OPEN-session state —
    * a batch's first session extends the open one when the gap allows,
    * ordinals shift by the user's running count, finished sessions
    * append to a closed log, and the new per-user opens replace the
    * state. Per batch: one append commit + one state rewrite; state is
    * ONE row per active user (the `mapGroupsWithState` bound, held in
    * the store so the maintenance survives restarts) and the closed log
    * is append-only — the only shape whose per-batch cost does not grow
    * with stream length. The final publish unions closed + still-open
    * into `table` (microsecond bounds derived, value rounded once).
    * `vars` are the statement's positional (user, ts, value, id) names
    * mapped to the source table's physical columns.
    *
    * Exactly-once within a run: each batch's closed-log append, state
    * replace, and batch-id mark land in ONE atomic multi-table store
    * commit ([[mergeSessionBatch]]) — a batch Structured Streaming
    * re-delivers (its id at or below the committed mark) is skipped,
    * and a crash mid-batch leaves the previous consistent snapshot, so
    * the replay recomputes from identical inputs. Batch ids are
    * meaningful only within one streaming query, so the mark RESETS at
    * run start; re-invoking against the same store table therefore
    * appends the new source's sessions on top of the carried state —
    * valid when the prior run completed (the streaming checkpoint, not
    * the mark, is what would dedup a partially-processed source). */
  def sessionizeSinkToStore(spark: SparkSession, dir: String,
      store: graft.store.TableStore, table: String, gapSeconds: Long,
      vars: Seq[String], sourceTable: String = "events"): DataFrame = {
    val Seq(userV, tsV, valueV, idV) = vars
    val rows = graft.Tables.scan(spark, s"$dir/$sourceTable.parquet")
    require(Seq(userV, tsV, valueV, idV).forall(rows.schema.fieldNames.contains),
      s"stream sessionize variables must name physical columns of $sourceTable")
    val gapNanos = gapSeconds * 1000000000L
    // a NEW streaming query numbers batches from 0 again — reset the
    // replay mark so this run's batches aren't mistaken for replays of
    // the previous run's
    val markT = table + "__mark"
    if (store.exists(markT))
      store.create(markT, spark.range(1).select(lit(-1L).as("batch_id")))
    // event-TIME-ordered chunked staging: batch k+1's events all start
    // at or after batch k's — the contract a real time-ordered stream
    // provides, and what makes open-session merging correct
    val src = chunkStream(rows, tsV, ntiles = true)
    drain(src.select(col(userV), col(tsV), col(valueV), col(idV)),
      Sink.ForeachBatch { (batch, batchId) =>
        val bs = sessionizeExact(batch.withColumnRenamed(tsV, "ts"),
          gapNanos, userCol = userV, valueCol = valueV, idCol = idV)
        mergeSessionBatch(store, table, gapNanos, bs, batchId)
      })
    val closedT = table + "__closed"
    val stateT = table + "__state"
    // an empty source delivers no batch — publish an empty session
    // table rather than failing on the never-created state table
    val sessions =
      if (!store.exists(stateT))
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "user_id BIGINT, session_id BIGINT, n_events BIGINT, " +
              "start_us BIGINT, end_us BIGINT, duration_ms BIGINT, sum_value DOUBLE"))
      else {
        val closed = if (store.exists(closedT)) store.read(closedT)
          else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            store.read(stateT).schema)
        publishSessions(closed.unionByName(store.read(stateT)))
      }
    store.create(table, sessions) // full replace, ONE commit, props kept
    store.read(table)
  }

  /** One micro-batch of incremental session maintenance, committed as
    * ONE atomic multi-table transaction (closed-log append + state
    * replace + batch-id mark): a replayed batch — its id at or below
    * the committed mark — is skipped whole, so restarts are
    * exactly-once. `batchExact` is the batch-local [[sessionizeExact]]
    * result; state holds one OPEN session row per active user. */
  private[graft] def mergeSessionBatch(store: graft.store.TableStore,
      table: String, gapNanos: Long, batchExact: DataFrame,
      batchId: Long): Unit = {
    val spark = batchExact.sparkSession
    val closedT = table + "__closed"
    val stateT = table + "__state"
    val markT = table + "__mark"
    if (store.exists(markT) &&
        store.read(markT).head().getLong(0) >= batchId) return // replay
    val bs = batchExact.localCheckpoint()
    if (bs.take(1).isEmpty) return
    val state = if (store.exists(stateT)) store.read(stateT)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        bs.schema)
    // per-user merge decision: does the batch's FIRST session continue
    // the open one? offset renumbers every batch ordinal
    val first = bs.filter(col("session_id") === 1L)
      .select(col("user_id"), col("min_tns").as("first_tns"))
    val o = state.select(col("user_id"), col("session_id").as("o_ord"),
      col("n_events").as("o_n"), col("min_tns").as("o_min"),
      col("max_tns").as("o_max"), col("sum_value").as("o_sum"))
    val decide = first.join(o, Seq("user_id"), "left")
      .withColumn("merged",
        col("o_max").isNotNull && col("first_tns") - col("o_max") <= gapNanos)
      .withColumn("offset",
        when(col("merged"), col("o_ord") - 1L)
          .otherwise(coalesce(col("o_ord"), lit(0L))))
      .select("user_id", "merged", "offset", "o_n", "o_min", "o_sum")
    val renum = bs.join(decide, Seq("user_id"))
      .withColumn("session_id", col("session_id") + col("offset"))
      .withColumn("isMergeRow",
        col("merged") && col("session_id") === col("offset") + 1L)
      .select(col("user_id"), col("session_id"),
        when(col("isMergeRow"), col("n_events") + col("o_n"))
          .otherwise(col("n_events")).as("n_events"),
        when(col("isMergeRow"), col("o_min"))
          .otherwise(col("min_tns")).as("min_tns"),
        col("max_tns"),
        when(col("isMergeRow"), col("sum_value") + col("o_sum"))
          .otherwise(col("sum_value")).as("sum_value"))
      .localCheckpoint()
    // the user's LAST batch session stays open; everything before it
    // closes, as does an open session the batch did NOT extend
    import org.apache.spark.sql.expressions.Window
    val wu = Window.partitionBy("user_id")
    val flagged = renum
      .withColumn("isOpen", col("session_id") === max("session_id").over(wu))
    val closedNow = flagged.filter(!col("isOpen")).drop("isOpen")
      .unionByName(state.join(
        decide.filter(!col("merged")).select("user_id"),
        Seq("user_id"), "left_semi"))
      .localCheckpoint()
    val newState = state
      .join(decide.select("user_id"), Seq("user_id"), "left_anti")
      .unionByName(flagged.filter(col("isOpen")).drop("isOpen"))
    val mark = spark.range(1).select(lit(batchId).as("batch_id"))
    val closedExisted = store.exists(closedT)
    store.transaction { tx =>
      if (closedNow.take(1).nonEmpty) {
        if (closedExisted) tx.insert(closedT, closedNow)
        else tx.create(closedT, closedNow)
      }
      tx.create(stateT, newState) // full replace (create works either way)
      tx.create(markT, mark)
    }
  }

  /** Streaming materialized-view maintenance: readStream over the
    * staged events, `foreachBatch` folding each micro-batch into a
    * store-held grouped aggregate through
    * [[graft.store.MaterializedView.refreshInsert]] with the batch-id
    * mark — MV replace + mark in one atomic commit per batch, so a
    * replayed batch is skipped whole (exactly-once, the st7 protocol).
    * This is the streaming-warehouse shape at 100 TB: per-batch cost is
    * the batch aggregate plus a #groups-sized merge; the accumulated
    * base is NEVER rescanned — contrast a naive implementation that
    * re-aggregates the whole sink table every trigger. */
  def matViewSinkToStore(spark: SparkSession, dir: String,
      store: graft.store.TableStore, table: String,
      spec: graft.store.MaterializedView.MvSpec,
      sourceTable: String = "events", chunkCol: String = "event_id"): DataFrame = {
    val src = chunkStream(graft.Tables.scan(spark, s"$dir/$sourceTable.parquet"), chunkCol)
    drain(src, Sink.ForeachBatch { (batch, batchId) =>
      // every batch — including the first — goes through the MARKED
      // refresh (it folds into an empty MV when the table is new), so
      // replays of any batch id are skipped whole
      graft.store.MaterializedView.refreshInsert(store, table, batch,
        spec, Some(batchId))
    })
    store.read(table)
  }

  /** Stream-stream interval join (the streaming form of the J10
    * interval join): signups joined to the same user's events within 7
    * days. Both sides carry watermarks and the join condition is
    * time-bounded on BOTH ends, so the state store evicts rows once
    * the watermark passes — bounded state at any stream length, the
    * non-negotiable for a join that runs forever. */
  def streamStreamSignupJoin(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.schemaOf(spark, s"$dir/events.parquet")
    val (staged, _) = stageDir(spark, dir)
    def src() = tsInstant(spark.readStream.schema(schema).parquet(staged))
    val signups = src().filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("ts0"))
      .withWatermark("ts0", "1 hour")
    val all = src().select(col("user_id"), col("ts"), col("event_id"))
      .withWatermark("ts", "1 hour")
    signups.join(all, expr(
      "s_user = user_id AND ts >= ts0 AND ts < ts0 + INTERVAL 7 DAYS"))
      .select(col("signup_id"), col("event_id"), col("user_id"), col("ts"))
  }

  /** Stream-stream LEFT OUTER join: signups against purchases within
    * 7 days, both sides watermarked, the join time-bounded on BOTH
    * ends — the state store evicts as the watermark advances AND emits
    * the unmatched-signup NULL rows once a signup's window provably
    * closed. Outer emission is watermark-driven, so the gate restricts
    * the left side to signups whose window CLOSES before the final
    * watermark (ts0 ≤ max event time − 7 days − 2×watermark slack,
    * computed in exact micros from the data on both engines) — without
    * the restriction, tail signups' unmatched rows would still be
    * pending state at drain and the result could never equal the batch
    * left join. */
  def streamStreamSignupLeftJoin(spark: SparkSession, dir: String): DataFrame =
    streamStreamSignupOuterJoin(spark, dir, "leftOuter")

  /** FULL OUTER flavor — completes the stream-stream join matrix
    * (st8 inner, st15 left, st18 full): BOTH sides' unmatched rows
    * exist only because the watermark proved their window closed —
    * signups with no purchase flush null-padded on the right, and
    * purchases whose whole candidate-signup window passed flush
    * null-padded on the left. Same watermark/heartbeat machinery; the
    * event-time range condition bounds state on both sides. */
  def streamStreamSignupFullJoin(spark: SparkSession, dir: String): DataFrame =
    streamStreamSignupOuterJoin(spark, dir, "fullOuter")

  /** Spec-only MULTI-BATCH variant: the corpus staged as `slices`
    * event-time-ordered chunks (each its own micro-batch under
    * maxFilesPerTrigger=1), so watermark advancement ACROSS data
    * batches — the behavior the one-batch production staging cannot
    * exercise — stays covered by StreamingSpec with full batch
    * parity. */
  def streamStreamSignupLeftJoinSliced(spark: SparkSession, dir: String,
      slices: Int): DataFrame =
    streamStreamSignupOuterJoin(spark, dir, "leftOuter", slices)

  private def streamStreamSignupOuterJoin(spark: SparkSession, dir: String,
      joinType: String, timeSlices: Int = 1): DataFrame = {
    val schema = graft.Tables.schemaOf(spark, s"$dir/events.parquet")
    // ONE-BATCH corpus staging (unlike [[stageDir]]'s verbatim
    // part-file copy): the drain below runs `maxFilesPerTrigger = 1`,
    // so every staged file is one micro-batch — and each of this
    // table's part files spans the FULL event-time range, so any
    // corpus file after the first arrives entirely BELOW the watermark
    // the first one advanced and is silently dropped as late (the 100×
    // probe measured exactly that: output ≠ 100× of the sf0.1 run,
    // plus ~390 s of per-batch bookkeeping). A real pipeline's stream
    // arrives in rough event-time order from its source; a parquet
    // re-read does not — so the honest equivalent is the whole corpus
    // in ONE batch (the watermark only ADVANCES after it; the trailing
    // heartbeat files then flush closed windows in their own
    // micro-batches, which is the contract the heartbeat comments
    // below describe).
    val events = spark.read.schema(schema).parquet(s"$dir/events.parquet")
    val (staged, corpusFiles) =
      if (timeSlices <= 1)
        // r21 (verdict item 5): the one-batch rewrite was a
        // `repartition(1)` single-task funnel — now a parallel
        // range-partitioned write whose whole file set still lands in
        // batch 1 via maxFilesPerTrigger = corpusFiles below
        stageCorpusParallel(spark, events,
          Files.createTempDirectory("graft-stream-").toString)
      else
        // EVENT-TIME-ORDERED chunks (the spec's multi-batch path): slice
        // k holds the k-th ts-ntile, one micro-batch each, so a later
        // slice is always above the watermark the previous one advanced
        // — the cross-batch watermark behavior this variant exists to
        // exercise. Production stays one-batch (see above).
        (stageChunks(events, "ts", timeSlices, ntiles = true), 1)
    val (maxMicros, hbBase) = maxTsBase(spark, staged, schema)
    val closableMicros = maxMicros - (7L * 24 + 2) * 3600L * 1000000L
    // A watermark computed at the end of batch N applies in batch N+1 —
    // with the whole corpus in one batch, no batch ever RUNS under the
    // final watermark and the unmatched rows stay in state forever. So
    // stage trailing heartbeat files: each becomes a micro-batch under
    // the post-corpus watermark, which is what flushes the
    // closed-window NULL rows. At 100 TB this is exactly the
    // production situation — an outer stream join only emits its
    // unmatched rows when LATER data (or a no-data trigger) advances
    // the clock past the window.
    //
    // Heartbeat rows must carry the sides' REAL event types: the
    // optimizer pushes any non-event-time conjunct BELOW the
    // EventTimeWatermark node (PushPredicateThroughNonJoin exempts
    // only predicates referencing the watermark column), so a
    // sentinel-typed row would be filtered before it ever reaches the
    // watermark operator and the clock would never pass the corpus —
    // measured: the global watermark pinned at purchase-max − 1h, and
    // the full join's last-hour unmatched purchases never flushed.
    // Each side instead drops its (future-dated) heartbeat with a
    // ts-referencing conjunct, which CANNOT push below the watermark:
    // the row advances the clock first, then dies.
    // One heartbeat batch ([[writeHeartbeat]]) with one row per SIDE:
    // the global watermark is the MIN over both sides' nodes, so both
    // clocks must advance. r21: both sides' rows ride ONE file — the
    // watermark only updates at the END of a batch (min over both nodes
    // either way), so two per-side files in sequence advanced nothing a
    // combined file doesn't; each per-side file just paid its own
    // state-heavy micro-batch (drained rows identical — StreamParity/
    // StreamingSpec pin it at sf0.1 and 100×).
    writeHeartbeat(hbBase, staged, 30L, hb =>
      hb.withColumn("event_type", lit("signup")).unionByName(
        hb.withColumn("event_type", lit("purchase"))))
    // corpus files (pinned-older mtimes) fill batch 1 exactly; the
    // heartbeat file appended above still lands in a LATER batch.
    def src() = tsInstant(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", corpusFiles.toString).parquet(staged))
      .withWatermark("ts", "1 hour")
    val signups = src().filter(col("event_type") === "signup" &&
        expr("unix_micros(ts)") <= lit(closableMicros))
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("ts0"))
    // the ≤ corpus-max conjunct exists to kill the heartbeat ABOVE the
    // watermark node (it references ts, so it stays put); every real
    // purchase satisfies it by construction
    val purchases = src().filter(col("event_type") === "purchase" &&
        expr("unix_micros(ts)") <= lit(maxMicros))
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value"))
    signups.join(purchases, expr(
      "s_user = user_id AND p_ts >= ts0 AND p_ts < ts0 + INTERVAL 7 DAYS"),
      joinType)
      .select(col("signup_id"), col("s_user"), col("p_id"), col("value"))
  }

  /** Streaming tumbling-window DISTINCT-USER sketch: the KMV
    * aggregator ([[graft.functions.KmvSketchAgg]], a18's bounded
    * buffer) running INSIDE streaming aggregation state — per (1-day
    * window, event_type) group the state store holds one ≤ k-long
    * serialized sketch buffer instead of the distinct user-id set,
    * which is THE streaming distinct-count scaling fix: state per
    * group is capped at k hashes no matter how many distinct users a
    * window sees, and the append-mode emission on window close carries
    * the same deterministic (n_k, kth) summary a18's oracle checks.
    * Watermark/heartbeat machinery identical to the outer joins (the
    * r14 lesson baked in): heartbeats advance the clock past the last
    * window THROUGH the watermark node, then die on a ts-referencing
    * conjunct (which cannot push below it) before reaching the
    * aggregation. */
  def streamWindowedKmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val k = 256
    val schema = graft.Tables.schemaOf(spark, s"$dir/events.parquet")
    val (staged, corpusFiles) = stageDir(spark, dir)
    val (maxMicros, hbBase) = maxTsBase(spark, staged, schema)
    writeHeartbeat(hbBase, staged, 30L)
    val kmv = udaf(new graft.functions.KmvSketchAgg(k))
    tsInstant(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", corpusFiles.toString).parquet(staged))
      .withWatermark("ts", "1 hour")
      // kills the heartbeats ABOVE the watermark node (references ts,
      // so the optimizer cannot push it below); every real event
      // passes by construction
      .filter(expr("unix_micros(ts)") <= lit(maxMicros))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(kmv(col("h")).as("sk"), count(lit(1)).as("n_events"))
      .select(col("w.start")
          // the instant stream runs under the UTC session; emit NTZ to
          // match the oracle's date_trunc type (ev2's convention)
          .cast(org.apache.spark.sql.types.TimestampNTZType).as("win_start"),
        col("event_type"),
        col("n_events"), col("sk.n_k").as("n_distinct_capped"),
        when(col("sk.n_k") < k, col("sk.n_k") * lit(1000000L))
          .otherwise(expr(
            s"CAST(floor((${k - 1}.0 * 1152921504606846976.0 / CAST(sk.kth AS DOUBLE)) * 1000000.0) AS BIGINT)"))
          .as("est_distinct_micro"))
  }

  /** Streaming tumbling-window TUPLE sketch — [[streamWindowedKmvDistinct]]
    * extended to AGGREGATE-OVER-DISTINCT-KEYS in streaming state
    * ([[graft.functions.KmvTupleAgg]], a20's engine): per (1-day
    * window, event_type) the state store holds one ≤ k (hash, summary)
    * buffer estimating Σ over DISTINCT users of each user's MAX
    * event-value-in-cents — the "deduplicated value per window"
    * statistic a plain windowed sum cannot produce without keeping
    * every (window, user) pair in state. Same capped-state contract
    * as st19 (state per group ≤ k pairs no matter how many distinct
    * users a window sees) and the same deterministic order-statistics
    * emission, so the batch oracle stays hash-strict. Watermark /
    * heartbeat machinery identical to st19's. */
  def streamWindowedTupleSum(spark: SparkSession, dir: String): DataFrame = {
    val k = 256
    val schema = graft.Tables.schemaOf(spark, s"$dir/events.parquet")
    val (staged, corpusFiles) = stageDir(spark, dir)
    val (maxMicros, hbBase) = maxTsBase(spark, staged, schema)
    writeHeartbeat(hbBase, staged, 30L)
    val tup = udaf(new graft.functions.KmvTupleAgg(k, "max"))
    tsInstant(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", corpusFiles.toString).parquet(staged))
      .withWatermark("ts", "1 hour")
      .filter(expr("unix_micros(ts)") <= lit(maxMicros))
      .withColumn("h", expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .withColumn("cents", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(tup(col("h"), col("cents")).as("sk"), count(lit(1)).as("n_events"))
      .select(col("w.start")
          .cast(org.apache.spark.sql.types.TimestampNTZType).as("win_start"),
        col("event_type"), col("n_events"),
        col("sk.n_k").as("n_distinct_capped"),
        when(col("sk.n_k") < k, col("sk.s_below") * lit(1000000L))
          .otherwise(expr(
            """CAST(floor((CAST(sk.s_below AS DOUBLE) * 1152921504606846976.0 /
               CAST(sk.theta AS DOUBLE)) * 1000000.0) AS BIGINT)"""))
          .as("est_sum_max_micro"))
  }

  /** Streaming SINK into the table store: readStream over the staged
    * events, `foreachBatch` appending each micro-batch through the
    * store's atomic-commit insert (new files only — the streaming
    * ingest shape at any scale: a commit per micro-batch, readers
    * always see a consistent snapshot). Runs with `availableNow` so the
    * batch gate can await completion, then returns the committed
    * table. */
  def sinkToStore(spark: SparkSession, dir: String,
      store: graft.store.TableStore, table: String): DataFrame = {
    // id-range chunked staging → one commit per micro-batch: the sink
    // gate exercises REAL multi-batch ingest, not one giant batch
    val src = chunkStream(graft.Tables.scan(spark, s"$dir/events.parquet"), "event_id")
    drain(src.select(col("event_id"), col("user_id"), col("event_type"), col("value")),
      Sink.ForeachBatch(appendTo(store, table)))
    store.read(table)
  }

  /** [[sinkToStore]] with a rolling RETENTION PURGE riding each
    * micro-batch commit: after a batch lands, every row whose event_id
    * falls more than `retain` below the table's max is deleted
    * MERGE-ON-READ ([[graft.store.TableStore.deleteMor]]) — the commit
    * writes only a tombstone set, so a streaming table with a sliding
    * retention horizon never pays a per-batch file rewrite (the COW
    * form would rewrite the whole head of the table every trigger; at
    * 100 TB that is the difference between a metadata op and an
    * unbounded write amplification). Watermarks are monotone under the
    * id-ordered staging, so the final state is exactly "ids within
    * `retain` of the global max" — the oracle's statement. Re-purging
    * already-tombstoned rows is naturally idempotent (the probe reads
    * through existing vectors), and the vector-count fold keeps the
    * tombstone debt bounded across any number of triggers. */
  def retentionSinkToStore(spark: SparkSession, dir: String,
      store: graft.store.TableStore, table: String, retain: Long): DataFrame = {
    val src = chunkStream(graft.Tables.scan(spark, s"$dir/events.parquet"), "event_id")
    drain(src.select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("vmicro")),
      Sink.ForeachBatch { (batch, batchId) =>
        appendTo(store, table)(batch, batchId)
        val hi = store.read(table).agg(max(col("event_id"))).head.getLong(0)
        store.deleteMor(table, col("event_id") < lit(hi - retain))
      })
    store.read(table)
  }

  /** [[sinkToStore]] through ADMISSION CONTROL: every micro-batch
    * lands via [[graft.store.CheckConstraints.insert]], so declared
    * CHECK/UNIQUE/FK constraints gate the STREAM exactly as they gate
    * batch writes — and each admitted batch advances the constraint
    * validity-watermark chain in its own commit, keeping proof-carrying
    * consumers ([[graft.plans.FkJoinElim]]) live across streaming
    * ingest. The caller creates the table and declares constraints
    * before streaming; a violating batch fails the query (exactly the
    * poison-batch semantics a constrained sink should have — nothing
    * from the bad batch commits). */
  def checkedSinkToStore(spark: SparkSession, dir: String,
      store: graft.store.TableStore, table: String): DataFrame = {
    val src = chunkStream(graft.Tables.scan(spark, s"$dir/events.parquet"), "event_id")
    drain(src.select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("vmicro")),
      Sink.ForeachBatch((batch, _) => graft.store.CheckConstraints.insert(store, table, batch)))
    store.read(table)
  }

  /** Streaming variant of a transform: reads the same parquet through
    * readStream with a watermark, for the spec harness. Watermarks
    * require TIMESTAMP (not NTZ), so the streaming path keeps ts as an
    * instant — identical values under the UTC session; the spec casts
    * result columns back to NTZ before comparing with batch. */
  def streamed(spark: SparkSession, dir: String,
      transform: DataFrame => DataFrame, watermark: String = "1 hour"): DataFrame = {
    val schema = graft.Tables.schemaOf(spark, s"$dir/events.parquet")
    val src = tsInstant(spark.readStream.schema(schema).parquet(stageDir(spark, dir)._1))
    transform(src.withWatermark("ts", watermark))
  }
}
