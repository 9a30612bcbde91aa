package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Sink.{Memory, Parquet}

/** Batch entry points for the streaming transforms (SURVEY §2.9 added
  * scope). The identical transform functions run under `readStream` in
  * `StreamingSpec` — Structured Streaming's unified API is the point:
  * one declarative definition, two execution modes.
  *
  * Oracle caveat: `events.ts` has shipped as both nanosecond INT64 and
  * `timestamp[us]` parquet across driver rounds; the Spark side adapts
  * via [[graft.streaming.EventStreams]]'s typed adapters and every
  * oracle casts ts to a microsecond TIMESTAMP before bucketing (a
  * no-op on the new schema, a truncation on the old).
  */
object Streaming extends QueryPack {

  private def st1(s: SparkSession, d: String): DataFrame =
    EventStreams.tumblingDaily(EventStreams.normalizeTs(t(s, d, "events")))

  private def st2(s: SparkSession, d: String): DataFrame =
    EventStreams.slidingDaily(EventStreams.normalizeTs(t(s, d, "events")))

  private def st3(s: SparkSession, d: String): DataFrame =
    EventStreams.userSessions(EventStreams.normalizeTs(t(s, d, "events")))

  /** ev1 — BATCH sessionization with per-user session ordinals: the
    * gap-based islands analysis (30-minute inactivity closes a
    * session, st3's rule) that the streaming `session_window` form
    * cannot express — ordinals need the user's full ordered history.
    * Works on exact BIGINT nanos from [[EventStreams.tsNanos]] (either
    * physical ts schema): gap comparison, bounds, and duration are
    * exact integer arithmetic in both engines. The lag/running-sum
    * windows partition per user — bounded by one user's event count,
    * never a viral key; the single exchange carries
    * (user_id, tns, value, event_id). */
  private def ev1(s: SparkSession, d: String): DataFrame =
    EventStreams.sessionize(t(s, d, "events"), gapNanos = 1800000000000L)

  /** ev2 — time-series RESAMPLING with forward fill (the gap-filling
    * every metrics pipeline runs): each user's event stream re-sampled
    * onto an hourly grid spanning their activity, each grid point
    * carrying the value of the user's latest event at or before it
    * (null before the first event — the DuckDB ASOF LEFT semantics).
    * Composition, not a new operator: per-user bounds (one aggregate),
    * `sequence` + explode for the grid (rows ∝ Σ user activity spans,
    * never #users × global range), then [[graft.operators.AsOfJoin]]'s
    * one-shuffle window form. Duplicate (user, ts) points collapse to
    * max(value) on BOTH sides — ASOF tie-pick order is the one
    * nondeterminism this surface has, and the pre-aggregate removes
    * it. Values are picked, never accumulated, so the gate is
    * strict-hashable with no fixed-point machinery. */
  private def ev2(s: SparkSession, d: String): DataFrame = {
    val pts = EventStreams.normalizeTs(t(s, d, "events"))
      .groupBy(col("user_id"), col("ts")).agg(max("value").as("value"))
    val grid = pts.groupBy("user_id")
      .agg(date_trunc("hour", min("ts")).as("h0"),
        date_trunc("hour", max("ts")).as("h1"))
      .select(col("user_id"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("ts"))
    graft.operators.AsOfJoin.asOf(grid, pts, "user_id", "ts", "value")
      // date_trunc/sequence promote NTZ to an instant under the UTC
      // session — value-identical; emit NTZ to match the oracle's type
      .select(col("user_id"),
        col("ts").cast(org.apache.spark.sql.types.TimestampNTZType).as("ts"),
        col("asof_value"))
  }

  /** ev3 — resampling by LINEAR INTERPOLATION (ev2's forward-fill
    * upgraded to the metrics-pipeline lerp): each hourly grid point
    * takes v0 + (v1 − v0)·(t − t0)/(t1 − t0) between the user's
    * surrounding events — backward and forward [[graft.operators
    * .AsOfJoin.asOfMatch]] passes supply (t0, v0) and (t1, v1), edges
    * fall back to the nearest value, an exact-point hit (t0 = t1)
    * short-circuits the zero division. Time deltas run in exact
    * integer micros; the single fraction and the lerp are the same
    * three float ops in the same order in both engines. Two
    * one-shuffle window joins — same scale shape as ev2. */
  private def ev3(s: SparkSession, d: String): DataFrame = {
    val pts = EventStreams.normalizeTs(t(s, d, "events"))
      .groupBy(col("user_id"), col("ts")).agg(max("value").as("value"))
    val grid = pts.groupBy("user_id")
      .agg(date_trunc("hour", min("ts")).as("h0"),
        date_trunc("hour", max("ts")).as("h1"))
      .select(col("user_id"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("ts"))
    val back = graft.operators.AsOfJoin
      .asOfMatch(grid, pts, "user_id", "ts", "value")
      .withColumnRenamed("asof_ts", "t0").withColumnRenamed("asof_value", "v0")
    val both = graft.operators.AsOfJoin
      .asOfMatch(back, pts, "user_id", "ts", "value", forward = true)
      .withColumnRenamed("asof_ts", "t1").withColumnRenamed("asof_value", "v1")
    both.select(col("user_id"),
      col("ts").cast(org.apache.spark.sql.types.TimestampNTZType).as("ts"),
      expr(
        """CASE WHEN t0 IS NULL AND t1 IS NULL THEN NULL
                WHEN t0 IS NULL THEN v1
                WHEN t1 IS NULL THEN v0
                WHEN t1 = t0 THEN v0
                ELSE v0 + (v1 - v0) *
                  (CAST(unix_micros(CAST(ts AS TIMESTAMP))
                        - unix_micros(CAST(t0 AS TIMESTAMP)) AS DOUBLE)
                   / (unix_micros(CAST(t1 AS TIMESTAMP))
                      - unix_micros(CAST(t0 AS TIMESTAMP))))
           END""").as("lerp_value"))
  }

  /** ev4 — TIME-WEIGHTED average per user (the metrics integral: the
    * mean of the forward-filled step function over the user's active
    * span, ∫v dt / ∫dt — what a plain avg gets wrong whenever sampling
    * is irregular). Exact end to end: each inter-event segment
    * contributes value_MILLIS × dt_micros as a BIGINT product — millis,
    * not micros, because the worst segment (v ≈ 490, gap ≈ 4 days ≈
    * 3.6e11 µs) must stay under 2^63: v·1e3 × dt ≤ 1.8e17 and the
    * per-user total ≤ max(v)·1e3 × month-span ≈ 1.3e18, both safe,
    * where micros would overflow at 1.8e20 (fixture values carry two
    * decimals, so millis lose nothing). Integer sums are
    * accumulation-order-FREE across any partitioning; the single
    * division happens once at publish. One lag window per user (the
    * ev1 exchange shape) + one aggregate. */
  private def ev4(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    EventStreams.normalizeTs(t(s, d, "events"))
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("tus"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("vmillis"))
      .withColumn("next_tus", lead("tus", 1).over(w))
      .filter(col("next_tus").isNotNull) // the last event opens no segment
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(expr("vmillis * (next_tus - tus)")).as("__area"),
        sum(expr("next_tus - tus")).as("__span"))
      .select(col("user_id"), col("n_segments"),
        expr("CAST(__area AS DOUBLE) / __span / 1000.0").as("twa_value"))
  }

  /** st7 — `stream sessionize` statement form: the same islands
    * analysis reached from PARSED HeroQL text through the streaming
    * ingest sink (micro-batch atomic commits, then one session-table
    * publish). Oracle identical to ev1 — a statement that mis-mapped
    * its positional variables or its gap would sessionize wrongly and
    * hash-mismatch. */
  private def st7(s: SparkSession, d: String): DataFrame = {
    val store = new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-sess-sink-").toString)
    graft.heroql.HeroQL.executeStream(
      "stream sessionize Events(user_id, ts, value, event_id) gap 30 minutes into sessions_hql;",
      s, Map("Events" -> d), store)
  }

  /** st4 — streaming ingest through the store sink: a REAL streaming
    * query (availableNow) appends micro-batches into a scratch
    * [[graft.store.TableStore]] via foreachBatch atomic commits; the
    * emitted result aggregates the committed table, so the oracle
    * checks end-to-end sink fidelity. */
  private def st4(s: SparkSession, d: String): DataFrame = {
    val store = new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-sink-").toString)
    EventStreams.sinkToStore(s, d, store, "events_sink")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))
  }

  /** st17 — streaming ingest with a rolling MERGE-ON-READ retention
    * purge ([[EventStreams.retentionSinkToStore]]): every micro-batch
    * commit also tombstones rows older than a sliding id horizon —
    * the purge never rewrites a data file (asserted: the only dirs in
    * the final manifest are the per-batch appends, plus deletion
    * vectors), which is what makes per-trigger retention affordable on
    * a large table. Watermarks are monotone, so the final state is
    * exactly "within `retain` of the global max" — the oracle. */
  private def st17(s: SparkSession, d: String): DataFrame = {
    val store = new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-ret-sink-").toString)
    val out = EventStreams.retentionSinkToStore(s, d, store, "events_ret", 600L)
    require(store.deletionVectorDirs("events_ret").nonEmpty,
      "st17: the purge must run merge-on-read (deletion vectors present)")
    out.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("vmicro").as("sum_vmicro"),
        min("event_id").as("min_id"), max("event_id").as("max_id"))
  }

  /** st5 — streaming INCREMENTAL dedup through the store (streaming
    * form of dd6): documents arrive in doc_id-ordered micro-batches;
    * each batch is anti-joined against the already-committed corpus and
    * only novel texts land. The emitted per-lang aggregate over the
    * committed corpus equals the batch "keep min doc_id per text"
    * statement — the oracle proves the stream kept exactly the right
    * rows. */
  private def st5(s: SparkSession, d: String): DataFrame = {
    val store = new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-dedup-sink-").toString)
    graft.streaming.DocStreams.dedupSinkToStore(s, d, store, "docs_dedup")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
  }

  /** st5b — st5 with the dedup key narrowed to tx4's 8-byte rolling
    * fingerprint (stored alongside the kept rows, so the corpus is
    * hashed once on ingest and every later batch anti-joins a single
    * long column — the shape that survives a 100 TB corpus). */
  private def st5b(s: SparkSession, d: String): DataFrame = {
    val store = new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-dedup-fp-sink-").toString)
    graft.streaming.DocStreams.dedupSinkToStoreByFp(s, d, store, "docs_dedup_fp")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
  }

  /** st5c — st5b's committed corpus emitted ROW-LEVEL: every surviving
    * (doc_id, lang, n_chars) row, oracled exactly against the batch
    * keep-min-doc_id-per-fingerprint statement. The per-lang census
    * (st5b) can hash-match even if the stream kept a wrong-but-
    * equinumerous row set within a language; this gate pins the exact
    * survivor rows. */
  private def st5c(s: SparkSession, d: String): DataFrame = {
    val store = new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-dedup-rows-sink-").toString)
    graft.streaming.DocStreams.dedupSinkToStoreByFp(s, d, store, "docs_dedup_rows")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** st8 — STREAM-STREAM interval join through a real streaming query
    * (the two-unbounded-sides shape st1–st7 don't cover): signups and
    * events both arrive as streams, watermarked on both sides with the
    * join time-bounded on BOTH ends, so the state store evicts rows as
    * the watermark advances — bounded state at any stream length. The
    * drained result is aggregated per signup and checked against
    * the batch interval join (same truth as j10, reached through the
    * streaming engine — inner stream-stream joins are append-only, so
    * once the source drains the result equals the batch join). */
  private def st8(s: SparkSession, d: String): DataFrame = {
    EventStreams.drain(EventStreams.streamStreamSignupJoin(s, d), Parquet,
        Some(EventStreams.eventsFan(s, d)))
      .groupBy("signup_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").cast(org.apache.spark.sql.types.TimestampNTZType).as("first_ts"),
        max("ts").cast(org.apache.spark.sql.types.TimestampNTZType).as("last_ts"))
  }

  /** st9 — CUSTOM-STATE streaming (`mapGroupsWithState`) driver-gated:
    * per-user running (count, sum) state updated across four real
    * micro-batches (id-range chunks, one per trigger; state = one
    * small tuple per active user at any scale). Update mode emits one
    * row per user per batch it appears in; counts grow monotonically,
    * so the final accumulated totals are the per-user max-count row —
    * which the oracle checks against the plain batch aggregate. A
    * state bug (lost batch, double-applied batch, key mixup) shifts
    * counts or sums and hash-mismatches. */
  private def st9(s: SparkSession, d: String): DataFrame = {
    EventStreams.drain(EventStreams.runningUserTotals(s, d), Memory,
        Some(EventStreams.eventsFan(s, d)), outputMode = "update")
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_value"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        round(col("m.sum_value"), 2).as("sum_value"))
  }

  /** st12 — STREAM-STATIC enrichment join through a real streaming
    * query: events stream in, the customer dimension joins as a
    * broadcast static side re-resolved per micro-batch (the standard
    * streaming-ETL enrich; state-free, append-exact). Drained result
    * aggregates per market segment with the micro fixed-point value
    * sum (accumulation-order-free) and is oracle-checked against the
    * plain batch join. */
  private def st12(s: SparkSession, d: String): DataFrame = {
    EventStreams.drain(EventStreams.streamStaticSegmentJoin(s, d), Memory)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)" +
          " / 1000000.0").as("sum_value"))
  }

  /** st13 — watermark-bounded streaming dedup
    * (`dropDuplicatesWithinWatermark`): every event doubled in-flight
    * (same id + timestamp, so the duplicate is always inside the
    * watermark), deduped across four real micro-batches with the
    * watermark advancing (and evicting state) between them. The
    * deduped stream must equal the ORIGINAL events — the aggregate is
    * exact against the raw batch oracle; a dedup bug (lost state,
    * key mixup, premature eviction) doubles counts and
    * hash-mismatches. */
  private def st13(s: SparkSession, d: String): DataFrame = {
    EventStreams.drain(EventStreams.watermarkDedup(s, d), Memory,
        Some(EventStreams.eventsFan(s, d)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        expr("CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)" +
          " / 1000000.0").as("sum_value"))
  }

  /** st14 — the stream-static enrich driven from PARSED HeroQL text
    * (`stream enrich … with … on … into …`), st12's shape reached from
    * the language surface the way st6/st7/st11 reach theirs: four real
    * micro-batches, broadcast dimension re-resolved per batch, one
    * atomic store commit per batch. Oracle identical to st12 — a
    * statement that mis-mapped its variables or keys would enrich
    * against the wrong column and hash-mismatch. */
  private def st14(s: SparkSession, d: String): DataFrame = {
    val store = new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-enrich-sink-").toString)
    graft.heroql.HeroQL.executeStream(
      "stream enrich Events(event_id, user_id, value) " +
        "with Customer(c_custkey, c_mktsegment) " +
        "on user_id = c_custkey into enriched;",
      s, Map("Events" -> d, "Customer" -> d), store)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        expr("CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)" +
          " / 1000000.0").as("sum_value"))
  }

  /** st6 — the full streaming-dedup shape driven from PARSED HeroQL
    * text (`stream dedup … by fingerprint(…) into …`): same sink, same
    * bloom + bucket-pruned probe, reached from the language surface the
    * way hq18 reaches the batch shape. Oracle identical to st5b — a
    * statement that mis-mapped its variables would keep the wrong rows
    * and hash-mismatch. */
  private def st6(s: SparkSession, d: String): DataFrame = {
    val store = new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-dedup-hql-sink-").toString)
    graft.heroql.HeroQL.executeStream(
      "stream dedup Documents(doc_id, text, lang, n_chars) by fingerprint(text) into docs_dedup_hql;",
      s, Map("Documents" -> d), store)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
  }

  /** st10 — STREAMING materialized-view maintenance: four real
    * micro-batches fold into a store-held per-event-type aggregate
    * through the marked [[graft.store.MaterializedView.refreshInsert]]
    * — per batch ONE atomic commit carrying the #groups-sized MV
    * replace plus the batch-id mark (exactly-once; MatViewSpec replays
    * a batch to prove it). The value sum rides exact micro fixed-point
    * BIGINTs through every merge (the ev1 convention) with the single
    * lossy division at publish. Oracle: the view definition over ALL
    * events — equality proves four batch merges land on exactly the
    * one-shot aggregate. */
  private def st10(s: SparkSession, d: String): DataFrame = {
    val store = new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-mv-sink-").toString)
    val spec = graft.store.MaterializedView.MvSpec(
      keys = Seq("event_type"),
      sums = Seq("__vmicros" ->
        expr("CAST(floor(value * 1000000) AS BIGINT)")))
    EventStreams.matViewSinkToStore(s, d, store, "ev_mv", spec)
      .select(col("event_type"), col("n_rows"),
        expr("CAST(__vmicros AS DOUBLE) / 1000000.0").as("sum_value"))
  }

  /** st11 — `stream aggregate` STATEMENT form of st10: the same marked
    * exactly-once MV maintenance reached from parsed HeroQL text
    * (`stream aggregate Events(event_type, value, event_id) into
    * ev_mv;`), the way st6/st7 made the dedup and sessionize sinks
    * language-reachable. Oracle identical to st10 — a statement that
    * mis-mapped its positional (key, value, id) variables would group
    * or sum the wrong columns and hash-mismatch. */
  private def st11(s: SparkSession, d: String): DataFrame = {
    val store = new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-mv-hql-sink-").toString)
    graft.heroql.HeroQL.executeStream(
      "stream aggregate Events(event_type, value, event_id) into ev_mv;",
      s, Map("Events" -> d), store)
  }

  /** st15 — stream-stream LEFT OUTER join drained through a real
    * streaming query: unlike st8's append-only inner join, the outer
    * rows (signups with NO purchase in their 7-day window) exist only
    * because the watermark PROVED the window empty and the engine
    * flushed the null-padded row from state — the eviction-correctness
    * shape. Aggregated per signup (count ignores the null p_id, sum
    * coalesces to 0) and checked against the batch left join. */
  private def st15(s: SparkSession, d: String): DataFrame = {
    EventStreams.drain(EventStreams.streamStreamSignupLeftJoin(s, d), Parquet,
        Some(EventStreams.eventsFan(s, d)))
      .groupBy("signup_id")
      .agg(count(col("p_id")).as("n_purchases"),
        coalesce(sum(expr("CAST(floor(value * 1000000) AS BIGINT)")), lit(0L))
          .as("sum_vmicro"))
  }

  /** st19 — KMV distinct-count sketch in STREAMING AGGREGATION STATE,
    * drained through a real append-mode streaming query: per (1-day
    * window, event_type) the state store holds one capped sketch
    * buffer (≤ 256 hashes) instead of a distinct user-id set — the
    * streaming fix for the state-explosion every distinct-count
    * aggregation hits at scale. Windows emit on watermark close
    * (heartbeat machinery), and the emitted (n_events, capped distinct
    * count, estimate micros) match the batch oracle exactly because
    * KMV is deterministic order statistics over the shared md5 hash. */
  private def st19(s: SparkSession, d: String): DataFrame = {
    // corpus-sized state fan — see EventStreams.stateFan (r20: the
    // inherited 32-way fan cost each micro-batch 28 empty-partition
    // state commits; 5.9 s → 2.9 s at sf0.1, rows identical)
    EventStreams.drain(EventStreams.streamWindowedKmvDistinct(s, d), Memory,
      Some(EventStreams.eventsFan(s, d)))
  }

  /** st20 — TUPLE sketch in STREAMING AGGREGATION STATE (st19's
    * completion): per (1-day window, event_type) the state holds one
    * ≤ 256-pair (hash, max-summary) buffer estimating the sum over
    * DISTINCT users of each user's max event-value-in-cents — emitted
    * on watermark close with the deterministic a20 estimate algebra,
    * so the batch oracle is hash-strict. */
  private def st20(s: SparkSession, d: String): DataFrame = {
    EventStreams.drain(EventStreams.streamWindowedTupleSum(s, d), Memory,
      Some(EventStreams.eventsFan(s, d)))
  }

  /** st18 — stream-stream FULL OUTER join drained through a real
    * streaming query — completes the join matrix (st8 inner, st15
    * left outer): BOTH sides' null-padded rows are watermark-eviction
    * artifacts — signups the engine proved purchase-less AND purchases
    * it proved signup-less (their candidate window closed under the
    * clock). Row-level output (matched pairs + both unmatched sides),
    * checked against the batch FULL join over the closable-signup set. */
  private def st18(s: SparkSession, d: String): DataFrame = {
    EventStreams.drain(EventStreams.streamStreamSignupFullJoin(s, d), Parquet,
        Some(EventStreams.eventsFan(s, d)))
      .select(col("signup_id"), col("p_id"),
        expr("CAST(floor(coalesce(value, 0) * 1000000) AS BIGINT)")
          .as("vmicro"))
  }

  /** st16 — streaming ingest through ADMISSION CONTROL
    * ([[EventStreams.checkedSinkToStore]]): four real micro-batches of
    * events land in a store table whose event_type carries a declared
    * FK to a UNIQUE-keyed dimension — every batch is constraint-gated
    * and advances the validity-watermark chain in its own commit. The
    * gate then proves the chain survived streaming: with
    * [[graft.plans.FkJoinElim]] installed, the key-only fact ⋈ dim
    * aggregate must optimize to a JOIN-FREE plan (refused otherwise),
    * and the oracle states the joined query — constraints enforced on
    * a stream, and still strong enough to power the rewrite. */
  private def st16(s: SparkSession, d: String): DataFrame = {
    val store = new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-checked-sink-").toString)
    val types = graft.Tables.t(s, d, "events")
      .select(col("event_type")).distinct()
      .withColumn("et_group", expr("substring(event_type, 1, 1)"))
    store.create("et_dim", types)
    val factSchema = graft.Tables.t(s, d, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("vmicro"))
      .limit(0)
    store.create("ev_fact", factSchema)
    graft.store.CheckConstraints.declareUnique(store, "et_dim",
      "et_pk", Seq("event_type"))
    graft.store.CheckConstraints.declareForeignKey(store, "ev_fact",
      "ev_et_fk", Seq("event_type"), "et_dim", Seq("event_type"))
    EventStreams.checkedSinkToStore(s, d, store, "ev_fact")
    val rule = graft.plans.FkJoinElim.install(s, store)
    try {
      val q = store.read("ev_fact")
        .join(store.read("et_dim").select("event_type"),
          Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("vmicro")).as("sum_vmicro"))
      val joins = q.queryExecution.optimizedPlan.collect {
        case jn: org.apache.spark.sql.catalyst.plans.logical.Join => jn
      }
      require(joins.isEmpty,
        s"st16: the constraint chain must survive streaming ingest:\n${
          q.queryExecution.optimizedPlan}")
      q.localCheckpoint()
    } finally graft.plans.FkJoinElim.uninstall(s, rule)
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st16_checked_stream_sink" -> (st16 _),
    "st1_tumbling_window" -> (st1 _),
    "st2_sliding_window" -> (st2 _),
    "st3_session_window" -> (st3 _),
    "st4_store_sink" -> (st4 _),
    "st17_stream_retention" -> (st17 _),
    "st5_stream_dedup" -> (st5 _),
    "st5b_stream_dedup_fp" -> (st5b _),
    "st5c_stream_dedup_rows" -> (st5c _),
    "st6_stream_dedup_hql" -> (st6 _),
    "st7_stream_sessionize_hql" -> (st7 _),
    "st8_stream_stream_join" -> (st8 _),
    "st9_stateful_totals" -> (st9 _),
    "st10_stream_matview" -> (st10 _),
    "st11_stream_agg_hql" -> (st11 _),
    "st12_stream_static_join" -> (st12 _),
    "st13_watermark_dedup" -> (st13 _),
    "st14_stream_enrich_hql" -> (st14 _),
    "st15_stream_stream_left_join" -> (st15 _),
    "st18_stream_stream_full_join" -> (st18 _),
    "st19_stream_kmv_distinct" -> (st19 _),
    "st20_stream_tuple_sum" -> (st20 _),
    "ev1_sessionization" -> (ev1 _),
    "ev2_resample_ffill" -> (ev2 _),
    "ev3_resample_lerp" -> (ev3 _),
    "ev4_time_weighted_avg" -> (ev4 _),
  )

  // epoch_ns keeps the whole computation in exact BIGINT nanos —
  // mirrors the Spark side's raw-long arithmetic (`//` = `div`);
  // shared by ev1 (batch form) and st7 (statement form): same islands
  // semantics, reached through different surfaces
  private val sessionizeSql =
    """WITH e AS (
         SELECT user_id, epoch_ns(ts) AS tns, value, event_id FROM events),
       f AS (
         SELECT *, CASE WHEN tns - lag(tns) OVER
             (PARTITION BY user_id ORDER BY tns, event_id) > 1800000000000
           THEN 1 ELSE 0 END AS new_sess
         FROM e),
       s AS (
         SELECT *, 1 + sum(new_sess) OVER (PARTITION BY user_id
           ORDER BY tns, event_id ROWS UNBOUNDED PRECEDING) AS session_id
         FROM f)
       SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         count(*) AS n_events,
         CAST(min(tns) // 1000 AS BIGINT) AS start_us,
         CAST(max(tns) // 1000 AS BIGINT) AS end_us,
         CAST((max(tns) - min(tns)) // 1000000 AS BIGINT) AS duration_ms,
         CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
           / 1000000.0 AS sum_value
       FROM s GROUP BY user_id, session_id"""

  override val oracles: Map[String, String] = Map(
    "ev4_time_weighted_avg" ->
      """WITH e AS (
           SELECT user_id, event_id,
                  epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
                  CAST(floor(value * 1000) AS BIGINT) AS vmillis
           FROM events),
         seg AS (
           SELECT user_id, vmillis, tus,
                  lead(tus) OVER (PARTITION BY user_id
                    ORDER BY tus, event_id) AS next_tus
           FROM e)
         SELECT user_id, count(*) AS n_segments,
                CAST(sum(vmillis * (next_tus - tus)) AS DOUBLE)
                  / sum(next_tus - tus) / 1000.0 AS twa_value
         FROM seg WHERE next_tus IS NOT NULL
         GROUP BY 1""",
    "ev3_resample_lerp" ->
      """WITH pts AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS value
           FROM events GROUP BY 1, 2),
         bounds AS (
           SELECT user_id, date_trunc('hour', min(ts)) AS h0,
                  date_trunc('hour', max(ts)) AS h1
           FROM pts GROUP BY 1),
         grid AS (
           SELECT user_id,
                  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS ts
           FROM bounds),
         b AS (
           SELECT g.user_id, g.ts, p.ts AS t0, p.value AS v0
           FROM grid g
           ASOF LEFT JOIN pts p ON p.user_id = g.user_id AND p.ts <= g.ts),
         f AS (
           SELECT b.user_id, b.ts, b.t0, b.v0, p2.ts AS t1, p2.value AS v1
           FROM b
           ASOF LEFT JOIN pts p2 ON p2.user_id = b.user_id AND b.ts <= p2.ts)
         SELECT user_id, ts,
           CASE WHEN t0 IS NULL AND t1 IS NULL THEN NULL
                WHEN t0 IS NULL THEN v1
                WHEN t1 IS NULL THEN v0
                WHEN t1 = t0 THEN v0
                ELSE v0 + (v1 - v0) *
                  (CAST(epoch_us(ts) - epoch_us(t0) AS DOUBLE)
                   / (epoch_us(t1) - epoch_us(t0)))
           END AS lerp_value
         FROM f""",
    "ev2_resample_ffill" ->
      """WITH pts AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS value
           FROM events GROUP BY 1, 2),
         bounds AS (
           SELECT user_id, date_trunc('hour', min(ts)) AS h0,
                  date_trunc('hour', max(ts)) AS h1
           FROM pts GROUP BY 1),
         grid AS (
           SELECT user_id,
                  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS ts
           FROM bounds)
         SELECT g.user_id, g.ts, p.value AS asof_value
         FROM grid g
         ASOF LEFT JOIN pts p
           ON p.user_id = g.user_id AND p.ts <= g.ts""",
    "st11_stream_agg_hql" ->
      """SELECT event_type, count(*) AS n_rows,
                CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
                  / 1000000.0 AS sum_value
         FROM events GROUP BY 1""",
    "st10_stream_matview" ->
      """SELECT event_type, count(*) AS n_rows,
                CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
                  / 1000000.0 AS sum_value
         FROM events GROUP BY 1""",
    // st8: the BATCH interval join the drained stream-stream join must
    // equal (inner joins are append-only; availableNow drains fully)
    "st8_stream_stream_join" ->
      """WITH s AS (SELECT event_id AS signup_id, user_id,
                    CAST(ts AS TIMESTAMP) AS ts0
                    FROM events WHERE event_type = 'signup'),
              e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
         SELECT s.signup_id, count(*) AS n_events,
                min(e.ts) AS first_ts, max(e.ts) AS last_ts
         FROM s JOIN e ON s.user_id = e.user_id
           AND e.ts >= s.ts0 AND e.ts < s.ts0 + INTERVAL 7 DAY
         GROUP BY s.signup_id""",
    // st15: the drained outer join equals the batch LEFT join over the
    // closable-window signups (unmatched rows exist only because the
    // watermark flushed them — see the gate doc)
    // the JOINED statement — the eliminated, stream-ingested plan must
    // still equal it
    "st16_checked_stream_sink" ->
      """SELECT e.event_type, count(*) AS n,
           CAST(sum(CAST(floor(e.value * 1000000) AS BIGINT)) AS BIGINT)
             AS sum_vmicro
         FROM events e
         JOIN (SELECT DISTINCT event_type FROM events) d
           ON e.event_type = d.event_type
         GROUP BY e.event_type""",
    // st18: the drained FULL OUTER join equals the batch FULL join over
    // the closable-signup set — unmatched rows on EITHER side exist
    // only because the watermark flushed them
    // the batch twin of the streaming sketch: same md5/KMV order
    // statistics per (day window, type), same estimate expression
    "st19_stream_kmv_distinct" ->
      """WITH hashed AS (
           SELECT DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)) AS win_start,
             event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM events),
         topk AS (
           SELECT win_start, event_type, h FROM (
             SELECT win_start, event_type, h, row_number() OVER (
               PARTITION BY win_start, event_type ORDER BY h) AS rn
             FROM hashed) WHERE rn <= 256),
         sk AS (SELECT win_start, event_type,
                       CAST(count(*) AS BIGINT) AS n_distinct_capped,
                       max(h) AS kth
                FROM topk GROUP BY win_start, event_type),
         cnt AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS win_start,
                        event_type, count(*) AS n_events
                 FROM events GROUP BY 1, 2)
         SELECT cnt.win_start, cnt.event_type, cnt.n_events,
                sk.n_distinct_capped,
                CASE WHEN sk.n_distinct_capped < 256
                     THEN sk.n_distinct_capped * 1000000
                     ELSE CAST(floor((255.0 * 1152921504606846976.0 /
                       CAST(sk.kth AS DOUBLE)) * 1000000.0) AS BIGINT)
                END AS est_distinct_micro
         FROM cnt JOIN sk ON cnt.win_start = sk.win_start
           AND cnt.event_type = sk.event_type""",
    // st20: the streaming tuple sketch's batch twin — per (day, type,
    // user-hash) max cents, k-minimum retained sample, a20's estimate
    "st20_stream_tuple_sum" ->
      """WITH per AS (
           SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS win_start,
             event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
             CAST(max(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS mv
           FROM events GROUP BY 1, 2, 3),
         rk AS (SELECT win_start, event_type, h, mv, row_number() OVER (
                  PARTITION BY win_start, event_type ORDER BY h) AS rn FROM per),
         sk AS (
           SELECT win_start, event_type,
             CAST(count(*) FILTER (rn <= 256) AS BIGINT) AS n_distinct_capped,
             max(CASE WHEN rn = 256 THEN h END) AS kth,
             CAST(sum(mv) FILTER (rn <= 255) AS BIGINT) AS s_below_full,
             CAST(sum(mv) FILTER (rn <= 256) AS BIGINT) AS s_all_cap
           FROM rk GROUP BY win_start, event_type),
         cnt AS (SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS win_start,
                        event_type, count(*) AS n_events
                 FROM events GROUP BY 1, 2)
         SELECT cnt.win_start, cnt.event_type, cnt.n_events,
                sk.n_distinct_capped,
                CASE WHEN sk.n_distinct_capped < 256 THEN sk.s_all_cap * 1000000
                     ELSE CAST(floor((CAST(sk.s_below_full AS DOUBLE) *
                       1152921504606846976.0 /
                       CAST(sk.kth AS DOUBLE)) * 1000000.0) AS BIGINT)
                END AS est_sum_max_micro
         FROM cnt JOIN sk ON cnt.win_start = sk.win_start
           AND cnt.event_type = sk.event_type""",
    "st18_stream_stream_full_join" ->
      """WITH s AS (SELECT event_id AS signup_id, user_id,
                    CAST(ts AS TIMESTAMP) AS ts0
                    FROM events WHERE event_type = 'signup'
                      AND epoch_us(CAST(ts AS TIMESTAMP)) <=
                        (SELECT max(epoch_us(CAST(ts AS TIMESTAMP)))
                         FROM events) - 612000000000),
              p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                    event_id AS p_id, value
                    FROM events WHERE event_type = 'purchase')
         SELECT s.signup_id, p.p_id,
                CAST(floor(coalesce(p.value, 0) * 1000000) AS BIGINT)
                  AS vmicro
         FROM s FULL JOIN p ON s.user_id = p.user_id
           AND p.ts >= s.ts0 AND p.ts < s.ts0 + INTERVAL 7 DAY""",
    "st15_stream_stream_left_join" ->
      """WITH s AS (SELECT event_id AS signup_id, user_id,
                    CAST(ts AS TIMESTAMP) AS ts0
                    FROM events WHERE event_type = 'signup'
                      AND epoch_us(CAST(ts AS TIMESTAMP)) <=
                        (SELECT max(epoch_us(CAST(ts AS TIMESTAMP)))
                         FROM events) - 612000000000),
              p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                    event_id AS p_id, value
                    FROM events WHERE event_type = 'purchase')
         SELECT s.signup_id, count(p.p_id) AS n_purchases,
                CAST(coalesce(
                  sum(CAST(floor(p.value * 1000000) AS BIGINT)), 0) AS BIGINT)
                  AS sum_vmicro
         FROM s LEFT JOIN p ON s.user_id = p.user_id
           AND p.ts >= s.ts0 AND p.ts < s.ts0 + INTERVAL 7 DAY
         GROUP BY s.signup_id""",
    // st9: the stateful stream's final per-user totals must equal the
    // plain batch aggregate once the source drains
    "st9_stateful_totals" ->
      """SELECT user_id, count(*) AS n_events,
                round(sum(value), 2) AS sum_value
         FROM events GROUP BY user_id""",
    "st7_stream_sessionize_hql" -> sessionizeSql,
    "ev1_sessionization" -> sessionizeSql,
    // st12: the drained stream-static enrich equals the batch join
    "st12_stream_static_join" ->
      """SELECT c_mktsegment, count(*) AS n_events,
                CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
                  / 1000000.0 AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1""",
    // st14: the language-level enrich equals the batch join (st12's
    // oracle verbatim)
    "st14_stream_enrich_hql" ->
      """SELECT c_mktsegment, count(*) AS n_events,
                CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
                  / 1000000.0 AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1""",
    // st13: in-flight doubled events deduped within the watermark must
    // restore the ORIGINAL stream exactly
    "st13_watermark_dedup" ->
      """SELECT event_type, count(*) AS n_events,
                count(DISTINCT user_id) AS n_users,
                CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
                  / 1000000.0 AS sum_value
         FROM events GROUP BY 1""",
    // micro fixed-point value sum (accumulation-order-free integer
    // arithmetic; the a7 strict-failure class) — mirrors tumblingDaily
    "st1_tumbling_window" ->
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS win_start, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE)
                  / 1000000.0 AS sum_value
         FROM events GROUP BY 1, 2""",
    "st2_sliding_window" ->
      """WITH x AS (
           SELECT time_bucket(INTERVAL '12 hours', CAST(ts AS TIMESTAMP)) AS win_start,
                  event_type
           FROM events
           UNION ALL
           SELECT time_bucket(INTERVAL '12 hours', CAST(ts AS TIMESTAMP)) - INTERVAL '12 hours',
                  event_type
           FROM events)
         SELECT win_start, event_type, count(*) AS n_events FROM x GROUP BY 1, 2""",
    "st4_store_sink" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY event_type""",
    "st17_stream_retention" ->
      """WITH live AS (
           SELECT event_id, event_type,
                  CAST(floor(value * 1000000) AS BIGINT) AS vmicro
           FROM events
           WHERE event_id >= (SELECT max(event_id) FROM events) - 600)
         SELECT event_type, count(*) AS n,
                CAST(sum(vmicro) AS BIGINT) AS sum_vmicro,
                min(event_id) AS min_id, max(event_id) AS max_id
         FROM live GROUP BY event_type""",
    // first-arrived = min doc_id (doc_id-ordered staged chunks), so the
    // streamed corpus equals the batch keep-min-per-text statement
    "st5_stream_dedup" ->
      """WITH keep AS (
           SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text)
         SELECT d.lang, count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
         FROM documents d JOIN keep k ON d.doc_id = k.doc_id
         GROUP BY d.lang""",
    // st5b: first-arrived = min doc_id per FINGERPRINT (tx4's rolling
    // hash, same expression as the tx4 oracle)
    "st5b_stream_dedup_fp" ->
      ("""WITH fps AS (
           SELECT doc_id, lang, n_chars,
             """ + graft.operators.TextFns.fingerprintDuckSql("text") + """ AS fp
           FROM documents),
         keep AS (SELECT fp, min(doc_id) AS doc_id FROM fps GROUP BY fp)
         SELECT d.lang, count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
         FROM fps d JOIN keep k ON d.doc_id = k.doc_id
         GROUP BY d.lang"""),
    // st5c: the row-level form of st5b's oracle — the exact survivor
    // set, not its census
    "st5c_stream_dedup_rows" ->
      ("""WITH fps AS (
           SELECT doc_id, lang, n_chars,
             """ + graft.operators.TextFns.fingerprintDuckSql("text") + """ AS fp
           FROM documents),
         keep AS (SELECT fp, min(doc_id) AS doc_id FROM fps GROUP BY fp)
         SELECT d.doc_id, d.lang, d.n_chars
         FROM fps d JOIN keep k ON d.doc_id = k.doc_id"""),
    // st6: the statement form routes to the same sink — same oracle
    "st6_stream_dedup_hql" ->
      ("""WITH fps AS (
           SELECT doc_id, lang, n_chars,
             """ + graft.operators.TextFns.fingerprintDuckSql("text") + """ AS fp
           FROM documents),
         keep AS (SELECT fp, min(doc_id) AS doc_id FROM fps GROUP BY fp)
         SELECT d.lang, count(*) AS n_docs, CAST(sum(d.n_chars) AS BIGINT) AS sum_chars
         FROM fps d JOIN keep k ON d.doc_id = k.doc_id
         GROUP BY d.lang"""),
    "st3_session_window" ->
      """WITH o AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
           FROM events),
         m AS (
           SELECT user_id, ts,
             CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
           FROM o),
         sids AS (
           SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM m)
         SELECT min(ts) AS sess_start, user_id, count(*) AS n_events
         FROM sids GROUP BY user_id, sid""",
  )
}
