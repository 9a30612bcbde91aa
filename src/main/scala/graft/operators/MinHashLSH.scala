package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._

/** The two pieces of the LSH pipeline that depend on the hash family:
  * the native shingle-hash function (text, shingle length → sorted
  * distinct 64-bit hashes) and the band key over one signature slice.
  * Everything else — signature, banding, candidate join, size gates,
  * verification — is shared, so the LSH algebra the oracle gates test
  * IS the production algebra. */
sealed abstract class HashFamily(val shingleHashes: String) {
  def bandKey(slice: String): String
}

object HashFamily {
  /** Production: xxhash64 shingle hashes, band key the xxhash64 of the
    * slice. Not expressible in DuckDB, so its gates are rows-only. */
  case object XxHash extends HashFamily("graft_shingle_hashes") {
    def bandKey(slice: String): String = s"xxhash64($slice)"
  }

  /** Oracle-expressible: md5-derived 31-bit base hashes
    * ([[MinHashLSH.md5Hash31Sql]]) and the stringified slice as the band
    * key — exact composite equality that DuckDB computes identically. */
  case object Md5 extends HashFamily("graft_shingle_hashes_md5") {
    def bandKey(slice: String): String =
      s"array_join(transform($slice, x -> CAST(x AS STRING)), ':')"
  }
}

/** MinHash + banded LSH near-duplicate detection, entirely in composed
  * Catalyst expressions (no UDFs — the signature computation runs inside
  * whole-stage codegen), over one [[HashFamily]].
  *
  * Scale design (the 100 TB path, vs. the O(n²) exact variant kept only
  * as a small-sample oracle check):
  *  1. per-doc shingle set → 64-bit signature array   (map-only)
  *  2. explode to (band, bandSig) — b·n rows           (map-only)
  *  3. self-join on (band, bandSig) — shuffle on the band signature, a
  *     high-cardinality key, so candidate generation is an equi-join
  *     Catalyst executes as a sort-merge/hash join; cost is proportional
  *     to true collisions, never to n².
  *  4. exact-Jaccard verification only on candidates    (small)
  */
object MinHashLSH {

  /** Deterministic hash-family coefficients (published minhash scheme:
    * h_i(x) = (a_i·x + b_i) mod p). Seeded so results are reproducible
    * run-to-run and node-to-node. */
  def coeffs(numHashes: Int): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(42)
    // floorMod, not abs: abs(Long.MinValue) is negative, which would push a
    // coefficient out of [1, P-1] and silently break the permutation
    val as = Seq.fill(numHashes)(java.lang.Math.floorMod(rnd.nextLong(), P - 1) + 1L)
    val bs = Seq.fill(numHashes)(java.lang.Math.floorMod(rnd.nextLong(), P))
    (as, bs)
  }

  // prime just above the 31-bit base-hash domain — the affine maps must
  // wrap to behave as independent permutations (see VectorFns.MinHashSig)
  private val P = 2147483659L

  /** md5-derived 31-bit base hash of a string expression — the
    * [[HashFamily.Md5]] base hash as SQL: DuckDB computes the identical
    * value as `CAST(('0x' || substr(md5(x),1,15)) AS BIGINT) %
    * 2147483648`. 15 hex chars = 60 bits, so the cast never overflows and
    * the value is non-negative (pmod == %). The native
    * `graft_shingle_hashes_md5` pass is value-identical
    * (Md5ShingleParitySpec pins it). */
  def md5Hash31Sql(x: String): String =
    s"CAST(conv(substring(md5($x), 1, 15), 16, 10) AS BIGINT) % 2147483648L"

  /** Session override enabling SALTED band-join candidate generation:
    * `n > 1` splits each (band, sig) collision group across n reduce
    * slots. Off by default — the fixture corpus is skew-free and the
    * salt's y-side replication costs n× band rows; turn it on where one
    * viral near-dup cluster (one hot band signature carrying 10⁶
    * members) would otherwise pin the whole stage on a single task.
    * Pair-exact: a pair (a, b) matches exactly once, in a's salt slot.
    * Same trade and same conf family as the salted keeper aggregation
    * (`spark.graft.dedup.saltBuckets`, PipelineQueries). */
  val BandSaltConf = "spark.graft.dedup.bandSaltBuckets"

  /** Per-doc (id, h, _mh): the sorted distinct shingle hashes `h` — one
    * native zero-allocation pass per row
    * ([[graft.functions.VectorFns.ShingleHashesSorted]]) — and the
    * minhash signature `_mh` over them. The signature needs `h` as its
    * own column: inlining the shingle hashing into it would re-hash
    * every shingle once per coefficient.
    *
    * A shingle-less document (shorter than the shingle length) is
    * dropped: its all-sentinel signature would share every band bucket
    * with every other such doc — a quadratic candidate blowup on real
    * corpora full of short docs — and Jaccard over empty sets is
    * undefined (the probe's 0/0 is NaN, which Spark orders above every
    * threshold). The DuckDB oracles drop them the same way. */
  private def hashedOf(family: HashFamily, df: DataFrame, idCol: String,
      textCol: String, shingleLen: Int, k: Int): DataFrame = {
    val (as, bs) = coeffs(k)
    graft.functions.VectorFns.register(df.sparkSession, as, bs)
    df.select(col(idCol),
        expr(s"${family.shingleHashes}($textCol, $shingleLen)").as("h"))
      .filter(size(col("h")) > 0)
      .withColumn("_mh", expr("graft_minhash_sig_long(h)"))
  }

  /** (idAs, band, sig) rows: one family band key per rowsPerBand-slice
    * of the signature. */
  private def bandedOf(family: HashFamily, sigs: DataFrame, idCol: String,
      idAs: String, bands: Int, rowsPerBand: Int): DataFrame = {
    val key = family.bandKey(s"slice(_mh, bi * $rowsPerBand + 1, $rowsPerBand)")
    sigs.select(col(idCol).as(idAs), explode(expr(
        s"transform(sequence(0, ${bands - 1}), bi -> struct(bi AS band, $key AS sig))"))
        .as("b"))
      .select(col(idAs), col("b.band"), col("b.sig"))
  }

  /** Raw (a_id < b_id) candidate stream of the banded self-join. NO
    * dedup here: a pair colliding in k of the bands appears k times,
    * but the measured same-corpus duplication factor is ~1.09 (pairs
    * that agree on one 3-row band usually agree on few others below the
    * threshold region) — verifying the raw stream costs ~9% more
    * verifications while skipping a full shuffle of every candidate
    * pair; the callers dedup AFTER the threshold filter, onto the ~20×
    * smaller verified set (identical final pairs: the score is
    * deterministic per pair, so which duplicate survives is immaterial).
    * `bandRows`: see [[saltedBandSelfJoin]]. */
  private def candidates(family: HashFamily, sigs: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int, bandRows: Option[Long]): DataFrame = {
    val banded = bandedOf(family, sigs, idCol, idCol, bands, rowsPerBand)
    saltedBandSelfJoin(
      banded.select(col(idCol).as("a_id"), col("band"), col("sig")),
      banded.select(col(idCol).as("b_id"), col("band"), col("sig")), bandRows)
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
  }

  /** Self-join of band keys, optionally salted ([[BandSaltConf]]): the
    * left side salts DETERMINISTICALLY on hash(a_id) (retry-idempotent,
    * like every dedup key decision in this engine), the right side
    * replicates to all n slots, and the equi-join adds `__salt` to the
    * shuffle key — a hot (band, sig) group spreads over n tasks while
    * producing byte-identical pairs (SaltedBandJoinSpec).
    *
    * `bandRows` (the measured band-key row count of one side) pins the
    * join's parallelism for a CPU-heavy consumer over byte-small data,
    * which AQE partition coalescing would otherwise fold onto a few
    * tasks. Under the size gate the right side is broadcast, so the join
    * runs in the left side's own partitions with no exchange. Past it
    * both sides are repartitioned on the join keys to the shuffle
    * partition count, which the join reuses with no further exchange;
    * AQE never coalesces a repartition whose partition count is given.
    * No session conf is touched either way. */
  private def saltedBandSelfJoin(x: DataFrame, y: DataFrame,
      bandRows: Option[Long]): DataFrame = {
    val spark = x.sparkSession
    val n = spark.conf.getOption(BandSaltConf).map(_.toInt).getOrElse(0)
    val (xs, ys, keys) =
      if (n <= 1) (x, y, Seq("band", "sig"))
      else (x.withColumn("__salt", pmod(xxhash64(col("a_id")), lit(n.toLong)).cast("int")),
        // sequence over int literals yields array<int> — no cast, and a
        // generator cannot nest inside one anyway
        y.withColumn("__salt", explode(expr(s"sequence(0, ${n - 1})"))),
        Seq("band", "sig", "__salt"))
    val (l, r) = bandRows match {
      case None => (xs, ys)
      case Some(rows) if rows * math.max(n, 1) <= SizeGate.rowCap(spark, 5000000L) =>
        (xs, broadcast(ys))
      case Some(_) =>
        val p = spark.sessionState.conf.numShufflePartitions
        (xs.repartition(p, keys.map(col): _*), ys.repartition(p, keys.map(col): _*))
    }
    l.join(r, keys).drop("__salt")
  }

  /** Verify the raw candidate stream against a broadcast id→hashes
    * probe. The probe is ONE whole-stage-codegen expression
    * ([[graft.functions.VectorFns.BroadcastJaccardProbe]]: two primitive
    * binary searches + the bounded merge-scan intersect per candidate)
    * over the band join's output stage — no join machinery, no Dataset
    * encoder boundary (a broadcast-hash-join + intersect form measured
    * 2× SLOWER on an idle box: Dd14Prof map-verify 2.7 s, bhj-verify
    * 5.4 s). The column is built straight from the expression; nothing
    * is registered in the session.
    *
    * The probe stage is CPU-HEAVY over BYTE-SMALL shuffles (~30 MB of
    * 16-byte id pairs carrying ~5 CPU-seconds of intersect work at
    * sf0.1, 2.6 µs/pair single-threaded by graft.tools.ProbeMicro): AQE
    * partition coalescing, seeing only the bytes, folded it onto 3 tasks
    * at ~1/10 of the cluster. `cand` therefore comes with its band join's
    * parallelism pinned (see [[saltedBandSelfJoin]]).
    *
    * The result is EAGERLY materialized so the broadcast can be
    * destroy()ed before returning — a hand-held broadcast otherwise
    * outlives every execution and accumulates blocks across repeated
    * in-session runs (BroadcastHygieneSpec pins the non-accumulation). */
  private def probeVerify(sigs: DataFrame, idCol: String,
      cand: DataFrame, threshold: Double): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      graft.functions.VectorFns.IdHashesMap.build(
        sigs.select(col(idCol), col("h")).as[(Long, Array[Long])].collect()))
    try {
      val probe = org.apache.spark.sql.graft.ColumnFactory.of(
        graft.functions.VectorFns.BroadcastJaccardProbe(
          UnresolvedAttribute("a_id"), UnresolvedAttribute("b_id"), bc, threshold))
      val df = cand.withColumn("jaccard", probe)
        .filter(col("jaccard") >= threshold)
        .dropDuplicates("a_id", "b_id")
        .select("a_id", "b_id", "jaccard")
      val out = df.localCheckpoint() // EAGER — the broadcasts die right after
      releaseStageBroadcasts(df)
      out
    } finally bc.destroy() // a failed checkpoint must not leak it either
  }

  /** Destroy the broadcast relations AQE materialized while executing
    * `df` (a broadcast-hash candidate join's build side). `df` was just
    * checkpointed eagerly, so its plan never runs again; left alone,
    * those blocks live until a GC lets the ContextCleaner reach them. */
  private def releaseStageBroadcasts(df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, BroadcastQueryStageExec}
    object stages extends AdaptiveSparkPlanHelper
    stages.collect(df.queryExecution.executedPlan) {
      case s: BroadcastQueryStageExec if s.isMaterialized => s.broadcast.relationFuture.get()
    }.distinctBy(_.id).foreach(_.destroy())
  }

  /** Bounded exact Jaccard of the sorted hash arrays `sa`, `sb`: the
    * merge-scan exits the moment Jaccard ≥ threshold is unreachable and
    * -1 makes the score negative, so a `>= threshold` filter keeps
    * EXACTLY the pairs the unbounded scan would. */
  private def boundedJaccard(threshold: Double)(df: DataFrame): DataFrame = df
    .withColumn("inter", expr(s"graft_sorted_intersect_bounded(sa, sb, ${threshold}D)"))
    .withColumn("jaccard", TextFns.jaccardFromIntersect("inter", "size(sa)", "size(sb)"))

  /** Candidate pairs via the banded self-join, then exact-Jaccard
    * verification against `threshold`: (a_id, b_id, jaccard), a_id <
    * b_id. `docs` carries `idCol` and the raw text in `textCol`. */
  def nearDuplicates(family: HashFamily, docsIn: DataFrame, idCol: String,
      textCol: String, shingleLen: Int, bands: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    val spark = docsIn.sparkSession
    // CPU-heavy over byte-small input: a single parquet split would
    // serialize the whole pipeline onto one core — spread rows first
    val docs = docsIn.repartition(spark.sparkContext.defaultParallelism)
    // ONE materialization of the shingle hashes AND the signature per
    // document: verification reads `h`, and both sides of the band
    // self-join derive their keys from `_mh` — unmaterialized, each side
    // would recompute the shingle-hash pass and the k affine-min passes
    // (measured ~2× on dd3 at sf0.1)
    val hashed = hashedOf(family, docs, idCol, textCol, shingleLen, bands * rowsPerBand)
      .localCheckpoint()
    // Under the size gate (a 250k-doc × ~8 KB ≈ 2 GB broadcast ceiling)
    // verification is the broadcast PROBE ([[probeVerify]]); it keys
    // longs, so any other id type takes the id-type-generic join path.
    // Past the gate the joins fall back to shuffles on doc id
    // (co-located equi-joins) with the bounded intersect — the only
    // shape that survives 10⁹ docs.
    val corpusRows = hashed.count() // hashed is checkpointed — cache scan
    val longIds = hashed.schema(idCol).dataType == org.apache.spark.sql.types.LongType
    if (longIds && corpusRows <= SizeGate.rowCap(spark, 250000L)) {
      probeVerify(hashed, idCol, candidates(family, hashed, idCol, bands, rowsPerBand,
        Some(corpusRows * bands)), threshold)
    } else {
      val sa = hashed.select(col(idCol).as("a_id"), col("h").as("sa"))
      val sb = hashed.select(col(idCol).as("b_id"), col("h").as("sb"))
      candidates(family, hashed, idCol, bands, rowsPerBand, None)
        .join(sa, "a_id").join(sb, "b_id")
        .transform(boundedJaccard(threshold))
        .filter(col("jaccard") >= threshold)
        .dropDuplicates("a_id", "b_id")
        .select("a_id", "b_id", "jaccard")
    }
  }

  /** Near-duplicates with SIGNATURE-ESTIMATED verification: instead of
    * the exact shingle intersect, estimate Jaccard as the fraction of
    * agreeing signature components (the textbook unbiased MinHash
    * estimator) — k comparisons per candidate instead of |shingles|
    * hashes, for when verification dominates. Returns (a_id, b_id,
    * jaccard_est). */
  def nearDuplicatesEstimated(family: HashFamily, docsIn: DataFrame,
      idCol: String, textCol: String, shingleLen: Int, bands: Int,
      rowsPerBand: Int, threshold: Double): DataFrame = {
    val k = bands * rowsPerBand
    val docs = docsIn.repartition(docsIn.sparkSession.sparkContext.defaultParallelism)
    val sigs = hashedOf(family, docs, idCol, textCol, shingleLen, k)
      .select(col(idCol), col("_mh")).localCheckpoint()
    val cand = candidates(family, sigs, idCol, bands, rowsPerBand, None)
    // signatures (k longs per doc) are the small side vs the candidate
    // stream — broadcast, gated on corpus size (sigs is checkpointed,
    // the count is a cache scan); k longs ≈ 0.5 KB/doc → 4M docs ≈ 2 GB
    val corpusRows = sigs.count()
    val sa = sigs.select(col(idCol).as("a_id"), col("_mh").as("ma"))
    val sb = sigs.select(col(idCol).as("b_id"), col("_mh").as("mb"))
    cand.join(SizeGate.maybeBroadcast(sa, corpusRows, 4000000L), "a_id")
      .join(SizeGate.maybeBroadcast(sb, corpusRows, 4000000L), "b_id")
      // agreement count via the codegen'd expression — the interpreted
      // zip_with/filter HOF chain allocated a boolean array per pair
      .withColumn("jaccard_est", expr(s"CAST(graft_sig_agree(ma, mb) AS DOUBLE) / $k"))
      .filter(col("jaccard_est") >= threshold)
      .dropDuplicates("a_id", "b_id")
      .select("a_id", "b_id", "jaccard_est")
  }

  /** INCREMENTAL near-dup: candidate pairs between a NEW BATCH and an
    * existing CORPUS only — the production dedup shape: a training
    * pipeline dedups each incoming batch against everything already
    * ingested, never re-pairing the corpus with itself. The batch is
    * small by construction, so its banded keys and shingle sets ride
    * size-gated broadcasts; the corpus is scanned twice (band keys,
    * verification) and — whenever its input already arrives in at least
    * cluster-parallelism splits, i.e. at any real scale — NEVER
    * shuffled: cost is two corpus scans plus collisions, independent of
    * the corpus's own pair count. Only a corpus arriving in FEWER splits
    * than the cluster has cores (the small-input case, where the
    * CPU-heavy hash scans would serialize onto a handful of cores and
    * the shuffle is byte-cheap by the same token) is spread by an
    * explicit repartition, hashed once and checkpointed, so both scans
    * read its signatures instead of hashing it twice. At 10⁹
    * corpus docs the gates flip the joins to co-located shuffles, the
    * only shape that survives there. Returns (corpus_id, new_id,
    * jaccard ≥ threshold); corpus and batch id spaces must be disjoint. */
  def nearDuplicatesAgainst(family: HashFamily, corpusIn: DataFrame,
      batchIn: DataFrame, idCol: String, textCol: String, shingleLen: Int,
      bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val sess = corpusIn.sparkSession
    def hashed(df: DataFrame) =
      hashedOf(family, df, idCol, textCol, shingleLen, bands * rowsPerBand)
    // the batch is materialized ONCE (its bands and shingle sets both
    // reuse it); a corpus at cluster parallelism is recomputed per scan
    // instead — at corpus scale a checkpoint is exactly the
    // materialization you can't afford
    val batchHashed = hashed(batchIn).localCheckpoint()
    val batchRows = batchHashed.count()
    // spread ONLY an under-split corpus (see doc contract above): the
    // partition probe is plan-time driver work, no job runs; a corpus
    // already at cluster parallelism passes through with zero Exchange
    // and is hashed per scan. The spread corpus is small by that same
    // test, so its hashes are materialized once for both scans.
    val par = sess.sparkContext.defaultParallelism
    val corpusHashed =
      if (corpusIn.rdd.getNumPartitions < par)
        hashed(corpusIn.repartition(par)).localCheckpoint()
      else hashed(corpusIn)
    // scan 1: corpus band keys × broadcast batch band keys → candidates
    // (collision-bounded, batch-scale — checkpointed so scan 2 gets a
    // measured count to gate on instead of a guess). PRE-verify
    // distinct, unlike the self-join: a re-crawl batch holds near-copies
    // of the corpus BY CONSTRUCTION, so a true pair collides in MOST
    // bands (an exact re-ingest in all 21) and the verify join would
    // copy both fat hash arrays once per collision — the 100× probe
    // spilled the disk exactly here. The distinct shuffles 16-byte pairs.
    val cand = bandedOf(family, corpusHashed, idCol, "corpus_id", bands, rowsPerBand)
      .join(SizeGate.maybeBroadcast(
        bandedOf(family, batchHashed, idCol, "new_id", bands, rowsPerBand),
        batchRows * bands, 5000000L), Seq("band", "sig"))
      .select("corpus_id", "new_id")
      .dropDuplicates("corpus_id", "new_id").localCheckpoint()
    val candRows = cand.count()
    // scan 2: exact verification — candidates broadcast INTO the corpus
    // side (never the reverse), batch shingle sets broadcast
    val sa = corpusHashed.select(col(idCol).as("corpus_id"), col("h").as("sa"))
    val sb = batchHashed.select(col(idCol).as("new_id"), col("h").as("sb"))
    sa.join(SizeGate.maybeBroadcast(cand, candRows, 5000000L), "corpus_id")
      .join(SizeGate.maybeBroadcast(sb, batchRows, 250000L), "new_id")
      .transform(boundedJaccard(threshold))
      .filter(col("jaccard") >= threshold)
      .dropDuplicates("corpus_id", "new_id")
      .select("corpus_id", "new_id", "jaccard")
  }
}
