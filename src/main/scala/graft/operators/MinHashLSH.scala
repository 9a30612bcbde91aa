package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection, entirely in composed
  * Catalyst expressions (no UDFs — the signature computation runs inside
  * whole-stage codegen).
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

  /** MinHash signature from a precomputed base-hash array column:
    * `array<bigint>` of length bands·rowsPerBand. The base hashes MUST
    * be a separate column — inlining them here would re-hash every
    * shingle string once per coefficient (a 60× slowdown measured at
    * sf0.1). */
  def signatureOfBases(basesCol: String, bands: Int, rowsPerBand: Int): Column = {
    val n = bands * rowsPerBand
    val (as, bs) = coeffs(n)
    expr(
      s"""transform(array(${as.zip(bs).map { case (a, b) => s"struct(${a}L AS a, ${b}L AS b)" }.mkString(", ")}),
            c -> aggregate($basesCol,
                   9223372036854775807L,
                   (acc, h) -> least(acc, (c.a * h + c.b) % ${P}L)))""")
  }

  /** One 64-bit base hash per shingle (xxhash64 folded into 31 bits so
    * the affine permutations stay overflow-free in long arithmetic). */
  def baseHashes(shinglesCol: String): Column =
    expr(s"transform($shinglesCol, sh -> pmod(xxhash64(sh), 2147483648L))")

  /** (band, bandSig) rows per document: one xxhash64 over each
    * rowsPerBand-slice of the signature. The signature itself comes from
    * the native [[graft.functions.VectorFns.MinHashSig]] expression —
    * one tight pass per row instead of bands·rows interpreted
    * aggregate() lambdas (measured ~7× on dd3 at sf0.1). */
  def bandedSignatures(df: DataFrame, idCol: String, shinglesCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val (as, bs) = coeffs(bands * rowsPerBand)
    graft.functions.VectorFns.register(df.sparkSession, as, bs)
    // a shingle-less document (shorter than the shingle length) has an
    // all-sentinel degenerate signature: every such doc would share
    // every band bucket with every other, a quadratic candidate blowup
    // on real corpora full of short docs — and Jaccard over empty sets
    // is undefined anyway, so they can never verify as near-dups. Drop
    // them from banding entirely.
    df.filter(size(col(shinglesCol)) > 0)
      .withColumn("_mh", expr(s"graft_minhash_sig($shinglesCol)"))
      .select(col(idCol), explode(expr(
        s"""transform(sequence(0, ${bands - 1}),
              bi -> struct(bi AS band, xxhash64(slice(_mh, bi * $rowsPerBand + 1, $rowsPerBand)) AS sig))"""))
        .as("b"))
      .select(col(idCol), col("b.band"), col("b.sig"))
  }

  /** Near-duplicates with SIGNATURE-ESTIMATED verification: instead of
    * the exact shingle intersect, estimate Jaccard as the fraction of
    * agreeing signature components (the textbook unbiased MinHash
    * estimator) — k comparisons per candidate instead of |shingles|
    * hashes, for when verification dominates (§9 scale probe).
    * `textCol`/`shingleLen`: raw text — shingling, hashing, and dedup
    * run in the native [[graft.functions.VectorFns.ShingleHashesSorted]]
    * pass. */
  def nearDuplicatesEstimated(docsIn: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val k = bands * rowsPerBand
    val docs = docsIn.repartition(docsIn.sparkSession.sparkContext.defaultParallelism)
    val (as, bs) = coeffs(k)
    graft.functions.VectorFns.register(docs.sparkSession, as, bs)
    val sigs = docs
      .withColumn("_mh", expr(
        s"graft_minhash_sig_long(graft_shingle_hashes($textCol, $shingleLen))"))
      .select(col(idCol), col("_mh")).localCheckpoint()
    val banded = sigs.select(col(idCol), explode(expr(
      s"""transform(sequence(0, ${bands - 1}),
            bi -> struct(bi AS band, xxhash64(slice(_mh, bi * $rowsPerBand + 1, $rowsPerBand)) AS sig))"""))
      .as("b"))
      .select(col(idCol), col("b.band"), col("b.sig"))
    val x = banded.select(col(idCol).as("a_id"), col("band"), col("sig"))
    val y = banded.select(col(idCol).as("b_id"), col("band"), col("sig"))
    // raw candidate stream — dedup happens after the estimator filter,
    // on the far smaller surviving set (see nearDuplicates); same
    // salted-join escape hatch as the exact-verify path
    val cand = saltedBandSelfJoin(x, y)
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    // signatures (k longs per doc) are the small side vs the candidate
    // stream — broadcast, same reasoning as the exact-verify path; gated
    // on corpus size (sigs is checkpointed, the count is a cache scan)
    val corpusRows = sigs.count()
    val sa = sigs.select(col(idCol).as("a_id"), col("_mh").as("ma"))
    val sb = sigs.select(col(idCol).as("b_id"), col("_mh").as("mb"))
    // k longs ≈ 0.5 KB/doc → 4M docs ≈ 2 GB broadcast, the sane ceiling
    cand.join(SizeGate.maybeBroadcast(sa, corpusRows, 4000000L), "a_id")
      .join(SizeGate.maybeBroadcast(sb, corpusRows, 4000000L), "b_id")
      // agreement count via the codegen'd expression — the interpreted
      // zip_with/filter HOF chain allocated a boolean array per pair
      .withColumn("jaccard_est", expr(
        s"CAST(graft_sig_agree(ma, mb) AS DOUBLE) / $k"))
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
    * explicit repartition, which then executes once per scan. At 10⁹
    * corpus docs the gates flip the joins to co-located shuffles, the
    * only shape that survives there. Returns (corpus_id, new_id,
    * jaccard ≥ threshold); corpus and batch id spaces must be disjoint. */
  def nearDuplicatesAgainst(corpusIn: DataFrame, batchIn: DataFrame,
      idCol: String, textCol: String, shingleLen: Int,
      bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    val sess = corpusIn.sparkSession
    val (as, bs) = coeffs(bands * rowsPerBand)
    graft.functions.VectorFns.register(sess, as, bs)
    def hashedOf(df: DataFrame) = df.select(col(idCol),
      expr(s"graft_shingle_hashes($textCol, $shingleLen)").as("h"))
      .withColumn("_mh", expr("graft_minhash_sig_long(h)"))
    def bandedOf(df: DataFrame, idAs: String) = df
      .select(col(idCol).as(idAs), explode(expr(
        s"""transform(sequence(0, ${bands - 1}),
              bi -> struct(bi AS band, xxhash64(slice(_mh, bi * $rowsPerBand + 1, $rowsPerBand)) AS sig))"""))
        .as("b"))
      .select(col(idAs), col("b.band"), col("b.sig"))
    // the batch is materialized ONCE (its bands and shingle sets both
    // reuse it); the corpus is recomputed per scan instead — at corpus
    // scale a checkpoint is exactly the materialization you can't afford
    val batchHashed = hashedOf(batchIn).localCheckpoint()
    val batchRows = batchHashed.count()
    // spread ONLY an under-split corpus (see doc contract above): the
    // partition probe is plan-time driver work, no job runs; a corpus
    // already at cluster parallelism passes through with zero Exchange
    val par = sess.sparkContext.defaultParallelism
    val corpus =
      if (corpusIn.rdd.getNumPartitions < par) corpusIn.repartition(par)
      else corpusIn
    // scan 1: corpus band keys × broadcast batch band keys → candidates
    // (collision-bounded, batch-scale — checkpointed so scan 2 gets a
    // measured count to gate on instead of a guess)
    // pre-verify distinct: a re-crawl batch's true pairs collide in
    // MOST bands (all 21 for an exact re-ingest), and the verify join
    // would copy both fat hash arrays once per collision — dedup the
    // 16-byte pairs first (see nearDuplicatesAgainstMd5's note; the
    // ~1.09 duplication argument of the SELF-join form does not hold
    // batch-vs-corpus)
    val cand = bandedOf(hashedOf(corpus), "corpus_id")
      .join(SizeGate.maybeBroadcast(bandedOf(batchHashed, "new_id"),
        batchRows * bands, 5000000L), Seq("band", "sig"))
      .select("corpus_id", "new_id")
      .dropDuplicates("corpus_id", "new_id").localCheckpoint()
    val candRows = cand.count()
    // scan 2: exact verification — candidates broadcast INTO the corpus
    // side (never the reverse), batch shingle sets broadcast, merge-scan
    // intersect with the threshold early-exit (see nearDuplicates)
    val sa = hashedOf(corpus).select(col(idCol).as("corpus_id"), col("h").as("sa"))
    val sb = batchHashed.select(col(idCol).as("new_id"), col("h").as("sb"))
    sa.join(SizeGate.maybeBroadcast(cand, candRows, 5000000L), "corpus_id")
      .join(SizeGate.maybeBroadcast(sb, batchRows, 250000L), "new_id")
      .withColumn("inter", expr(s"graft_sorted_intersect_bounded(sa, sb, ${threshold}D)"))
      .withColumn("jaccard", TextFns.jaccardFromIntersect("inter", "size(sa)", "size(sb)"))
      .filter(col("jaccard") >= threshold)
      .dropDuplicates("corpus_id", "new_id")
      .select("corpus_id", "new_id", "jaccard")
  }

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

  /** Verify the raw candidate stream against a broadcast id→hashes
    * probe — the gate-side verify engine both hash families share
    * (r21). The probe is ONE whole-stage-codegen expression
    * ([[graft.functions.VectorFns.BroadcastJaccardProbe]]: two
    * primitive binary searches + the bounded merge-scan intersect per
    * candidate) over the band join's output stage — no join machinery,
    * no Dataset encoder boundary (the r20 form's
    * `as[(Long,Long)].mapPartitions` paid DeserializeToObject /
    * SerializeFromObject per candidate; a broadcast-hash-join +
    * intersect form was measured 2× SLOWER on an idle box — Dd14Prof
    * r21: map-verify 2.7 s, bhj-verify 5.4 s, this probe is the
    * map-verify minus its encoder hops and allocation). The expression
    * rides a session-registry entry only for the one analysis that
    * resolves it (unique name, dropped immediately — the sanctioned
    * no-internal-constructors route). The result is EAGERLY
    * materialized so the broadcast can be destroy()ed before
    * returning — the r20 leak: the hand-held broadcast outlived every
    * execution and accumulated blocks across repeated in-session runs
    * (BroadcastHygieneSpec pins the non-accumulation). */
  private def probeVerify(sigs: DataFrame, idCol: String, hCol: String,
      cand: DataFrame, threshold: Double): DataFrame = {
    val spark = sigs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      graft.functions.VectorFns.IdHashesMap.build(
        sigs.select(col(idCol), col(hCol)).as[(Long, Array[Long])].collect()))
    try {
      val fname = s"graft_bjac_tmp_${java.util.UUID.randomUUID().toString.take(8)}"
      val reg = spark.sessionState.functionRegistry
      try {
        reg.createOrReplaceTempFunction(fname,
          exprs => graft.functions.VectorFns.BroadcastJaccardProbe(
            exprs(0), exprs(1), bc, threshold), "built-in")
        val df = cand.withColumn("jaccard", expr(s"$fname(a_id, b_id)"))
          .filter(col("jaccard") >= threshold)
          .dropDuplicates("a_id", "b_id")
          .select("a_id", "b_id", "jaccard")
        // the probe stage is CPU-HEAVY over BYTE-SMALL shuffles (~30 MB
        // of 16-byte id pairs carrying ~5 CPU-seconds of intersect work
        // at sf0.1, measured 2.6 µs/pair single-threaded by
        // graft.tools.ProbeMicro) — AQE's partition coalescing sees only
        // the bytes and was folding the band-join + probe stage onto 3
        // tasks, serializing the verify (measured: the whole stage ran
        // at ~1/10 of the cluster). Same disease the corpus repartition
        // at the pipeline entry documents; coalescing is disabled just
        // for this eager materialization, and the conf is restored
        // exactly — unset again when it was unset
        val conf = spark.conf
        val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
        val was =
          if (spark.sessionState.conf.contains(coalesceKey)) Some(conf.get(coalesceKey)) else None
        conf.set(coalesceKey, "false")
        try {
          val out = df.localCheckpoint() // EAGER — the broadcasts die right after
          releaseStageBroadcasts(df)
          out
        } finally was.fold(conf.unset(coalesceKey))(conf.set(coalesceKey, _))
      } finally reg.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(fname))
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

  /** Self-join of band keys, optionally salted ([[BandSaltConf]]): the
    * left side salts DETERMINISTICALLY on hash(a_id) (retry-idempotent,
    * like every dedup key decision in this engine), the right side
    * replicates to all n slots, and the equi-join adds `__salt` to the
    * shuffle key — a hot (band, sig) group spreads over n tasks while
    * producing byte-identical pairs (SaltedBandJoinSpec). */
  private def saltedBandSelfJoin(x: DataFrame, y: DataFrame): DataFrame = {
    val n = x.sparkSession.conf.getOption(BandSaltConf).map(_.toInt).getOrElse(0)
    if (n <= 1) x.join(y, Seq("band", "sig"))
    else {
      val xs = x.withColumn("__salt",
        pmod(xxhash64(col("a_id")), lit(n.toLong)).cast("int"))
      // sequence over int literals yields array<int> — no cast, and a
      // generator cannot nest inside one anyway
      val ys = y.withColumn("__salt", explode(expr(s"sequence(0, ${n - 1})")))
      xs.join(ys, Seq("band", "sig", "__salt")).drop("__salt")
    }
  }

  /** Candidate pairs via the banded self-join, then exact-Jaccard
    * verification against `threshold`. `docs` must carry `idCol` and the
    * raw text in `textCol` — shingling, hashing, dedup, and sort run in
    * ONE native zero-allocation pass per row
    * ([[graft.functions.VectorFns.ShingleHashesSorted]]; the interpreted
    * HOF chain it replaces was the bench's single hottest span). */
  def nearDuplicates(docsIn: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, bands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    // CPU-heavy over byte-small input: a single parquet split (and AQE's
    // small-shuffle coalescing) would serialize the whole pipeline onto
    // one core — spread rows across the cluster first.
    val docs = docsIn.repartition(docsIn.sparkSession.sparkContext.defaultParallelism)
    val (as, bs) = coeffs(bands * rowsPerBand)
    graft.functions.VectorFns.register(docs.sparkSession, as, bs)
    // ONE materialization of the shingle set per document, as sorted
    // 64-bit hashes PLUS the minhash signature: the verification
    // merge-scans `h`, and both sides of the candidate self-join derive
    // their band keys from `_mh` — without checkpointing the signature
    // the x and y branches would each recompute the shingle-hash pass
    // and the k affine-min passes over every shingle (measured ~2× on
    // dd3 at sf0.1).
    val hashed = docs.select(col(idCol),
      expr(s"graft_shingle_hashes($textCol, $shingleLen)").as("h"))
      .withColumn("_mh", expr("graft_minhash_sig_long(h)"))
      .localCheckpoint()
    val banded = hashed
      .select(col(idCol), explode(expr(
        s"""transform(sequence(0, ${bands - 1}),
              bi -> struct(bi AS band, xxhash64(slice(_mh, bi * $rowsPerBand + 1, $rowsPerBand)) AS sig))"""))
        .as("b"))
      .select(col(idCol), col("b.band"), col("b.sig"))
    val x = banded.select(col(idCol).as("a_id"), col("band"), col("sig"))
    val y = banded.select(col(idCol).as("b_id"), col("band"), col("sig"))
    // NO pre-verify distinct: a pair colliding in k of the bands appears
    // k times, but the measured duplication factor is ~1.09 (pairs that
    // agree on one 3-row band usually agree on few others below the
    // threshold region) — verifying the raw stream costs ~9% more
    // intersects while skipping a full shuffle of every candidate pair;
    // the dedup moves AFTER the jaccard filter, onto the ~20× smaller
    // verified set (identical final pairs; jaccard is deterministic
    // per pair, so which duplicate survives is immaterial)
    val cand = saltedBandSelfJoin(x, y)
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    // verification: merge-scan intersect over the sorted hash arrays
    // (set sizes are preserved — a collision would need two of a doc's
    // ~10³ shingles to land on one of 2⁶⁴ values). Long compares beat
    // UTF8String compares ~3× and the payload is ~2.5× smaller.
    //
    // Under the size gate (same 250k-doc × ~8 KB ≈ 2 GB ceiling a
    // broadcast join would observe), verification is the codegen'd
    // broadcast PROBE over the raw candidate stream ([[probeVerify]] —
    // no join, no encoder boundary, broadcast destroyed after the
    // eager materialization). The probe keys longs — any other id type
    // takes the join path, which is id-type-generic. Past the gate the
    // joins fall back to shuffles on doc id (co-located equi-joins)
    // with the bounded intersect — early exit the moment Jaccard ≥
    // threshold is unreachable; -1 makes the jaccard negative, so the
    // filter keeps EXACTLY the pairs the unbounded scan would — the
    // only shape that survives 10⁹ docs.
    val corpusRows = hashed.count() // hashed is checkpointed — cache scan
    val spark = docs.sparkSession
    val longIds = hashed.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType
    if (longIds && corpusRows <= SizeGate.rowCap(spark, 250000L)) {
      probeVerify(hashed, idCol, "h", cand, threshold)
    } else {
      val sa = hashed.select(col(idCol).as("a_id"), col("h").as("sa"))
      val sb = hashed.select(col(idCol).as("b_id"), col("h").as("sb"))
      cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("inter", expr(s"graft_sorted_intersect_bounded(sa, sb, ${threshold}D)"))
        .withColumn("jaccard", TextFns.jaccardFromIntersect("inter", "size(sa)", "size(sb)"))
        .filter(col("jaccard") >= threshold)
        .dropDuplicates("a_id", "b_id")
        .select("a_id", "b_id", "jaccard")
    }
  }

  // ----------------------------------------------------- md5 hash family

  /** md5-derived 31-bit base hash of a string expression — the
    * ORACLE-EXPRESSIBLE hash family: DuckDB computes the identical
    * value as `CAST(('0x' || substr(md5(x),1,15)) AS BIGINT) %
    * 2147483648`, so gates built on it get a full SQL oracle where the
    * production xxhash64 family (not in DuckDB) only gets a rows-only
    * check. 15 hex chars = 60 bits, so the cast never overflows and
    * the value is non-negative (pmod == %). Production callers stay on
    * the native xxhash64 single-pass path (~7× faster per measured
    * note above); the md5 variants below differ ONLY in the base hash
    * family and the band-key representation (stringified slice instead
    * of xxhash64-of-slice, which DuckDB can mirror exactly) — the LSH
    * algebra under oracle test IS the production algebra. */
  def md5Hash31Sql(x: String): String =
    s"CAST(conv(substring(md5($x), 1, 15), 16, 10) AS BIGINT) % 2147483648L"

  /** Per-doc (id, sorted distinct md5-based shingle hashes, minhash
    * signature) — the md5-family twin of the `hashed` frame in
    * [[nearDuplicates]]. The signature runs through the NATIVE
    * [[graft.functions.VectorFns.MinHashSigLong]] expression: its
    * 31-bit pmod fold is the identity on the already-folded md5 bases,
    * so the values equal [[signatureOfBases]]' exactly while the
    * 63-coefficient min runs as one codegen'd pass instead of 63
    * interpreted aggregate() lambdas per row (measured ~2.4× on dd14
    * end-to-end at sf0.1). */
  private def md5HashedSigs(docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val (as, bs) = coeffs(bands * rowsPerBand)
    graft.functions.VectorFns.register(docs.sparkSession, as, bs)
    docs
      // NATIVE single-pass shingle+md5 hash (r20 guide §1.2 step 2):
      // value-identical to the composed
      // sort_array(array_distinct(transform(shingles, md5Hash31Sql)))
      // chain (Md5ShingleParitySpec pins it) but one digest call per
      // window instead of six allocations and two string parses — the
      // chain was dd14c's single hottest span (112 CPU-seconds at
      // sf0.1; sigs phase 3.5 s → ~0.3 s wall on 32 cores)
      .withColumn("h", expr(s"graft_shingle_hashes_md5($textCol, $shingleLen)"))
      .filter(size(col("h")) > 0)
      .withColumn("_mh", expr("graft_minhash_sig_long(h)"))
      .select(col(idCol), col("h"), col("_mh"))
  }

  /** (id, band, sig) rows with the STRINGIFIED slice as the band key —
    * exact composite equality in both engines, vs production's
    * xxhash64-of-slice reduction. */
  private def md5Banded(sigs: DataFrame, idCol: String, idAs: String,
      bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col(idCol).as(idAs), explode(expr(
      s"""transform(sequence(0, ${bands - 1}),
            bi -> struct(bi AS band,
              array_join(transform(slice(_mh, bi * $rowsPerBand + 1, $rowsPerBand),
                x -> CAST(x AS STRING)), ':') AS sig))""")).as("b"))
      .select(col(idAs), col("b.band"), col("b.sig"))

  /** [[nearDuplicates]] on the md5 hash family (full-oracle gates;
    * fixture-scale — no salting/size gates, AQE handles the joins). */
  def nearDuplicatesMd5(docsIn: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, bands: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    graft.functions.VectorFns.register(docsIn.sparkSession)
    val docs = docsIn.repartition(
      docsIn.sparkSession.sparkContext.defaultParallelism)
    val sigs = md5HashedSigs(docs, idCol, textCol, shingleLen, bands,
      rowsPerBand).localCheckpoint()
    val banded = md5Banded(sigs, idCol, idCol, bands, rowsPerBand)
    // NO pre-verify distinct (r20 realignment with the xxhash path's
    // measured call): the fixture's same-corpus band duplication is
    // ~1.09 (1.85M raw collisions → 1.70M distinct at sf0.1), so the
    // distinct was a full shuffle of every candidate pair to save ~9%
    // of intersects — dedup moves AFTER the jaccard filter, onto the
    // ~20× smaller verified set (identical final pairs: jaccard is
    // deterministic per pair, so which duplicate survives is
    // immaterial and the post-filter dropDuplicates restores the
    // oracle's SELECT DISTINCT exactly).
    val cand = banded.select(col(idCol).as("a_id"), col("band"), col("sig"))
      .join(banded.select(col(idCol).as("b_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
    // verification mirrors nearDuplicates (the xxhash path): under the
    // size gate, the codegen'd broadcast PROBE over the raw candidate
    // stream ([[probeVerify]] — no join machinery, no encoder
    // boundary, broadcast destroyed after the eager materialization;
    // its docstring has the r21 measurements, including why the
    // broadcast-hash-join + intersect alternative was REJECTED: 2×
    // slower on an idle box). Past the gate, co-located equi-joins
    // with the BOUNDED intersect and the pre-distinct restored (there
    // the joins do shuffle, and the distinct dedups 16-byte pairs
    // first) — same survivors by construction.
    val corpusRows = sigs.count() // sigs is checkpointed — cache scan
    val spark = docsIn.sparkSession
    val longIds = sigs.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType
    if (longIds && corpusRows <= SizeGate.rowCap(spark, 250000L)) {
      probeVerify(sigs, idCol, "h", cand, threshold)
    } else {
      val sa = sigs.select(col(idCol).as("a_id"), col("h").as("sa"))
      val sb = sigs.select(col(idCol).as("b_id"), col("h").as("sb"))
      cand.dropDuplicates("a_id", "b_id")
        .join(sa, "a_id").join(sb, "b_id")
        .withColumn("inter", expr(s"graft_sorted_intersect_bounded(sa, sb, ${threshold}D)"))
        .withColumn("jaccard",
          TextFns.jaccardFromIntersect("inter", "size(sa)", "size(sb)"))
        .filter(col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    }
  }

  /** [[nearDuplicatesEstimated]] on the md5 hash family: the k-component
    * signature-agreement estimator, oracle-expressible end to end. */
  def nearDuplicatesEstimatedMd5(docsIn: DataFrame, idCol: String,
      textCol: String, shingleLen: Int, bands: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    val k = bands * rowsPerBand
    val docs = docsIn.repartition(
      docsIn.sparkSession.sparkContext.defaultParallelism)
    val sigs = md5HashedSigs(docs, idCol, textCol, shingleLen, bands,
      rowsPerBand).localCheckpoint()
    val banded = md5Banded(sigs, idCol, idCol, bands, rowsPerBand)
    // dedup candidate pairs BEFORE the signature joins (mirroring the
    // oracle's SELECT DISTINCT): a true near-dup collides in MANY
    // bands — up to all 21 — and each duplicate would otherwise ride
    // through both signature joins and the 63-element comparison
    val cand = banded.select(col(idCol).as("a_id"), col("band"), col("sig"))
      .join(banded.select(col(idCol).as("b_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id")
      .dropDuplicates("a_id", "b_id")
    val sa = sigs.select(col(idCol).as("a_id"), col("_mh").as("ma"))
    val sb = sigs.select(col(idCol).as("b_id"), col("_mh").as("mb"))
    // native codegen'd agreement count — value-identical to the HOF
    // fold (DedupSpec pins it), one tight loop instead of 63
    // interpreted closure calls per pair
    graft.functions.VectorFns.register(docsIn.sparkSession)
    cand.join(sa, "a_id").join(sb, "b_id")
      .withColumn("jaccard_est", expr(
        s"CAST(graft_sig_agree(ma, mb) AS DOUBLE) / $k"))
      .filter(col("jaccard_est") >= threshold)
      .select("a_id", "b_id", "jaccard_est")
  }

  /** [[nearDuplicatesAgainst]] on the md5 hash family: batch-vs-corpus
    * candidates only, exact-verified. Id spaces must be disjoint. */
  def nearDuplicatesAgainstMd5(corpusIn: DataFrame, batchIn: DataFrame,
      idCol: String, textCol: String, shingleLen: Int, bands: Int,
      rowsPerBand: Int, threshold: Double): DataFrame = {
    graft.functions.VectorFns.register(corpusIn.sparkSession)
    val par = corpusIn.sparkSession.sparkContext.defaultParallelism
    val corpusSigs = md5HashedSigs(corpusIn.repartition(par), idCol, textCol,
      shingleLen, bands, rowsPerBand).localCheckpoint()
    val batchSigs = md5HashedSigs(batchIn.repartition(par), idCol, textCol,
      shingleLen, bands, rowsPerBand).localCheckpoint()
    // PRE-verify distinct — the opposite call from nearDuplicates'
    // raw-stream verification (there the measured same-corpus band
    // duplication is ~1.09): a re-crawl batch contains near-copies of
    // the corpus BY CONSTRUCTION, so a true pair collides in MOST of
    // its 21 bands (an exact re-ingest in all 21) and the verify join
    // would copy both ~8 KB hash arrays once per collision — the 100×
    // probe spilled the disk exactly here. The distinct shuffles
    // 16-byte id pairs instead.
    val cand = md5Banded(corpusSigs, idCol, "corpus_id", bands, rowsPerBand)
      .join(md5Banded(batchSigs, idCol, "new_id", bands, rowsPerBand),
        Seq("band", "sig"))
      .select("corpus_id", "new_id")
      .dropDuplicates("corpus_id", "new_id")
    val sa = corpusSigs.select(col(idCol).as("corpus_id"), col("h").as("sa"))
    val sb = batchSigs.select(col(idCol).as("new_id"), col("h").as("sb"))
    cand.join(sa, "corpus_id").join(sb, "new_id")
      // bounded intersect (r20): early exit the moment the remaining
      // elements cannot reach Jaccard ≥ threshold — the -1 dead marker
      // makes the jaccard negative, so the filter keeps exactly the
      // unbounded scan's pairs (the xxhash path's discipline)
      .withColumn("inter", expr(s"graft_sorted_intersect_bounded(sa, sb, ${threshold}D)"))
      .withColumn("jaccard",
        TextFns.jaccardFromIntersect("inter", "size(sa)", "size(sb)"))
      .filter(col("jaccard") >= threshold)
      .dropDuplicates("corpus_id", "new_id")
      .select("corpus_id", "new_id", "jaccard")
  }

}
