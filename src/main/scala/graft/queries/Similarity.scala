package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.operators.TextFns

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]`, 64-dim).
  *
  * ann1 is the exact baseline: probe set × corpus with the corpus
  * broadcast (at 100 TB the probe side is small by construction, so this
  * is a broadcast nested-loop with zero shuffle of the corpus — each
  * executor scans its corpus split once). ann2 is the scale path:
  * random-hyperplane LSH buckets the corpus so each probe touches only
  * its multiprobe buckets (cost ∝ bucket size, not corpus size).
  */
object Similarity extends QueryPack {

  private val K = 5
  private val NPROBES = 20

  /** ann1 — brute-force cosine top-k for a fixed probe set. */
  private def ann1(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFns.register(s)
    val e = t(s, d, "embeddings")
    val probes = e.filter(col("vec_id") < NPROBES)
      .select(col("vec_id").as("probe_id"), col("embedding").as("vp"),
        expr("sqrt(graft_dot_f(embedding, embedding))").as("np"))
    val corpus = e.repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("vn"),
        expr("sqrt(graft_dot_f(embedding, embedding))").as("nn"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    broadcast(probes).join(corpus, col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", expr("graft_dot_f(vp, vn) / (np * nn)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      // rank from the raw double; the EMITTED value is rounded so the
      // external hash gate is insensitive to last-ulp accumulation-order
      // differences between engines
      .withColumn("cos_sim", round(col("cos_sim"), 6))
      .select("probe_id", "neighbor_id", "cos_sim", "rank")
  }

  /** Deterministic random hyperplanes (seeded Gaussian), dim 64. */
  private def planes(n: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  private def dotPlane(vecCol: String, p: Seq[Double]): Column = expr(
    s"""aggregate(zip_with($vecCol, array(${p.map(x => s"CAST($x AS DOUBLE)").mkString(", ")}),
          (x, y) -> CAST(x AS DOUBLE) * y),
        CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""")

  /** Sign-bit bucket id from `nBits` hyperplanes. */
  private def bucketCol(vecCol: String, ps: Seq[Seq[Double]]): Column =
    ps.zipWithIndex.map { case (p, j) =>
      when(dotPlane(vecCol, p) > 0.0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** ann2 — LSH-bucketed ANN: 6-bit random-hyperplane buckets with
    * Hamming-1 multiprobe, exact cosine re-rank within candidates.
    * Approximate recall → rows-only driver check; the ScalaTest spec
    * measures recall against ann1. */
  private def ann2(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFns.register(s)
    val nBits = 6
    val ps = planes(nBits, 64)
    val e = t(s, d, "embeddings")
    val corpus = e.repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("vn"), bucketCol("embedding", ps).as("bucket"),
        expr("sqrt(graft_dot_f(embedding, embedding))").as("nn"))
    val probeBuckets = (0 until nBits).map(m => expr(s"pbucket ^ ${1 << m}")) :+ col("pbucket")
    val probes = e.filter(col("vec_id") < NPROBES)
      .select(col("vec_id").as("probe_id"), col("embedding").as("vp"),
        bucketCol("embedding", ps).as("pbucket"),
        expr("sqrt(graft_dot_f(embedding, embedding))").as("np"))
      .withColumn("bucket", explode(array(probeBuckets: _*)))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    broadcast(probes).join(corpus, Seq("bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", expr("graft_dot_f(vp, vn) / (np * nn)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      // rank from the raw double, emit rounded (the ann1 convention) —
      // with fixed literal hyperplanes the whole query is deterministic,
      // so it carries a FULL DuckDB oracle, not just a rows-only check
      .withColumn("cos_sim", round(col("cos_sim"), 6))
      .select("probe_id", "neighbor_id", "cos_sim", "rank")
  }

  /** ann3 — IVF (inverted-file) ANN: a coarse quantizer of `C` seed
    * centroids (Forgy-initialized on deterministic corpus vectors)
    * partitions the corpus into inverted lists; each probe scans only
    * its `NLISTS_PROBED` nearest lists and re-ranks exactly. The scale
    * shape of FAISS-style IVF: query cost ∝ probed-list size, corpus
    * assignment is one broadcast join, and the lists partition cleanly
    * across executors. Approximate → rows-only gate; recall@K vs ann1
    * is spec-checked. */
  private def ann3(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFns.register(s)
    val C = 32; val NLISTS_PROBED = 8
    val e = t(s, d, "embeddings")
    // Forgy seeds: deterministic residue-class pick spread over the id
    // space (works at every scale factor), ordered so `limit` is stable
    val cents = e.filter(col("vec_id") >= NPROBES && col("vec_id") % 13 === 5)
      .orderBy("vec_id").limit(C)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"),
        expr("sqrt(graft_dot_f(embedding, embedding))").as("cn"))
    def nearestLists(side: DataFrame, id: String, v: String, n: String, k: Int,
        keep: Seq[Column]) = {
      val w = Window.partitionBy(col(id)).orderBy(col("__csim").desc, col("cid").asc)
      side.crossJoin(broadcast(cents))
        .withColumn("__csim", expr(s"graft_dot_f($v, cv) / ($n * cn)"))
        .withColumn("__cr", row_number().over(w))
        .filter(col("__cr") <= k)
        .select(keep :+ col("cid"): _*)
    }
    val corpus = e.repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("vn"),
        expr("sqrt(graft_dot_f(embedding, embedding))").as("nn"))
    val lists = nearestLists(corpus, "neighbor_id", "vn", "nn", 1,
      Seq(col("neighbor_id"), col("vn"), col("nn")))
    val probes = e.filter(col("vec_id") < NPROBES)
      .select(col("vec_id").as("probe_id"), col("embedding").as("vp"),
        expr("sqrt(graft_dot_f(embedding, embedding))").as("np"))
    val probeLists = nearestLists(probes, "probe_id", "vp", "np", NLISTS_PROBED,
      Seq(col("probe_id"), col("vp"), col("np")))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    broadcast(probeLists).join(lists, Seq("cid"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", expr("graft_dot_f(vp, vn) / (np * nn)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .withColumn("cos_sim", round(col("cos_sim"), 6))
      .select("probe_id", "neighbor_id", "cos_sim", "rank")
  }

  /** ann4 — product-quantization ADC top-k (Jégou et al. 2011 "Product
    * Quantization for Nearest Neighbor Search"): the 64-dim space is
    * split into M=8 subspaces of SUB=8 dims; each subspace gets KC=16
    * centroids trained by deterministic sample k-means (Forgy init
    * from residue-class picks, the dd9/ann3 convention, then 8 Lloyd
    * rounds), and every corpus vector is ENCODED map-only to 8
    * one-byte codes — 8 bytes per vector instead of 256, the
    * compression that fits a 10⁹-vector corpus in executor memory.
    * Probes precompute a lookup table (LUT[j][c] = dot of the probe's
    * j-th subvector with centroid c) and the scan scores each corpus
    * row with 8 LUT lookups instead of a 64-mult dot (asymmetric
    * distance computation); approximate top-CAND then exact re-rank to
    * top-K. Cosine via unit-normalizing both sides first, so approx
    * score sums subspace dots of normalized vectors.
    *
    * Plan shape: the codebook trains on a ≤TRAIN-row driver collect
    * (≤64 KB, the size-bounded small-set pattern of the fp bucket
    * collect; the sf0.001 fixture yields 160 sample rows) turned
    * into one `typedLit` — encode and LUT are then pure map-side
    * expressions, zero join; the candidate scan broadcasts the probe
    * LUTs against the CODES column only (never the raw vectors); the
    * exact re-rank joins the ~probes×CAND candidate ids back to the
    * corpus — at any scale the full-precision vectors are touched for
    * candidates only. Approximate recall → rows-only driver check;
    * recall@K vs ann1 is spec-measured (SimilaritySpec). */
  /** Deterministic bounded driver sample for codebook training (the
    * FAISS convention — k-means trains on a sample, never the corpus):
    * ≤256 residue-class picks in id order, unit-normalized,
    * element-type-agnostic (float[] today, double[] if the warehouse
    * regenerates — the r10 lesson). A fixed ≤64 KB collect at any
    * corpus size. */
  private def unitSample(e: DataFrame): Array[Array[Double]] = e
    .filter(col("vec_id") >= NPROBES && col("vec_id") % 3 === 1)
    .orderBy("vec_id").limit(256)
    .select(col("embedding")).collect()
    .map { r =>
      val v = r.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
        case other => throw new IllegalArgumentException(
          s"embedding element: $other")
      }.toArray
      val n = math.sqrt(v.map(x => x * x).sum) max 1e-12
      v.map(_ / n)
    }

  /** Driver-side k-means: Forgy init from evenly-spaced sample rows,
    * 8 Lloyd rounds with left-to-right mean folds — bit-deterministic.
    * Empty clusters keep their previous centroid. Guarded for samples
    * smaller than k (stride floors at 1; duplicate seeds then converge
    * to duplicate centroids, which argmin tie-breaks deterministically)
    * and fails loudly on an empty sample. */
  private def lloyd(sub: Array[Array[Double]], k: Int): Seq[Seq[Double]] = {
    require(sub.nonEmpty, "codebook training sample is empty")
    val dim = sub(0).length
    val stride = math.max(1, sub.length / k)
    var cents = (0 until k)
      .map(c => sub(math.min(c * stride, sub.length - 1)).clone).toArray
    (0 until 8).foreach { _ =>
      // same first-min argmin-L2 as the executor-side encode
      val assign = sub.map(v => graft.functions.VectorFns.nearestIdx(v, cents))
      cents = cents.indices.map { c =>
        val mine = sub.indices.filter(assign(_) == c)
        if (mine.isEmpty) cents(c)
        else {
          val m = new Array[Double](dim)
          mine.foreach { i => var dI = 0
            while (dI < dim) { m(dI) += sub(i)(dI); dI += 1 } }
          m.map(_ / mine.length)
        }
      }.toArray
    }
    cents.map(_.toSeq).toSeq
  }

  private val M = 8; private val SUB = 8; private val KC = 16 // M*SUB = 64 dims

  /** cents(j)(c) = PQ centroid c of subspace j, trained in the
    * unit-normalized space the corpus/probes are encoded in. */
  private def pqCodebook(sample: Array[Array[Double]]): Seq[Seq[Seq[Double]]] =
    (0 until M).map { j =>
      lloyd(sample.map(_.slice(j * SUB, (j + 1) * SUB)), KC)
    }

  /** Unit-normalized double vector from the embedding column (element
    * type adaptive via the CAST). */
  private val unit = expr(
    """transform(embedding, x -> CAST(x AS DOUBLE) /
       greatest(sqrt(graft_dot_f(embedding, embedding)), CAST(1e-12 AS DOUBLE)))""")

  /** Probe-side ADC lookup table: LUT[j][c] = dot(sub_j(probe_unit),
    * cent_{j,c}) — tiny side (NPROBES rows), the HOF form is fine. */
  private def probeLuts(e: DataFrame, cents: Seq[Seq[Seq[Double]]],
      nProbes: Int = NPROBES): DataFrame =
    probeLutsFor(e.filter(col("vec_id") < nProbes), cents)

  /** [[probeLuts]] over an EXPLICIT (vec_id, embedding) probe relation
    * (the `nearest … for` route — probes need not be corpus members). */
  private def probeLutsFor(probesDf: DataFrame,
      cents: Seq[Seq[Seq[Double]]]): DataFrame =
    probesDf
      .withColumn("__cents", typedLit(cents))
      .withColumn("pu", unit)
      .withColumn("lut", expr(
        s"""transform(sequence(0, ${M - 1}), j ->
              transform(element_at(__cents, CAST(j + 1 AS INT)), c ->
                aggregate(zip_with(slice(pu, j * $SUB + 1, $SUB), c,
                  (x, y) -> x * y),
                CAST(0.0 AS DOUBLE), (a, z) -> a + z)))"""))

  /** Exact re-rank of a small (probe_id, neighbor_id) candidate set to
    * top-K by full-precision cosine — norms/dots computed AFTER the
    * joins, so only the candidate rows ever pay full arithmetic (the
    * corpus side contributes a bare (vec_id, embedding) projection to
    * the hash probe). */
  private def exactRerank(candidates: DataFrame, e: DataFrame,
      nProbes: Int = NPROBES, k: Int = K): DataFrame =
    exactRerankFor(candidates, e, e.filter(col("vec_id") < nProbes), k)

  /** [[exactRerank]] with the probe vectors drawn from an explicit
    * probe relation instead of the corpus-prefix convention. */
  private def exactRerankFor(candidates: DataFrame, e: DataFrame,
      probesDf: DataFrame, k: Int): DataFrame = {
    val wExact = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    val withProbeVec = candidates.join(
      broadcast(probesDf
        .select(col("vec_id").as("probe_id"), col("embedding").as("vp"))),
      Seq("probe_id"))
    broadcast(withProbeVec)
      .join(e.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("vn")), Seq("neighbor_id"))
      .withColumn("cos_sim", expr(
        """graft_dot_f(vp, vn) /
           (sqrt(graft_dot_f(vp, vp)) * sqrt(graft_dot_f(vn, vn)))"""))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("cos_sim", round(col("cos_sim"), 6))
      .select("probe_id", "neighbor_id", "cos_sim", "rank")
  }

  private def ann4(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFns.register(s)
    val CAND = 50
    val e = t(s, d, "embeddings")
    val cents = pqCodebook(unitSample(e))
    // corpus encode + candidate scoring are the per-row / per-pair hot
    // paths: both run as native codegen'd expressions (VectorFns
    // PqEncode / PqAdcScore) — the HOF transform/aggregate forms
    // evaluated interpreted closures per element and were SLOWER than
    // the exact dot at 200k vectors (measured; see SURVEY §10)
    // encode BEFORE the spreading repartition: the exchange then moves
    // 8-byte codes, never the 256-byte raw vectors (the plan audit
    // pins this — at 10⁹ vectors that exchange is the difference
    // between shipping 8 GB and 256 GB)
    val corpus = e
      .withColumn("__cents", typedLit(cents))
      .withColumn("codes", expr("graft_pq_encode(embedding, __cents)"))
      .select(col("vec_id").as("neighbor_id"), col("codes"))
      .repartition(s.sparkContext.defaultParallelism)
    val probes = probeLuts(e, cents).select(col("vec_id").as("probe_id"), col("lut"))
    val wApprox = Window.partitionBy(col("probe_id"))
      .orderBy(col("approx_sim").desc, col("neighbor_id").asc)
    val candidates = broadcast(probes)
      .join(corpus, col("probe_id") =!= col("neighbor_id"))
      // project down to 16 bytes + score BEFORE the ranking exchange:
      // the 1 KB LUT / codes columns must never cross the shuffle
      .select(col("probe_id"), col("neighbor_id"),
        expr("graft_pq_adc(lut, codes)").as("approx_sim"))
      .withColumn("crank", row_number().over(wApprox))
      .filter(col("crank") <= CAND)
      .select("probe_id", "neighbor_id")
    exactRerank(candidates, e)
  }

  /** ann5 — IVF + PQ composed (the FAISS IVFADC shape, non-residual
    * variant: one GLOBAL PQ codebook over unit vectors rather than
    * per-list residual codebooks — a documented simplification that
    * keeps encode a single map-only expression): the coarse quantizer
    * is just [[graft.functions.VectorFns.PqEncode]] with an M=1
    * codebook of C full-width centroids (map-only list assignment,
    * argmin L2 ≡ argmax cosine on unit vectors), PQ codes as in ann4,
    * and each probe EQUI-JOINS its NL nearest lists — a broadcast hash
    * join on the list id, so a corpus row is scored only for probes
    * that probed its list (expected NL/C of the pairs the full ADC
    * scan would enumerate; the sublinearity ann4 lacks) — then ADC
    * top-CAND and exact re-rank. Both fan-outs compose: coarse lists
    * bound the scan, codes compress it. Approximate → rows-only gate;
    * recall@K vs ann1 spec-measured. */
  private val IVF_C = 32; private val IVF_NL = 8

  /** Coarse codebook for IVF: SPHERICAL k-means — Lloyd means projected
    * back to the unit sphere each time, so argmin L2 against these
    * centroids is EXACTLY argmax dot for unit query vectors. This keeps
    * the corpus-side list assignment (PqEncode, L2) and the probe-side
    * list ranking (dot) the same metric; with raw (non-unit) Lloyd
    * means they diverge by the ||c||²/2 term and a true neighbor's list
    * can be unreachable regardless of PQ accuracy. */
  private def coarseCodebook(sample: Array[Array[Double]]): Seq[Seq[Seq[Double]]] =
    Seq(lloyd(sample, IVF_C).map { c =>
      val n = math.sqrt(c.map(x => x * x).sum) max 1e-12
      c.map(_ / n)
    })

  /** (neighbor_id, list, codes) — the IVF-PQ index rows: coarse list
    * assignment + PQ codes, both map-only native expressions. The
    * vector is `coalesce`d to a non-null (empty ⇒ sentinel codes)
    * array so the encode output is NON-NULLABLE: otherwise the probe
    * join's inferred `isnotnull(list)` constraint pushes a SECOND
    * full-vector encode below this projection as a Filter — codegen
    * does not eliminate subexpressions across Filter/Project, so the
    * corpus would pay the encode twice per row (caught by the ann7
    * plan audit; same shape applies here). */
  private def ivfPqIndexRows(e: DataFrame, cents: Seq[Seq[Seq[Double]]],
      coarse: Seq[Seq[Seq[Double]]]): DataFrame =
    e.withColumn("__cents", typedLit(cents))
      .withColumn("__coarse", typedLit(coarse))
      // the outer coalesce(-1) makes `list` non-nullable too —
      // element_at cannot prove its index in bounds, and a nullable
      // list re-triggers the constraint this comment block describes;
      // -1 matches no probe list, the exact null-drop semantics
      .withColumn("list", expr(
        "coalesce(element_at(graft_pq_encode(coalesce(embedding, array()), __coarse), 1), -1)"))
      .withColumn("codes", expr("graft_pq_encode(coalesce(embedding, array()), __cents)"))
      .select(col("vec_id").as("neighbor_id"), col("list"), col("codes"))

  /** Probe rows exploded per probed list: (probe_id, lut, list,
    * coarse_dot) — the NL nearest lists by coarse cosine (top by
    * struct sort — deterministic; cid tie-break by the struct order).
    * `coarse_dot` = dot(probe_unit, c_list) is carried so the residual
    * path (ann7) can reconstitute dot(q, c+r) = coarse_dot + adc; the
    * non-residual path ignores it. */
  private def ivfPqProbes(e: DataFrame, cents: Seq[Seq[Seq[Double]]],
      coarse: Seq[Seq[Seq[Double]]], nProbes: Int = NPROBES): DataFrame =
    ivfPqProbesFor(e.filter(col("vec_id") < nProbes), cents, coarse)

  /** [[ivfPqProbes]] over an explicit probe relation. */
  private def ivfPqProbesFor(probesDf: DataFrame,
      cents: Seq[Seq[Seq[Double]]],
      coarse: Seq[Seq[Seq[Double]]]): DataFrame = {
    val coarseSim =
      s"""transform(sequence(0, ${IVF_C - 1}), c ->
            struct(aggregate(zip_with(pu, element_at(element_at(__coarse, 1), CAST(c + 1 AS INT)),
                (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, z) -> a + z) AS s,
              c AS cid))"""
    probeLutsFor(probesDf, cents)
      .withColumn("__coarse", typedLit(coarse))
      .withColumn("pick", explode(expr(
        s"slice(reverse(array_sort($coarseSim)), 1, $IVF_NL)")))
      .select(col("vec_id").as("probe_id"), col("lut"),
        col("pick.cid").as("list"), col("pick.s").as("coarse_dot"))
  }

  /** List-equi-join ADC candidate generation + top-CAND per probe.
    * `approxSim` defaults to the plain ADC lookup sum; the residual
    * path adds the per-(probe, list) coarse term. */
  private def adcCandidates(probes: DataFrame, indexRows: DataFrame,
      cand: Int, approxSim: Column = expr("graft_pq_adc(lut, codes)")): DataFrame = {
    val wApprox = Window.partitionBy(col("probe_id"))
      .orderBy(col("approx_sim").desc, col("neighbor_id").asc)
    broadcast(probes)
      .join(indexRows, Seq("list"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        approxSim.as("approx_sim"))
      .withColumn("crank", row_number().over(wApprox))
      .filter(col("crank") <= cand)
      .select("probe_id", "neighbor_id")
  }

  private def ann5(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFns.register(s)
    val e = t(s, d, "embeddings")
    val sample = unitSample(e)
    val cents = pqCodebook(sample)
    val coarse = coarseCodebook(sample)
    val corpus = ivfPqIndexRows(e, cents, coarse)
      // spread AFTER encode (the exchange moves 12-byte rows, never
      // vectors) — a single-file local corpus would otherwise encode
      // and scan in one task
      .repartition(s.sparkContext.defaultParallelism)
    exactRerank(adcCandidates(ivfPqProbes(e, cents, coarse), corpus, 50), e)
  }

  /** ann6 — ann5's index MATERIALIZED in the table store, partitioned
    * by list (the production IVF-PQ shape: the index is BUILT once —
    * one map-only encode job + one partitioned store commit — and
    * queries touch only their probed lists). The store lays each list
    * out as its own partition directory, the probed-list set (a
    * bounded ≤NPROBES×NL collect, the fp-bucket-set pattern) prunes
    * the read statically, and the scan opens only those directories —
    * files-read < files-on-disk is spec-pinned, the same
    * bucket-pruning contract as the streaming dedup corpus. Query
    * cost is therefore the probed lists' codes + the re-rank, with
    * NO per-query encode of the corpus — what ann5's inline gate
    * cannot show. Results are row-identical to ann5 (same codebooks,
    * same arithmetic; spec-pinned). */
  private[graft] def storedIvfPqTopK(s: SparkSession, d: String,
      store: graft.store.TableStore, table: String,
      nProbes: Int = NPROBES): DataFrame =
    storedIvfPqTopKOn(s, t(s, d, "embeddings"), store, table, nProbes)

  /** [[storedIvfPqTopK]] over an EXPLICIT (vec_id, embedding) relation
    * with a caller-chosen k — the `nearest` language stage's planning
    * target (hq35): the stage hands the body's rows here, so the text
    * route gets the SAME build-once/partition-pruned index discipline
    * as the Scala API. */
  private[graft] def storedIvfPqTopKOn(s: SparkSession, e: DataFrame,
      store: graft.store.TableStore, table: String,
      nProbes: Int = NPROBES, k: Int = K): DataFrame =
    storedIvfPqTopKFor(s, e, e.filter(col("vec_id") < nProbes), store,
      table, k)

  /** [[storedIvfPqTopK]] with an EXPLICIT probe relation: the index
    * is built from `e`, the queries come from `probesDf` (vec_id,
    * embedding — ids need not be corpus members; a corpus row with the
    * same id is still excluded as a self-match, the ann convention).
    * The `nearest … for Probes(...)` language form's planning target.
    *
    * Staleness key = FULL-CORPUS fingerprint (r20 ADVICE, high): the
    * codebook fingerprint alone hashes only the ≤256-row training
    * sample, so a corpus change invisible to the sample (appending
    * higher-id vectors — the grow-only common case) would reuse a
    * stale index and the new vectors could never appear as neighbors.
    * One map-side-aggregated pass (count ⊕ xor of row hashes — both
    * order-independent and content-complete) now keys the index, and
    * the TABLE NAME carries the key, so distinct corpora get distinct
    * tables: alternating two corpora in one session reuses both
    * instead of rebuilding on every call, and a concurrent compile of
    * a different corpus can never read this one's half-committed
    * index. The codebook fingerprint stays in props as a
    * defense-in-depth check (codebooks are a deterministic function
    * of the corpus, so a matching corpus_fp implies a matching
    * codebook_fp). */
  private[graft] def storedIvfPqTopKFor(s: SparkSession, e: DataFrame,
      probesDf: DataFrame, store: graft.store.TableStore, table: String,
      k: Int = K): DataFrame = {
    graft.functions.VectorFns.register(s)
    val sample = unitSample(e)
    val cents = pqCodebook(sample)
    val coarse = coarseCodebook(sample)
    val fp = {
      var h = 1469598103934665603L
      (cents.flatten.flatten ++ coarse.flatten.flatten).foreach { x =>
        h = (h ^ java.lang.Double.doubleToLongBits(x)) * 1099511628211L
      }
      java.lang.Long.toHexString(h)
    }
    val corpusFp = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(vec_id, embedding))")).head
      val x = if (r.isNullAt(1)) 0L else r.getLong(1)
      java.lang.Long.toHexString(r.getLong(0) * 1099511628211L ^ x)
    }
    val tbl = s"${table}_$corpusFp"
    // serialize same-corpus concurrent builds (two compiles racing the
    // exists→create window would both run the full index-build job;
    // content is deterministic per name, so the race is benign for
    // correctness — the lock only dedups the work). Keyed on
    // root#table: per-session stores must not contend across sessions.
    val lock = annBuildLocks.computeIfAbsent(
      store.root + "#" + tbl, _ => new Object)
    lock.synchronized {
      if (!store.exists(tbl) ||
          !store.tableProps(tbl).get("codebook_fp").contains(fp))
        store.createPartitioned(tbl, ivfPqIndexRows(e, cents, coarse),
          Seq("list"), Map("codebook_fp" -> fp, "corpus_fp" -> corpusFp))
    }
    retainRecentIndexes(store, table, tbl)
    // localCheckpoint: the probe plan (scan + LUT + coarse top-NL) is
    // consumed twice — the probed-list collect and the ADC join; it is
    // ≤ |probes|×NL tiny rows, so pin it instead of recomputing
    val probes = ivfPqProbesFor(probesDf, cents, coarse).localCheckpoint()
    // bounded probed-list collect → static partition pruning on the
    // store read (≤ |probes|×NL ints, the fp-bucket-set precedent)
    val probed = probes.select("list").distinct().collect()
      .map(r => Int.box(r.getInt(0))).toSeq
    val idx = store.read(tbl).filter(col("list").isin(probed: _*))
    // the candidate budget must cover the requested k: a language-
    // supplied k above the default 50 would otherwise silently return
    // fewer than k neighbors per probe
    exactRerankFor(adcCandidates(probes, idx, math.max(50, k)), e,
      probesDf, k)
  }

  /** Per-(store root, table) build locks for [[storedIvfPqTopKFor]] —
    * see the staleness-key note there. */
  private val annBuildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Index tables kept per (store root, logical table): two, so two
    * corpora used in turn each keep reusing their own index. */
  private val AnnIndexesKept = 2

  /** Per (store root, logical table), its index tables, most recently
    * used first. */
  private val annIndexUse = scala.collection.mutable.Map.empty[String, List[String]]

  /** Record that index table `used` of logical `table` was just used, and
    * drop every other `<table>_<fp>` table of the store beyond the
    * [[AnnIndexesKept]] most recently used, with its build lock: without
    * this, each new corpus leaves one index table and one lock behind
    * for the life of the store and the JVM. A table no use was recorded
    * for (an earlier process's) counts as least recently used. */
  private def retainRecentIndexes(store: graft.store.TableStore, table: String,
      used: String): Unit = {
    val kept = annIndexUse.synchronized {
      val group = s"${store.root}#$table"
      val order = used :: annIndexUse.getOrElse(group, Nil).filterNot(_ == used)
      annIndexUse(group) = order.take(AnnIndexesKept)
      annIndexUse(group).toSet
    }
    val ofTable = (table + "_[0-9a-f]+").r
    store.tables.filter(t => ofTable.matches(t) && !kept(t)).foreach { t =>
      store.drop(t)
      annBuildLocks.remove(s"${store.root}#$t")
    }
  }

  /** Build-lock keys held, for specs. */
  private[graft] def annBuildLockCount(root: String): Int =
    annBuildLocks.keySet.toArray.count(_.toString.startsWith(root + "#"))

  private def ann6(s: SparkSession, d: String): DataFrame = {
    val store = new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-annidx-").toString)
    storedIvfPqTopK(s, d, store, "ann_index")
  }

  /** hq35 — ann6 FROM PARSED TEXT: the `nearest` collection-query
    * stage plans to [[storedIvfPqTopKOn]] (list-partitioned stored
    * index, statically pruned probed-list scan, exact re-rank), so ANN
    * top-k reached from the language is index-backed by construction.
    * Rows-only like the rest of the ann family (Lloyd codebooks are
    * driver-trained and not replicable in DuckDB); DedupSpec pins the
    * recall floor against brute force and the pruned-partition scan,
    * and PlanAuditSpec pins the absence of an all-pairs cosine. */
  private def hq35(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    graft.heroql.HeroQL.compileCollection(
      "data Embeddings(vec_id: int64, embedding: vecf32).\n",
      """collection_query(probe_id, neighbor_id, cos_sim, rank) :-
           Embeddings(vec_id, embedding)
         nearest(vec_id, embedding) k 5 probes 20
           as (probe_id, neighbor_id, cos_sim, rank)
         ;""",
      Map("Embeddings" -> e))
  }

  /** hq39 — hq35 with an EXPLICIT probe relation: `nearest … for
    * Probes(pid, pvec)` hands the stage a probe set that is a
    * first-class relation (the real query API — a probe need not be a
    * corpus member), planning to [[storedIvfPqTopKFor]]. The gate's
    * probe relation is exactly the ann-family convention set, so its
    * rows are identical to hq35/ann5 (spec-pinned); DedupSpec also
    * pins an out-of-convention probe set through the same form. */
  private def hq39(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("pid"), col("embedding").as("pvec"))
    graft.heroql.HeroQL.compileCollection(
      """data Embeddings(vec_id: int64, embedding: vecf32).
        |data Probes(pid: int64, pvec: vecf32).
        |""".stripMargin,
      """collection_query(probe_id, neighbor_id, cos_sim, rank) :-
           Embeddings(vec_id, embedding)
         nearest(vec_id, embedding) for Probes(pid, pvec) k 5
           as (probe_id, neighbor_id, cos_sim, rank)
         ;""",
      Map("Embeddings" -> e, "Probes" -> probes))
  }

  /** ann9 — INCREMENTAL index maintenance, the production vector-store
    * ingest shape: codebooks train ONCE on the base corpus and stay
    * fixed (retraining would invalidate every stored code — the
    * invariant real systems enforce between rebuilds), the base index
    * commits partitioned by coarse list, and each arriving batch
    * encodes with the SAME codebooks and APPENDS through the store's
    * atomic partitioned insert — no rewrite of existing index bytes,
    * cost ∝ batch, and list-level partition pruning keeps working on
    * the grown index (pruning survives because the insert path writes
    * each batch re-clustered by the partition column). Queries after
    * two incremental batches see the FULL corpus. Rows-only (Lloyd
    * codebooks aren't replicable in DuckDB); IndexMaintenanceSpec pins
    * recall vs brute force, append-only manifest growth, and fresh-row
    * reachability. */
  private[graft] def incrementalIndexTopK(s: SparkSession, d: String,
      store: graft.store.TableStore, table: String): DataFrame = {
    graft.functions.VectorFns.register(s)
    val e = t(s, d, "embeddings")
    val base = e.filter(col("vec_id") % 5 =!= 0)
    val sample = unitSample(base)
    val cents = pqCodebook(sample)
    val coarse = coarseCodebook(sample)
    store.createPartitioned(table, ivfPqIndexRows(base, cents, coarse),
      Seq("list"), Map.empty)
    // two arrival batches (vec_id ≡ 5, 0 mod 10), fixed codebooks
    Seq(1L, 0L).foreach { par =>
      val batch = e.filter(col("vec_id") % 5 === 0 &&
        pmod(col("vec_id") / 5, lit(2)) === par)
      store.insert(table, ivfPqIndexRows(batch, cents, coarse))
    }
    val probes = ivfPqProbes(e, cents, coarse, NPROBES).localCheckpoint()
    val probed = probes.select("list").distinct().collect()
      .map(r => Int.box(r.getInt(0))).toSeq
    val idx = store.read(table).filter(col("list").isin(probed: _*))
    exactRerank(adcCandidates(probes, idx, 50), e, NPROBES)
  }

  private def ann9(s: SparkSession, d: String): DataFrame =
    incrementalIndexTopK(s, d, new graft.store.TableStore(s,
      java.nio.file.Files.createTempDirectory("graft-annincr-").toString),
      "ann_index")

  /** Driver-side residual sample for the residual codebook: each unit
    * sample vector minus its nearest coarse centroid — the distribution
    * the PQ codebook must quantize under residual encoding (same argmin
    * L2 + first-min tie-break as the corpus-side [[graft.functions
    * .VectorFns.ivfPqEncode]], so training and encoding see the same
    * assignment). */
  private def residualSample(sample: Array[Array[Double]],
      coarse: Seq[Seq[Seq[Double]]]): Array[Array[Double]] = {
    val cents = coarse.head.map(_.toArray).toArray
    sample.map { v =>
      // the ONE argmin-L2 definition (VectorFns.nearestIdx) — training
      // must see the identical assignment the executor-side encode makes
      val best = graft.functions.VectorFns.nearestIdx(v, cents)
      require(best >= 0, "coarse codebook dims disagree with the sample")
      val r = new Array[Double](v.length)
      var i = 0
      while (i < v.length) { r(i) = v(i) - cents(best)(i); i += 1 }
      r
    }
  }

  /** ann7 — RESIDUAL IVF-PQ (the full FAISS IVFADC, closing ann5's
    * documented non-residual simplification): the PQ codebook is
    * trained on COARSE RESIDUALS (x_unit − c_list) — a distribution
    * with far less variance than the raw unit vectors, so the same 8×16
    * code budget quantizes much finer — and the corpus encodes with the
    * fused [[graft.functions.VectorFns.IvfPqEncodeExpr]] (one codegen'd
    * pass per row: list assignment + residual subtraction + residual
    * codes; the raw vector is read exactly once). The probe side needs
    * NO per-list LUTs even though encoding is per-list relative: on the
    * dot/cosine metric the score decomposes linearly —
    * dot(q, c + r) = dot(q, c_list) + dot(q, r) — so one GLOBAL LUT
    * over the residual codebook plus the per-(probe, list) coarse dot
    * (already computed for list ranking) reconstitutes the full
    * asymmetric score. (L2-metric IVFADC would need per-list tables;
    * the linear decomposition is what cosine buys.) Same plan shape as
    * ann5 — broadcast list-equi-join, codes-only exchange — with
    * strictly better quantization; recall@K vs ann1 spec-measured
    * against ann5's on the same fixture. */
  private def ann7(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFns.register(s)
    val e = t(s, d, "embeddings")
    val sample = unitSample(e)
    val coarse = coarseCodebook(sample)
    val residCb = pqCodebook(residualSample(sample, coarse))
    // coalesce: non-null vector input ⇒ NON-NULLABLE enc ⇒ the probe
    // join's isnotnull(list) constraint never materializes, so the
    // corpus pays exactly ONE encode pass (the plan audit pins this;
    // a nullable enc pushed a second full-vector encode below this
    // projection as a Filter)
    val corpus = e
      .withColumn("__coarse", typedLit(coarse))
      .withColumn("__cents", typedLit(residCb))
      .withColumn("enc", expr(
        "graft_ivfpq_encode(coalesce(embedding, array()), __coarse, __cents)"))
      .select(col("vec_id").as("neighbor_id"),
        col("enc.list").as("list"), col("enc.codes").as("codes"))
      .repartition(s.sparkContext.defaultParallelism)
    val probes = ivfPqProbes(e, residCb, coarse)
    val cands = adcCandidates(probes, corpus, 50,
      approxSim = col("coarse_dot") + expr("graft_pq_adc(lut, codes)"))
    exactRerank(cands, e)
  }

  /** emb1 — int8 scalar quantization of the embedding column: per-vector
    * symmetric scale (max-abs / 127), nearest-integer codes clamped to
    * [-127, 127], with per-vector reconstruction RMS and a fold checksum
    * over the codes. The 4× (float32→int8) compression is what makes a
    * 10⁹-vector corpus fit executor memory for ANN — this is the storage
    * leg of the ann2/ann3 scale path. Map-only: one narrow pass, no
    * shuffle, codes never materialize as arrays in the output (the
    * checksum pins them).
    *
    * Determinism note: every step is IEEE double arithmetic with a
    * left-to-right fold — no cross-row float reduction — so Spark and
    * DuckDB produce bit-identical doubles and the 6-decimal rounding
    * cannot straddle engines. Nearest-integer is floor(x + 0.5) (exact),
    * not round() (whose half-way rule differs across engines). */
  private def emb1(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .withColumn("xd", expr("transform(embedding, v -> CAST(v AS DOUBLE))"))
      .withColumn("mx", expr(
        "aggregate(xd, CAST(0.0 AS DOUBLE), (a, v) -> greatest(a, abs(v)))"))
      // zero-vector guard: scale floors at 1e-12 so q = 0 instead of NaN
      .withColumn("scale", expr("greatest(mx, CAST(1e-12 AS DOUBLE)) / 127.0"))
      .withColumn("q", expr(
        """transform(xd, v -> CAST(greatest(-127.0, least(127.0,
           floor(v / scale + 0.5))) AS BIGINT))"""))
      .withColumn("err2", expr(
        """aggregate(zip_with(xd, q, (v, c) -> (v - c * scale) * (v - c * scale)),
           CAST(0.0 AS DOUBLE), (a, v) -> a + v)"""))
      .select(col("vec_id"),
        size(col("q")).cast("long").as("n_dims"),
        round(col("scale"), 6).as("scale_r"),
        round(sqrt(col("err2") / size(col("q"))), 6).as("rms_err"),
        expr("aggregate(q, CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + (c + 128)) % 1000000007)")
          .as("code_checksum"))

  /** emb2 — per-dimension corpus statistics of the embedding column (the
    * feature-scaling / whitening-prep pass: means for centering, extrema
    * for clipping, second moments for per-dimension variance — what a
    * normalization layer or a PQ codebook trainer reads first). One
    * `posexplode` then a single partial-aggregated exchange keyed by the
    * 64 dimension ids — at 100 TB this is a map-side-combined tree
    * reduce to a 64-row result; nothing broadcasts, nothing sorts.
    *
    * Determinism: each element fixes to integer micros BEFORE any
    * cross-row sum (floor(x·1e6), floor(x²·1e6)) — integer sums are
    * accumulation-order-free, so the 32-way partial aggregation cannot
    * move the driver hash. (At true corpus scale the BIGINT sums would
    * widen to DECIMAL(38,0); at every test SF they are ≤2^45.) The
    * float→double widening is exact in both engines. */
  private def emb2(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        expr("CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").as("m"),
        expr("CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000) AS BIGINT)").as("m2"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum("m").as("sum_micro"),
        min("m").as("min_micro"),
        max("m").as("max_micro"),
        sum("m2").as("sumsq_micro"))
      .withColumn("mean_micro", expr("sum_micro div n"))
      .select("dim", "n", "sum_micro", "min_micro", "max_micro",
        "sumsq_micro", "mean_micro")

  /** ann8 — HYBRID retrieval by reciprocal-rank fusion (Cormack et al.
    * 2009, the production RAG stack's dense+sparse combiner): every
    * document carries a SPARSE rank (BM25 against tx10's query
    * workload, [[TextAnalysis.bm25Scored]]) and a DENSE rank (cosine to
    * the query's ANCHOR embedding — the min doc_id containing all the
    * query's terms; vec k ↔ doc k is the fixture correspondence), and
    * RRF = 1/(60+r_sparse) + 1/(60+r_dense) picks the top-10.
    * Determinism end to end: both input ranks order by integer/
    * proven-bit-equal keys with doc_id tie-breaks, the RRF terms are
    * divisions of int-derived doubles in fixed order, and the final
    * ordering ties break on doc_id — so the emitted fusion is exactly
    * replicable in SQL. Scale shape: sparse side is tx10's map-only
    * scoring; dense side broadcasts #queries anchor vectors over one
    * corpus pass; fusion joins two (query, doc)-keyed rankings — one
    * co-keyed exchange; top-k prunes via the window group limit. */
  private def ann8(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFns.register(s)
    val docs = graft.Tables.t(s, d, "documents")
      .withColumn("toks", expr("split(trim(text), '\\\\s+')"))
    // one anchor per query: min doc containing ALL query terms (a
    // #queries-row collect)
    val anchors = TextAnalysis.bm25Queries.map { case (qid, terms) =>
      val cond = terms.map(tm => s"array_contains(toks, '$tm')").mkString(" AND ")
      // cast before the collect: an int32-regenerated doc_id must not
      // ClassCastException the anchor pick (the drift-spec lesson)
      val row = docs.filter(expr(cond))
        .agg(min(col("doc_id")).cast("long")).head
      if (row.isNullAt(0)) throw new IllegalStateException(
        s"ann8: no document contains all terms of query '$qid' " +
          s"(${terms.mkString(", ")}) — corpus fixture premise violated")
      (qid, row.getLong(0))
    }
    val e = t(s, d, "embeddings")
    import s.implicits._
    val anchorDf = anchors.toDF("query_id", "anchor_id")
    val anchorVecs = broadcast(anchorDf.join(e,
      anchorDf("anchor_id") === e("vec_id"))
      .select(col("query_id"), col("embedding").as("va"),
        expr("sqrt(graft_dot_f(embedding, embedding))").as("na")))
    val dense = anchorVecs.crossJoin(
      e.select(col("vec_id").as("doc_id"), col("embedding").as("vn"),
        expr("sqrt(graft_dot_f(embedding, embedding))").as("nn")))
      .withColumn("cos_sim", expr("graft_dot_f(va, vn) / (na * nn)"))
      .withColumn("r_dense", expr(
        """CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, doc_id ASC) AS BIGINT)"""))
      .select("query_id", "doc_id", "r_dense")
    val sparse = TextAnalysis.bm25Scored(s, d)
      .withColumn("r_sparse", expr(
        """CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY score_micro DESC, doc_id ASC) AS BIGINT)"""))
      .select("query_id", "doc_id", "r_sparse")
    sparse.join(dense, Seq("query_id", "doc_id"))
      .withColumn("rrf_nano", expr(
        "CAST(floor((1.0 / (60 + r_sparse) + 1.0 / (60 + r_dense)) * 1000000000) AS BIGINT)"))
      .withColumn("rank", expr(
        """CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY rrf_nano DESC, doc_id ASC) AS BIGINT)"""))
      .filter(col("rank") <= 10)
      .select("query_id", "rank", "doc_id", "r_sparse", "r_dense", "rrf_nano")
  }

  /** km1 iteration count / cluster count. Two full Lloyd rounds
    * (assign → recompute → assign) are enough to prove the update
    * rule; production runs just loop the same two stages. */
  private val KmK = 8

  /** km1 — deterministic Lloyd k-means over the embedding corpus, with
    * a FULL DuckDB oracle (dd9's Lloyd codebook stayed rows-only; this
    * pins the identical algorithm end-to-end): centroids seed from the
    * first K vectors, one recompute round, final assignment emitted
    * with its squared distance. Every cross-engine float hazard is
    * closed the house way — squared distances are LEFT FOLDS in
    * element order (Spark `aggregate`, DuckDB `list_reduce`, both
    * strict left-to-right, bit-identical on identical inputs), argmin
    * is min-of-(dist, cid) structs (ties to the smaller centroid id),
    * and centroid means fix-point each element to micro BIGINTs before
    * the cross-row sum, so accumulation order cannot move a bit.
    *
    * Scale shape: assignment is a broadcast of K centroid rows against
    * the corpus (map-only per row, no exchange); the recompute is one
    * partial-aggregated exchange keyed (cluster, dim) — K×64 rows out.
    * This is exactly how Spark MLlib's k-means iterates, minus its
    * RDD/runtime-random seeding; rounds add exchanges linearly. */
  private def km1(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    val distSql =
      """aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)),
         CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)"""
    def assign(cents: DataFrame): DataFrame =
      e.crossJoin(broadcast(cents))
        .withColumn("d2", expr(distSql))
        .groupBy("vec_id")
        .agg(min(struct(col("d2"), col("cid"))).as("m"),
          first(col("v")).as("v"))
        .select(col("vec_id"), col("m.cid").as("cluster"),
          col("m.d2").as("d2"), col("v"))
    val c1 = e.filter(col("vec_id") < KmK)
      .select(col("vec_id").as("cid"), col("v").as("c"))
    val a1 = assign(c1)
    val c2 = a1
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cluster", "pos")
      .agg(sum(expr("CAST(floor(x * 1000000.0) AS BIGINT)")).as("sm"),
        count(lit(1)).as("n"))
      .withColumn("cx", expr("(CAST(sm AS DOUBLE) / 1000000.0) / n"))
      .groupBy(col("cluster").as("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)")
        .as("c"))
    assign(c2).select(col("vec_id"), col("cluster"), round(col("d2"), 6).as("d2"))
  }

  /** Chunking for ann10: the 64-dim embedding viewed as 4 "token"
    * sub-vectors of 16 dims — the late-interaction data model with the
    * fixture's single-vector table. */
  private val MsChunks = 4
  private val MsDim = 16
  private val MsCands = 25 // candidates per probe entering the rerank

  /** ann10 — late-interaction MaxSim rerank (the ColBERT scoring model,
    * Khattab & Zaharia SIGIR'20): stage 1 generates candidates by
    * whole-vector cosine (the ann1 shape here; in production the stored
    * IVF index, ann6, feeds this stage), stage 2 re-scores each
    * (probe, candidate) pair with MaxSim over token-level vectors —
    * score = Σ_i max_j cos(p_i, c_j). The rerank is ONE within-row
    * expression over the two arrays (16 chunk dots + 8 norms, fixed
    * left-to-right folds → bit-identical across engines; the sum and
    * `greatest` orders are literal): no row explosion, cost ∝
    * candidates — so at 100 TB the expensive part stays the
    * index-bounded candidate gen, and the rerank rides along map-side. */
  private def ann10(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFns.register(s)
    val e = t(s, d, "embeddings")
    val probes = e.filter(col("vec_id") < NPROBES)
      .select(col("vec_id").as("probe_id"), col("embedding").as("vp"),
        expr("sqrt(graft_dot_f(embedding, embedding))").as("np"))
    val corpus = e.repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("vn"),
        expr("sqrt(graft_dot_f(embedding, embedding))").as("nn"))
    val wCos = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    val cands = broadcast(probes)
      .join(corpus, col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", expr("graft_dot_f(vp, vn) / (np * nn)"))
      .withColumn("crank", row_number().over(wCos))
      .filter(col("crank") <= MsCands)
    def chunk(v: String, i: Int) = s"slice($v, ${MsDim * i + 1}, $MsDim)"
    def chunkCos(i: Int, j: Int) =
      s"graft_dot_f(${chunk("vp", i)}, ${chunk("vn", j)}) / " +
        s"(sqrt(graft_dot_f(${chunk("vp", i)}, ${chunk("vp", i)})) * " +
        s"sqrt(graft_dot_f(${chunk("vn", j)}, ${chunk("vn", j)})))"
    val maxsim = (0 until MsChunks).map { i =>
      s"greatest(${(0 until MsChunks).map(j => chunkCos(i, j)).mkString(", ")})"
    }.mkString(" + ")
    val wMs = Window.partitionBy(col("probe_id"))
      .orderBy(col("maxsim").desc, col("neighbor_id").asc)
    cands.withColumn("maxsim", expr(maxsim))
      .withColumn("rank", row_number().over(wMs).cast("long"))
      .filter(col("rank") <= K)
      .select(col("probe_id"), col("neighbor_id"),
        round(col("maxsim"), 6).as("maxsim"), col("rank"))
  }

  /** ann11 — FILTERED vector search (the metadata-predicate + ANN
    * combination every vector store ships: "nearest neighbors WHERE
    * label = X"): each probe retrieves its top-k among ONLY the
    * corpus vectors sharing its label. The filter composes as an extra
    * equi-condition on the candidate join — at scale it pushes into
    * the index scan (ann6's list-pruned store layout would partition
    * by (label, list)), so the distance work is proportional to the
    * FILTERED corpus, never the full one. Same proven exact-cosine
    * arithmetic as ann1. */
  private def ann11(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFns.register(s)
    val e = t(s, d, "embeddings")
    val probes = e.filter(col("vec_id") < NPROBES)
      .select(col("vec_id").as("probe_id"), col("label").as("pl"),
        col("embedding").as("vp"),
        expr("sqrt(graft_dot_f(embedding, embedding))").as("np"))
    val corpus = e.repartition(s.sparkContext.defaultParallelism)
      .select(col("vec_id").as("neighbor_id"), col("label").as("nl"),
        col("embedding").as("vn"),
        expr("sqrt(graft_dot_f(embedding, embedding))").as("nn"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    broadcast(probes).join(corpus,
        col("pl") === col("nl") && col("probe_id") =!= col("neighbor_id"))
      .withColumn("cos_sim", expr("graft_dot_f(vp, vn) / (np * nn)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("probe_id"), col("pl").as("label"), col("neighbor_id"),
        round(col("cos_sim"), 6).as("cos_sim"), col("rank"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann11_filtered_ann" -> (ann11 _),
    "ann10_maxsim_rerank" -> (ann10 _),
    "km1_kmeans_assign" -> (km1 _),
    "ann8_hybrid_rrf" -> (ann8 _),
    "ann9_incremental_index" -> (ann9 _),
    "ann1_bruteforce_topk" -> (ann1 _),
    "ann2_lsh_topk" -> (ann2 _),
    "ann3_ivf_topk" -> (ann3 _),
    "ann4_pq_adc_topk" -> (ann4 _),
    "ann5_ivfpq_topk" -> (ann5 _),
    "ann6_stored_index_topk" -> (ann6 _),
    "hq35_nearest_hql" -> (hq35 _),
    "hq39_nearest_for_hql" -> (hq39 _),
    "ann7_ivfpq_residual_topk" -> (ann7 _),
    "emb1_quantization" -> (emb1 _),
    "emb2_dimension_stats" -> (emb2 _),
  )

  /** ann2's DuckDB oracle — possible because the LSH is fully
    * deterministic: the hyperplanes are LITERALS (seeded Gaussian,
    * embedded below with the same shortest-repr doubles the Spark
    * expression parses — both engines' parsers round-trip them to the
    * identical IEEE values), the bucket is sign-bit arithmetic, and the
    * re-rank is the ann1-precedent double cosine. list_dot_product on
    * DOUBLE[] ≡ graft_dot_f (left-to-right double folds, proven
    * bit-identical by the ann1 gate since r9). */
  private def ann2OracleSql: String = {
    val ps = planes(6, 64)
    val bucketSql = ps.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product(xd, [${p.mkString(", ")}]) > 0.0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("\n             + ")
    s"""WITH b AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xd,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm,
           $bucketSql AS bucket
         FROM embeddings),
       probes AS (
         SELECT vec_id AS probe_id, xd AS vp, nrm AS np, bucket AS pbucket
         FROM b WHERE vec_id < $NPROBES),
       pb AS (
         SELECT probe_id, vp, np, u.bucket FROM probes,
           UNNEST([xor(pbucket, 1), xor(pbucket, 2), xor(pbucket, 4),
                   xor(pbucket, 8), xor(pbucket, 16), xor(pbucket, 32),
                   pbucket]) AS u(bucket)),
       cand AS (
         SELECT probe_id, b.vec_id AS neighbor_id,
           list_dot_product(vp, b.xd) / (np * b.nrm) AS cos_sim
         FROM pb JOIN b ON pb.bucket = b.bucket
         WHERE probe_id != b.vec_id)
       SELECT probe_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rank FROM (
         SELECT probe_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY probe_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
         FROM cand)
       WHERE rank <= $K"""
  }

  /** ann3's DuckDB oracle — the Forgy "centroids" are ACTUAL corpus
    * rows picked by a residue class (no Lloyd iterations), so the whole
    * IVF pipeline — centroid pick, argmax-cosine list assignment with
    * (sim DESC, cid ASC) tie-break, 8-list probe, exact re-rank — is
    * plain SQL over the same double arithmetic. */
  private def ann3OracleSql: String =
    s"""WITH e AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xd,
           sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
         FROM embeddings),
       cents AS (
         SELECT vec_id AS cid, xd AS cv, nrm AS cn FROM e
         WHERE vec_id >= $NPROBES AND vec_id % 13 = 5
         ORDER BY vec_id LIMIT 32),
       corpus_assign AS (
         SELECT neighbor_id, vn, nn, cid FROM (
           SELECT e.vec_id AS neighbor_id, e.xd AS vn, e.nrm AS nn, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.xd, c.cv) / (e.nrm * c.cn) DESC, c.cid ASC) AS cr
           FROM e CROSS JOIN cents c)
         WHERE cr = 1),
       probe_lists AS (
         SELECT probe_id, vp, np, cid FROM (
           SELECT e.vec_id AS probe_id, e.xd AS vp, e.nrm AS np, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_dot_product(e.xd, c.cv) / (e.nrm * c.cn) DESC, c.cid ASC) AS cr
           FROM e CROSS JOIN cents c WHERE e.vec_id < $NPROBES)
         WHERE cr <= 8),
       cand AS (
         SELECT probe_id, neighbor_id,
           list_dot_product(vp, vn) / (np * nn) AS cos_sim
         FROM probe_lists p JOIN corpus_assign a USING (cid)
         WHERE probe_id != neighbor_id)
       SELECT probe_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rank FROM (
         SELECT probe_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY probe_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
         FROM cand)
       WHERE rank <= $K"""

  override val oracles: Map[String, String] = Map(
    "ann11_filtered_ann" ->
      s"""SELECT probe_id, label, neighbor_id,
                 round(cos_sim, 6) AS cos_sim, rank FROM (
           SELECT probe_id, label, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
           FROM (
             SELECT p.vec_id AS probe_id, p.label AS label,
               n.vec_id AS neighbor_id,
               list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                CAST(n.embedding AS DOUBLE[])) /
                 (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]),
                                        CAST(p.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(CAST(n.embedding AS DOUBLE[]),
                                        CAST(n.embedding AS DOUBLE[]))))
                 AS cos_sim
             FROM embeddings p JOIN embeddings n
               ON p.label = n.label AND p.vec_id != n.vec_id
             WHERE p.vec_id < $NPROBES))
         WHERE rank <= $K""",
    // same candidate stage as ann1's proven oracle; the MaxSim rerank
    // mirrors the Spark expression term-for-term — DuckDB 1-based
    // inclusive slices vp[a:b] ≡ Spark slice(vp, a, len), and the sum /
    // greatest orders are the same literals, so the doubles match
    // bit-for-bit before the 6-decimal rounding
    "ann10_maxsim_rerank" -> {
      def chunk(v: String, i: Int) =
        s"$v[${MsDim * i + 1}:${MsDim * (i + 1)}]"
      def chunkCos(i: Int, j: Int) =
        s"list_dot_product(${chunk("vp", i)}, ${chunk("vn", j)}) / " +
          s"(sqrt(list_dot_product(${chunk("vp", i)}, ${chunk("vp", i)})) * " +
          s"sqrt(list_dot_product(${chunk("vn", j)}, ${chunk("vn", j)})))"
      val maxsim = (0 until MsChunks).map { i =>
        s"greatest(${(0 until MsChunks).map(j => chunkCos(i, j)).mkString(", ")})"
      }.mkString(" + ")
      s"""WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) AS nrm
           FROM embeddings),
         cand AS (
           SELECT probe_id, neighbor_id, vp, vn,
                  row_number() OVER (PARTITION BY probe_id
                    ORDER BY cos_sim DESC, neighbor_id ASC) AS crank
           FROM (
             SELECT p.vec_id AS probe_id, n.vec_id AS neighbor_id,
                    p.v AS vp, n.v AS vn,
                    list_dot_product(p.v, n.v) / (p.nrm * n.nrm) AS cos_sim
             FROM e p JOIN e n ON p.vec_id != n.vec_id
             WHERE p.vec_id < $NPROBES)),
         scored AS (
           SELECT probe_id, neighbor_id, $maxsim AS maxsim
           FROM cand WHERE crank <= $MsCands)
         SELECT probe_id, neighbor_id, round(maxsim, 6) AS maxsim, rank
         FROM (
           SELECT probe_id, neighbor_id, maxsim,
                  row_number() OVER (PARTITION BY probe_id
                    ORDER BY maxsim DESC, neighbor_id ASC) AS rank
           FROM scored)
         WHERE rank <= $K"""
    },
    // the same two assignment passes, distances as list_reduce left
    // folds over a 0.0-prepended term list (≡ Spark aggregate's seeded
    // left fold), centroid means from micro-fixed BIGINT sums
    "km1_kmeans_assign" ->
      s"""WITH e AS (
           SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
           FROM embeddings),
         c1 AS (SELECT vec_id AS cid, v AS c FROM e WHERE vec_id < $KmK),
         d1 AS (
           SELECT e.vec_id, e.v, c1.cid,
             list_reduce(list_prepend(0.0,
               [(e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i])
                for i in range(1, len(e.v) + 1)]),
               (acc, z) -> acc + z) AS d2
           FROM e, c1),
         a1 AS (
           SELECT vec_id, v, min({'d2': d2, 'cid': cid}) AS m
           FROM d1 GROUP BY vec_id, v),
         x1 AS (
           SELECT m.cid AS cluster, v,
             unnest(range(1, len(v) + 1)) AS pos
           FROM a1),
         s1 AS (
           SELECT cluster, pos,
             sum(CAST(floor(v[pos] * 1000000.0) AS BIGINT)) AS sm,
             count(*) AS n
           FROM x1 GROUP BY 1, 2),
         c2 AS (
           SELECT cluster AS cid,
             list_transform(
               list_sort(list({'pos': pos,
                 'cx': (CAST(sm AS DOUBLE) / 1000000.0) / n})),
               s -> s.cx) AS c
           FROM s1 GROUP BY cluster),
         d2s AS (
           SELECT e.vec_id, c2.cid,
             list_reduce(list_prepend(0.0,
               [(e.v[i] - c2.c[i]) * (e.v[i] - c2.c[i])
                for i in range(1, len(e.v) + 1)]),
               (acc, z) -> acc + z) AS d2
           FROM e, c2),
         a2 AS (
           SELECT vec_id, min({'d2': d2, 'cid': cid}) AS m
           FROM d2s GROUP BY vec_id)
         SELECT vec_id, m.cid AS cluster, round(m.d2, 6) AS d2 FROM a2""",
    "ann2_lsh_topk" -> ann2OracleSql,
    "ann3_ivf_topk" -> ann3OracleSql,
    // explicit double-precision cosine (list_cosine_similarity on FLOAT[]
    // accumulates in float — ~1e-6 relative error vs our double loop),
    // same dot/(sqrt·sqrt) formula as the Spark side, rounded identically
    "ann8_hybrid_rrf" ->
      """WITH d AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
                  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS dl
           FROM documents),
         s AS (
           SELECT CAST(count(*) AS BIGINT) AS N, CAST(sum(dl) AS BIGINT) AS sumdl,
             CAST(sum(CASE WHEN list_contains(toks, 'table') THEN 1 ELSE 0 END) AS BIGINT) AS df_table,
             CAST(sum(CASE WHEN list_contains(toks, 'scan') THEN 1 ELSE 0 END) AS BIGINT) AS df_scan,
             CAST(sum(CASE WHEN list_contains(toks, 'hash') THEN 1 ELSE 0 END) AS BIGINT) AS df_hash,
             CAST(sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS BIGINT) AS df_join,
             CAST(sum(CASE WHEN list_contains(toks, 'dup') THEN 1 ELSE 0 END) AS BIGINT) AS df_dup,
             CAST(sum(CASE WHEN list_contains(toks, 'line') THEN 1 ELSE 0 END) AS BIGINT) AS df_line
           FROM d),
         i AS (
           SELECT *,
             floor(ln(1 + (N - df_table + 0.5) / (df_table + 0.5)) * 1000000) / 1000000.0 AS idf_table,
             floor(ln(1 + (N - df_scan + 0.5) / (df_scan + 0.5)) * 1000000) / 1000000.0 AS idf_scan,
             floor(ln(1 + (N - df_hash + 0.5) / (df_hash + 0.5)) * 1000000) / 1000000.0 AS idf_hash,
             floor(ln(1 + (N - df_join + 0.5) / (df_join + 0.5)) * 1000000) / 1000000.0 AS idf_join,
             floor(ln(1 + (N - df_dup + 0.5) / (df_dup + 0.5)) * 1000000) / 1000000.0 AS idf_dup,
             floor(ln(1 + (N - df_line + 0.5) / (df_line + 0.5)) * 1000000) / 1000000.0 AS idf_line
           FROM s),
         tf AS (
           SELECT doc_id, dl,
             CAST(len(list_filter(toks, x -> x = 'table')) AS BIGINT) AS tf_table,
             CAST(len(list_filter(toks, x -> x = 'scan')) AS BIGINT) AS tf_scan,
             CAST(len(list_filter(toks, x -> x = 'hash')) AS BIGINT) AS tf_hash,
             CAST(len(list_filter(toks, x -> x = 'join')) AS BIGINT) AS tf_join,
             CAST(len(list_filter(toks, x -> x = 'dup')) AS BIGINT) AS tf_dup,
             CAST(len(list_filter(toks, x -> x = 'line')) AS BIGINT) AS tf_line
           FROM d),
         sc AS (
           SELECT doc_id,
             CAST(floor(((idf_table * ((tf_table * 2.2) / (tf_table + 1.2 * (0.25 +
                    0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / N))))))
               + (idf_scan * ((tf_scan * 2.2) / (tf_scan + 1.2 * (0.25 +
                    0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / N))))))) * 1000000) AS BIGINT) AS s_q1,
             CAST(floor(((idf_hash * ((tf_hash * 2.2) / (tf_hash + 1.2 * (0.25 +
                    0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / N))))))
               + (idf_join * ((tf_join * 2.2) / (tf_join + 1.2 * (0.25 +
                    0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / N))))))) * 1000000) AS BIGINT) AS s_q2,
             CAST(floor(((idf_dup * ((tf_dup * 2.2) / (tf_dup + 1.2 * (0.25 +
                    0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / N))))))
               + (idf_line * ((tf_line * 2.2) / (tf_line + 1.2 * (0.25 +
                    0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / N))))))) * 1000000) AS BIGINT) AS s_q3
           FROM tf CROSS JOIN i),
         stacked AS (
           SELECT doc_id, 'q1' AS query_id, s_q1 AS score_micro FROM sc
           UNION ALL SELECT doc_id, 'q2', s_q2 FROM sc
           UNION ALL SELECT doc_id, 'q3', s_q3 FROM sc),
         sr AS (
           SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY score_micro DESC, doc_id ASC) AS BIGINT) AS r_sparse
           FROM stacked),
         a AS (
           SELECT 'q1' AS query_id, min(doc_id) AS anchor_id FROM d
           WHERE list_contains(toks, 'table') AND list_contains(toks, 'scan')
           UNION ALL
           SELECT 'q2', min(doc_id) FROM d
           WHERE list_contains(toks, 'hash') AND list_contains(toks, 'join')
           UNION ALL
           SELECT 'q3', min(doc_id) FROM d
           WHERE list_contains(toks, 'dup') AND list_contains(toks, 'line')),
         av AS (
           SELECT a.query_id, CAST(e.embedding AS DOUBLE[]) AS va,
             sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                   CAST(e.embedding AS DOUBLE[]))) AS na
           FROM a JOIN embeddings e ON e.vec_id = a.anchor_id),
         dense AS (
           SELECT av.query_id, n.vec_id AS doc_id,
             list_dot_product(av.va, CAST(n.embedding AS DOUBLE[])) /
               (av.na * sqrt(list_dot_product(CAST(n.embedding AS DOUBLE[]),
                                              CAST(n.embedding AS DOUBLE[])))) AS cos_sim
           FROM av CROSS JOIN embeddings n),
         dr AS (
           SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos_sim DESC, doc_id ASC) AS BIGINT) AS r_dense
           FROM dense),
         f AS (
           SELECT sr.query_id, sr.doc_id, sr.r_sparse, dr.r_dense,
             CAST(floor((1.0 / (60 + sr.r_sparse) + 1.0 / (60 + dr.r_dense))
               * 1000000000) AS BIGINT) AS rrf_nano
           FROM sr JOIN dr ON sr.query_id = dr.query_id AND sr.doc_id = dr.doc_id)
         SELECT query_id, rank, doc_id, r_sparse, r_dense, rrf_nano FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY rrf_nano DESC, doc_id ASC) AS BIGINT) AS rank FROM f)
         WHERE rank <= 10""",
    "ann1_bruteforce_topk" ->
      s"""SELECT probe_id, neighbor_id, round(cos_sim, 6) AS cos_sim, rank FROM (
           SELECT probe_id, neighbor_id, cos_sim,
             row_number() OVER (PARTITION BY probe_id
               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
           FROM (
             SELECT p.vec_id AS probe_id, n.vec_id AS neighbor_id,
               list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) /
                 (sqrt(list_dot_product(CAST(p.embedding AS DOUBLE[]), CAST(p.embedding AS DOUBLE[]))) *
                  sqrt(list_dot_product(CAST(n.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])))) AS cos_sim
             FROM embeddings p JOIN embeddings n ON p.vec_id != n.vec_id
             WHERE p.vec_id < $NPROBES))
         WHERE rank <= $K""",
    // same fold orders as the Spark side: list ops evaluate left-to-right,
    // so the doubles are bit-identical before the 6-decimal rounding
    "emb1_quantization" ->
      """WITH q AS (
           SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS xd,
             greatest(list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
                 list_transform(CAST(embedding AS DOUBLE[]), v -> abs(v))),
               (a, v) -> greatest(a, v)), 1e-12) / 127.0 AS scale
           FROM embeddings),
         c AS (
           SELECT vec_id, xd, scale,
             list_transform(xd, v -> CAST(greatest(-127.0, least(127.0,
               floor(v / scale + 0.5))) AS BIGINT)) AS codes
           FROM q)
         SELECT vec_id,
           CAST(len(codes) AS BIGINT) AS n_dims,
           round(scale, 6) AS scale_r,
           round(sqrt(list_reduce(list_concat([CAST(0.0 AS DOUBLE)],
               list_transform(list_zip(xd, codes),
                 z -> (z[1] - z[2] * scale) * (z[1] - z[2] * scale))),
             (a, v) -> a + v) / len(codes)), 6) AS rms_err,
           list_reduce(list_concat([CAST(0 AS BIGINT)], codes),
             (acc, c) -> (acc * 31 + (c + 128)) % 1000000007) AS code_checksum
         FROM c""",
    // per-element micro fix-point BEFORE the sums (order-free integers);
    // dim is 0-based on both sides (posexplode pos ≡ range(0, len))
    "emb2_dimension_stats" ->
      """WITH x AS (
           SELECT unnest(range(0, len(embedding))) AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS x
           FROM embeddings),
         m AS (
           SELECT dim,
             CAST(floor(x * 1000000) AS BIGINT) AS m,
             CAST(floor(x * x * 1000000) AS BIGINT) AS m2
           FROM x)
         SELECT dim, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(m) AS BIGINT) AS sum_micro,
           min(m) AS min_micro, max(m) AS max_micro,
           CAST(sum(m2) AS BIGINT) AS sumsq_micro,
           CAST(sum(m) AS BIGINT) // count(*) AS mean_micro
         FROM m GROUP BY dim""",
  )
}
