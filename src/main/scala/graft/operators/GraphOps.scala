package graft.operators

import org.apache.spark.graphx.{Edge, Graph, VertexRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GraphX adapter for analytical graph queries (BASELINE.json
  * "spark_approach": GraphX for analytical queries).
  *
  * The reference's graph surface is bidirectional relationship fields
  * with cardinalities (`parents * children : Person, n..n`,
  * `Kernel/Drafts/draft:36-38`) — i.e. typed edge tables. This adapter
  * lifts an edge DataFrame (srcId, dstId) into a GraphX `Graph` for the
  * iterative algorithms (connected components, PageRank,
  * aggregateMessages) that relational joins express poorly.
  */
object GraphOps {

  /** Canonical-pair count at which [[connectedComponentsDF]]'s loop
    * runs at full parallelism instead of the iterative default's small
    * fan — the contraction reshuffles the whole edge set every round,
    * so past ~1M pairs the per-round sort dominates and wants every
    * core (the measured 2× at 2M pairs on local[32]). */
  val LargeEdgeFanThreshold: Long = 1000000L

  /** Build a GraphX graph from an edge DataFrame with long columns
    * `src`, `dst`. */
  def fromEdges(edges: DataFrame): Graph[Int, Int] = {
    val edgeRdd = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    Graph.fromEdges(edgeRdd, defaultValue = 0,
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
  }

  /** Connected components → DataFrame(node, component) — GraphX Pregel
    * min-id propagation. Kept as the parity reference for
    * [[connectedComponentsDF]] (GraphOpsParitySpec compares them on
    * every shared input); the DataFrame form is the production path. */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    fromEdges(edges).connectedComponents()
      .vertices.map { case (v, c) => (v, c) }
      .toDF("node", "component")
  }

  /** Connected components WITHOUT GraphX: the alternating
    * large-star / small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", ACM SoCC 2014) expressed as
    * DataFrame aggregates and co-keyed joins. Produces the identical
    * min-id component labels (GraphOpsParitySpec pins it against
    * Pregel on every graph shape), converges in O(log n) rounds, all
    * in Tungsten.
    *
    * MEASURED REGIME NOTE (the r12 writeup, SURVEY.md round 12; numbers
    * from a local[32] scale probe): this form wins on
    * ONE-SHOT, MODEST pair graphs — dd7's duplicate clusters dropped
    * 17.4s → ~11-13s cold because Pregel's vertex/edge build constant
    * is gone — but LOSES to GraphX on large graphs (2M edges: 18.5s
    * vs 14.9s; 8M: ~55s vs ~17s). The reason is structural, not a
    * tuning miss (shuffled-hash joins, partition fan, and a
    * half-volume large-star variant were each tried and measured
    * flat): star-contraction REWRITES the full edge set every round
    * (~7.4M star edges shuffled 5× per round at 8M input, plus one
    * confirming round), while Pregel CC ships only the shrinking
    * active frontier. Use THIS for dedup-cluster resolution (one-shot
    * cold, pairs ∝ collisions) and [[connectedComponents]] (GraphX)
    * for standing large-graph analytics.
    *
    * Round shape: large-star is one groupBy(src) and one src-keyed
    * join over the symmetrized pairs, small-star the same over the
    * larger→smaller oriented output, then the pair-keyed dedup.
    * Convergence is a one-row (count, xor-of-pair-hashes) fingerprint
    * — the driver never materializes an edge list. Lineage truncates
    * per round via localCheckpoint, the [[Fixpoint.withIterativeConf]]
    * loop policy.
    */
  def connectedComponentsDF(spark: SparkSession, edges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    // FUSED checkpoint + fingerprint (r21, guide §2 — cut per-round
    // jobs): the loop used to run TWO jobs per round, the eager
    // localCheckpoint and then a separate (count, xor) aggregate over
    // the checkpointed blocks — pure fixed cost per round on the modest
    // one-shot pair graphs this form serves (the whole contraction is
    // 0.5–0.9 s/round at sf0.1, so a second job is a large fraction).
    // Dataset.observe folds the same aggregates into the checkpoint
    // job itself: every row flows through the CollectMetrics node on
    // its way into the block store, and Observation.get returns once
    // the (completed, withAction-wrapped) checkpoint job delivers the
    // metrics — one job per round, identical fingerprint values. The
    // xor never overflows (sum would, under ANSI) and pairs are
    // distinct, so (count, xor-of-pair-hashes) stays a sound set
    // fingerprint.
    def ckptWithFp(df: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val out = df.observe(obs, count(lit(1)).as("n"),
        expr("bit_xor(xxhash64(src, dst))").as("x")).localCheckpoint()
      val m = obs.get
      (out, (m("n").asInstanceOf[Long],
        m("x") match { case null => 0L; case v => v.asInstanceOf[Long] }))
    }
    // pin the input ONCE, outside the loop conf (map-only, no shuffle):
    // nodes and the canonical pair set both derive from it, the
    // caller's edge plan may be expensive (dd7 feeds the O(n²)-verified
    // pair join), and the pinned count is the size probe that picks the
    // loop's shuffle fan — star-contraction reshuffles the FULL edge
    // set every round, so a large input needs the full parallelism
    // (8-task sorts of 2M-row partitions on 32 idle cores were the
    // measured 2× loss), while the default small fan suits the modest
    // one-shot pair graphs this form is the production path for.
    // The size probe rides the checkpoint job too (same fusion).
    val rawObs = org.apache.spark.sql.Observation()
    val raw = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
      .observe(rawObs, count(lit(1)).as("n")).localCheckpoint()
    val loopFan =
      if (rawObs.get("n").asInstanceOf[Long] >= GraphOps.LargeEdgeFanThreshold)
        Some(spark.sparkContext.defaultParallelism)
      else None
    Fixpoint.withIterativeConf(spark, loopFan) {
    // nodes BEFORE the self-loop drop: a node whose only edge is a
    // self-loop is still a (singleton) vertex, exactly as in GraphX
    val nodes = raw.select(col("src").as("node"))
      .unionByName(raw.select(col("dst").as("node"))).distinct()
    // canonical larger→smaller pairs; both phases keep that orientation
    var (e, fp) = ckptWithFp(raw.filter(col("src") =!= col("dst"))
      .select(greatest("src", "dst").as("src"),
        least("src", "dst").as("dst")).distinct())
    var iter = 0
    var done = fp._1 == 0L // no edges: nothing to converge
    while (!done && iter < maxIter) {
      // large-star: every strictly-larger neighbor of u re-links to
      // m(u) = min(Γ(u) ∪ {u}); connectivity-preserving (Kiveris
      // Lemma 1). Measured note: a dst-keyed no-symmetrize variant
      // (m(u) from u's smaller neighbors only) shuffles half the rows
      // but benched ~15% SLOWER at 2M edges (outer-join sort cost eats
      // the saving), so the symmetrize-then-group form stays.
      val sym = e.unionByName(
        e.select(col("dst").as("src"), col("src").as("dst")))
      val lsMin = sym.groupBy("src")
        .agg(least(min("dst"), col("src")).as("m"))
      // no dedup on ls: duplicates are bounded (≤ one per symmetric
      // edge), min-agg and the final pair dedup absorb them — an extra
      // distinct here was a measured per-round shuffle for nothing
      val ls = sym.join(lsMin, "src").filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
      // small-star: u's smaller neighbors (and u itself) re-link to
      // the smallest of them
      val ssMin = ls.groupBy("src").agg(min("dst").as("m"))
      val ss = ls.join(ssMin, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(ssMin.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
      val (next, nfp) = ckptWithFp(ss)
      if (nfp == fp) done = true
      e = next; fp = nfp
      iter += 1
    }
    require(done, s"connectedComponentsDF did not converge in $maxIter rounds")
    val roots = e.groupBy("src").agg(min("dst").as("component"))
    nodes.join(roots, nodes("node") === roots("src"), "left")
      .select(col("node"),
        coalesce(col("component"), col("node")).as("component"))
    }
  }

  /** Static PageRank (fixed iterations) → DataFrame(node, rank). */
  def staticPageRank(spark: SparkSession, edges: DataFrame, iters: Int,
      resetProb: Double = 0.15): DataFrame = {
    import spark.implicits._
    fromEdges(edges).staticPageRank(iters, resetProb)
      .vertices.map { case (v, r) => (v, r) }
      .toDF("node", "rank")
  }

  /** Two aggregateMessages passes over a child→parent edge set: per
    * node, the number of children and grandchildren. */
  def childAndGrandchildCounts(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    val g = fromEdges(edges)
    val children: VertexRDD[Long] =
      g.aggregateMessages[Long](ctx => ctx.sendToDst(1L), _ + _)
    val withCounts = g.outerJoinVertices(children) {
      (_, _, c) => c.getOrElse(0L)
    }
    val grandchildren: VertexRDD[Long] =
      withCounts.aggregateMessages[Long](ctx => ctx.sendToDst(ctx.srcAttr), _ + _)
    children.leftJoin(grandchildren) { (_, c, gc) => (c, gc.getOrElse(0L)) }
      .map { case (v, (c, gc)) => (v, c, gc) }
      .toDF("node", "n_children", "n_grandchildren")
  }
}
