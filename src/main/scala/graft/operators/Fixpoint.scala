package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semi-naïve fixpoint evaluation for recursive rules.
  *
  * The reference *designs* recursion (a rule may reference itself —
  * `Kernel/README.md:158-161` guards re-entry on the cached index;
  * recursive `func` `Kernel/Drafts/draft:84-89`) but implements no
  * evaluator. Spark has no `WITH RECURSIVE`, so the engine drives the
  * iteration: each round joins only the newly-derived delta against the
  * edge relation (semi-naïve — never re-derives the full closure), and
  * `localCheckpoint` truncates lineage every round (SURVEY §7 "hard
  * parts": without it the plan tree grows exponentially with depth).
  *
  * Scale: each round is one shuffle join keyed on the recursion
  * variable; rounds = graph depth (log n for balanced hierarchies). The
  * `except` dedup keeps the delta minimal so later rounds shrink.
  */
object Fixpoint {

  /** Loop-tuning conf policy every iterative driver here (and the
    * planner's rule fixpoint) shares, in ONE place so it can't drift:
    * AQE off — it re-plans every round's tiny join from runtime stats,
    * a fixed ~1s/round of scheduling latency that dwarfs the actual
    * work on iterative state (SURVEY §9); the loop's shapes are known
    * and stable, so plan them statically. Shuffle partitions derived
    * from the actual parallelism (a pinned constant tuned on local[32]
    * would underpartition a 1000-core cluster) but floored low — the
    * per-round frames are small, and scheduling a full partition fan
    * of empty tasks per shuffle is pure overhead. Set and restored
    * through [[graft.Sessions.withConf]], on every exit path. */
  def withIterativeConf[A](spark: org.apache.spark.sql.SparkSession,
      shufflePartitions: Option[Int] = None)(f: => A): A =
    graft.Sessions.withConf(spark, Map(
      "spark.sql.adaptive.enabled" -> "false",
      // every fixpoint round's plan is UNIQUE (fresh checkpoint RDD ids,
      // a growing delta union), so whole-stage codegen recompiles every
      // stage every round — Janino time, not data time. Interpreted
      // execution of the small per-round frames is strictly cheaper
      // (measured: hq21 per-step job 0.45s → see SURVEY §12 round-12).
      "spark.sql.codegen.wholeStage" -> "false",
      // default fan suits SMALL per-round state (recursive-rule deltas);
      // a loop whose rounds shuffle the whole input (CC over an edge
      // corpus) passes the full parallelism instead — 8 tasks sorting
      // 2M-row partitions on 32 idle cores was a measured 2× loss
      "spark.sql.shuffle.partitions" -> shufflePartitions.getOrElse(
        math.max(8, spark.sparkContext.defaultParallelism / 4)).toString))(f)

  /** Transitive closure by path doubling: each round composes the
    * relation with itself (paths of length ≤ 2^k after k rounds), so a
    * depth-d hierarchy converges in ⌈log₂ d⌉ rounds instead of d —
    * fewer driver round-trips and checkpoints at the cost of a larger
    * per-round join. Preferable when depth dominates (measured ~2×
    * on the part hierarchy at sf0.1 vs semi-naïve). */
  def transitiveClosureDoubling(edges: DataFrame, maxIter: Int = 20): DataFrame =
    withIterativeConf(edges.sparkSession) {
      var acc = edges.select(col("child"), col("parent").as("anc"))
        .distinct().localCheckpoint()
      var size = acc.count()
      var iter = 0
      var done = false
      while (!done && iter < maxIter) {
        val composed = acc.withColumnRenamed("anc", "mid")
          .join(acc.withColumnRenamed("child", "mid"), "mid")
          .select(col("child"), col("anc"))
        val next = acc.union(composed).distinct().localCheckpoint()
        val nextSize = next.count()
        if (nextSize == size) done = true
        else { acc = next; size = nextSize }
        iter += 1
      }
      acc
    }

  /** Transitive closure of a FUNCTIONAL edge relation (each child has at
    * most one parent — the reference's `n..1` relationship cardinality,
    * `Kernel/Drafts/draft_students:23-24`): pointer doubling on the
    * parent function. After round k, `jump` holds each node's ancestor
    * exactly 2^k levels up and `acc` all ancestors within 2^k. The
    * distance decomposition 2^k + [1, 2^k] is unique, so every closure
    * pair is produced EXACTLY ONCE — no `distinct()` dedup shuffle at
    * all, total join work O(|closure|), ⌈log₂ depth⌉ rounds (measured
    * ~3× vs relation-doubling on the part hierarchy at sf0.1). */
  def transitiveClosureFunctional(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // jump: (node, up) — the ancestor exactly 2^k levels above node
    var jump = edges.select(col("child").as("node"), col("parent").as("up"))
      .localCheckpoint()
    // jump is |V| rows of two longs and only ever shrinks, so one count
    // at entry decides the whole loop's join strategy: under the gate,
    // broadcast it and the loop runs SHUFFLE-FREE (acc, the only big
    // state, is never repartitioned); at billions of vertices the gate
    // trips and every round is a plain co-located shuffle join instead
    // of an executor-OOMing forced broadcast. 20M rows ≈ 320 MB.
    val jumpRows = jump.count()
    def gated(df: DataFrame): DataFrame =
      SizeGate.maybeBroadcast(df, jumpRows, 20000000L)
    // acc: (child, anc) — ancestors at distance in [1, 2^k]
    var acc = jump.select(col("node").as("child"), col("up").as("anc"))
      .localCheckpoint()
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // the round's two materializations are INDEPENDENT jobs — submit
      // them from two threads so the cluster overlaps them (Spark's
      // scheduler is thread-safe for concurrent actions; each round's
      // wall clock is one job latency, not two, and per-round driver
      // latency is what dominates a log-depth loop)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      // ancestors at distance 2^k + [1, 2^k] = [2^k+1, 2^{k+1}]
      val stretchedF = scala.concurrent.Future {
        gated(jump)
          .join(acc.select(col("child").as("__m"), col("anc")), col("up") === col("__m"))
          .select(col("node").as("child"), col("anc"))
          .localCheckpoint()
      }
      // the 2^{k+1} jump: follow two 2^k jumps
      val nextJumpF = scala.concurrent.Future {
        jump.select(col("node"), col("up").as("__m"))
          .join(gated(jump.select(col("node").as("__m"), col("up"))), "__m")
          .select(col("node"), col("up"))
          .localCheckpoint()
      }
      import scala.concurrent.duration.Duration
      // await BOTH to completion before any rethrow: failing fast on
      // the first would unwind while the sibling's job (and its eager
      // localCheckpoint blocks) keeps running unobserved — a retry loop
      // around the fixpoint would pile up orphaned concurrent jobs
      val results = Seq(stretchedF, nextJumpF).map(f =>
        scala.concurrent.Await.ready(f, Duration.Inf).value.get)
      val Seq(stretched, nextJump) = results.map(_.get)
      val grew = stretched.take(1).nonEmpty
      if (grew) acc = acc.union(stretched).localCheckpoint()
      if (!grew || nextJump.take(1).isEmpty) done = true
      jump = nextJump
      iter += 1
    }
    acc
  }

  /** Single-source shortest hop-distances — the recursive-AGGREGATE rule
    * flavor (stratified Datalog `min`), which plain closure can't
    * express:
    *   dist(s, 0).
    *   dist(c, min(d+1)) :- edges(c, p), dist(p, d).
    * BFS layering IS the min: a node's first frontier is its minimum
    * distance, so no per-round min() re-aggregation of the accumulated
    * state is ever needed — each round joins edges against the frontier
    * only (semi-naïve), anti-joins out already-reached nodes, and the
    * accumulator is append-only. Works on cyclic graphs (a cycle never
    * re-admits a reached node). Rounds = graph eccentricity; each round
    * is one join keyed on the recursion variable + one anti-join, both
    * on the shrinking frontier, never the full distance table.
    * Input columns `child`/`parent`; distance measured from `source`
    * walking parent→child. A graph whose eccentricity from the source
    * exceeds `maxIter` is an ERROR, never a silent partial result
    * (missing far nodes would read as unreachable). */
  def bfsDistances(edges: DataFrame, source: Long, maxIter: Int = 512): DataFrame =
    withIterativeConf(edges.sparkSession) {
      // materialize the edge relation once — the loop probes it every
      // round, and re-running its source plan (scan + projections) per
      // round multiplies the scan cost by the eccentricity (GraphX
      // materializes the edge RDD for iterative algorithms for the same
      // reason); 16-byte rows, MEMORY_AND_DISK so it spills, never OOMs
      val e = edges.select(col("child"), col("parent")).localCheckpoint()
      val seed = edges.sparkSession.range(source, source + 1)
        .select(col("id").as("node"), lit(0).as("dist"))
        .localCheckpoint()
      // accumulator = union of checkpointed per-level frontiers: each
      // round materializes only its own level (re-checkpointing the
      // growing accumulator would be O(|V|·ecc) total writes)
      var levels = List(seed)
      def acc: DataFrame = levels.reduce(_ union _)
      var frontier = seed
      var frontierRows = 1L
      var iter = 0
      var done = false
      while (!done && iter < maxIter) {
        // frontier is one BFS level (12-byte rows) — when its measured
        // count fits, broadcast it so the edge relation never shuffles
        // (the scan stays map-side every round); past the gate the round
        // degrades to a plain co-located join, never a forced OOM
        val reached = e
          .join(SizeGate.maybeBroadcast(
            frontier.select(col("node").as("parent"), col("dist")),
            frontierRows, 20000000L), "parent")
          .select(col("child").as("node"), (col("dist") + lit(1)).as("dist"))
        // anti-join first (shrinks to genuinely-new nodes), then dedup —
        // a node reached from two frontier nodes gets the same dist, so
        // distinct() within the round is the only min() ever needed
        val fresh = reached.join(acc, Seq("node"), "left_anti")
          .distinct().localCheckpoint()
        val n = fresh.count()
        if (n == 0) done = true
        else {
          levels ::= fresh
          frontier = fresh
          frontierRows = n
        }
        iter += 1
      }
      if (!done)
        throw new IllegalStateException(
          s"bfsDistances: frontier still growing after $maxIter rounds " +
            "(graph eccentricity exceeds the cap) — raise maxIter; " +
            "a silent partial result would misreport far nodes as unreachable")
      acc
    }

  /** Transitive closure anc(child, anc) of edges(child, parent):
    * anc(c, p) :- edges(c, p).
    * anc(c, a) :- edges(c, p), anc(p, a).
    * Input columns must be named `child`/`parent`. */
  def transitiveClosure(edges: DataFrame, maxIter: Int = 64): DataFrame = {
    val base = edges.select(col("child"), col("parent").as("anc"))
      .distinct().localCheckpoint()
    // accumulator = union of the checkpointed per-round deltas (the
    // Planner fixpoint / bfsDistances pattern): each round materializes
    // only its OWN fresh tuples — re-checkpointing the growing
    // accumulator would be O(|closure|·depth) total cache writes
    var deltas = List(base)
    def acc: DataFrame = deltas.reduce(_ union _)
    var delta = base
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // rename-based join: checkpointed frames drop alias qualifiers, so
      // disambiguate by renaming the recursion variable instead
      val derived = delta.withColumnRenamed("child", "mid")
        .join(edges, col("mid") === col("parent"))
        .select(col("child"), col("anc"))
      val newDelta = derived.except(acc).localCheckpoint()
      if (newDelta.isEmpty) done = true
      else {
        deltas ::= newDelta
        delta = newDelta
      }
      iter += 1
    }
    acc
  }
}
