package graft.heroql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Fixpoint, SizeGate}

import Ast._

/** HeroQL AST → DataFrame plans (the designed query path,
  * SURVEY §3 E_designed): atoms → scans+filters, shared variables →
  * equi-joins, `;` → union, `not exists`/`exists` → anti/semi joins,
  * `@partition`/`@order_by_desc`/rank-filter/`@aggregate` →
  * window + aggregation, head → projection with declared-type casts.
  *
  * Everything is emitted declaratively, so Catalyst does pushdown, join
  * selection, WindowGroupLimit top-k rewriting and whole-stage codegen —
  * the planner never schedules physical execution itself.
  *
  * Determinism note: the reference leaves rank ties unspecified; this
  * planner totalizes the `@order_by*` sort with the remaining bound
  * variables ascending (name order), so rank-filtered results are stable
  * and oracle-checkable.
  */
final class Planner(spark: SparkSession, decls: Map[String, DataDecl],
    queryDecls: Map[String, QueryDecl], catalog: Catalog,
    funcs: Map[String, FuncDecl] = Map.empty,
    unions: Map[String, UnionDecl] = Map.empty) {

  /** Catalog bindings forced so far: each relation the query reaches is
    * built once per compile, and one it never reaches is never built. */
  private val bound = scala.collection.mutable.Map.empty[String, DataFrame]

  private def relation(name: String): Option[DataFrame] =
    bound.get(name).orElse(catalog.bindings.get(name).map { build =>
      val df = build()
      bound(name) = df
      df
    })

  private def boundRelation(name: String): DataFrame = relation(name).getOrElse(
    throw Analyzer.AnalysisError(s"no table bound for relation $name"))

  /** variant name -> (tag, owning union) across all declared unions. */
  private val variantInfo: Map[String, (Int, UnionDecl)] =
    unions.values.flatMap(u =>
      u.variantNames.zipWithIndex.map { case (v, t) => v -> (t, u) }).toMap
  private def variantTags: Map[String, Int] =
    variantInfo.map { case (v, (t, _)) => v -> t }

  /** Planning stack — a rule atom naming a query already being planned
    * is recursion. SELF-recursion (a rule whose own body references it,
    * directly or through sub-rules) compiles to a semi-naïve fixpoint
    * ([[planFixpoint]]) — the designed recursion semantics
    * (`Kernel/README.md:158-161` guards re-entry; the engine evaluates
    * instead of erroring, like the recursive-func path). MUTUAL
    * recursion (a cycle through another named query) still errors with
    * the reference's "calculating" sentinel. */
  private val planning = scala.collection.mutable.Set.empty[String]

  /** While a recursive alternative of query Q is being planned, Q's
    * self-atom resolves here (the previous round's delta for linear
    * rules, the full accumulator otherwise) instead of re-entering
    * [[plan]]. */
  private var recursionBinding: Map[String, DataFrame] = Map.empty

  /** Per-compile memo for evaluated fixpoints, keyed by (query, demand):
    * the loop runs EAGERLY at plan time (depth-many Spark jobs), so two
    * atom occurrences of the same recursive query must not run it
    * twice — the result is a union of immutable checkpointed deltas,
    * safe to share. NOT consulted while any recursionBinding is live: a
    * nested query planned inside a loop reads the round's in-flight
    * state, and freezing its round-1 result would be wrong. */
  private val fixpointMemo =
    scala.collection.mutable.Map.empty[(String, Seq[(String, Lit)]), DataFrame]

  private def fixpointFor(q: QueryDecl, demand0: Seq[(String, Lit)]): DataFrame = {
    // drop demand constants no restriction strategy can use BEFORE the
    // memo lookup: an ineligible magic demand would otherwise key a
    // FULL fixpoint evaluation per distinct constant instead of sharing
    // the one (name, Nil) evaluation (the calling atom re-applies the
    // constants as filters either way)
    val demand = effectiveDemand(q, demand0)
    if (recursionBinding.nonEmpty) planFixpoint(q, demand)
    else fixpointMemo.getOrElseUpdate((q.name, demand), planFixpoint(q, demand))
  }

  /** The sub-sequence of `demand` some restriction strategy can
    * actually use: invariant-position constants (base-filter seeding)
    * plus non-invariant ones IFF the magic-sets analysis accepts them. */
  private def effectiveDemand(q: QueryDecl,
      demand: Seq[(String, Lit)]): Seq[(String, Lit)] =
    if (demand.isEmpty) demand
    else {
      val head = (q.inArgs ++ q.outArgs).map(_._1)
      val inv = invariantPositions(q)
      val (invD, magD) = demand.partition { case (f, _) => inv(head.indexOf(f)) }
      invD ++ (if (magD.nonEmpty && magicRules(q, magD).isDefined) magD else Nil)
    }

  /** For the duration of a fixpoint loop, the data relations its
    * recursive alternatives touch resolve to a one-time materialization
    * instead of re-running their source plan (scan + projections) every
    * round — the loop multiplies any source cost by the recursion depth
    * (GraphX materializes the edge RDD for the same reason).
    * MEMORY_AND_DISK, so it spills rather than OOMs — but only relations
    * under [[Planner.edbCacheMaxBytes]] (Catalyst's zero-cost size
    * estimate) are taken: past the gate, writing a copy of a huge input
    * to executor storage costs more than the per-round parquet re-scan
    * it saves (the scan keeps pushdown/pruning; the loop's join probes
    * it lazily each round). */
  private var edbCache: Map[String, DataFrame] = Map.empty

  /** Data relations referenced by a body, transitively through sub-rules
    * and inlined named queries — the set a fixpoint loop should
    * materialize once. */
  private def dataRels(b: Body, seen: Set[String]): Set[String] =
    b.alts.flatMap(_.items.flatMap {
      case a: Atom if decls.contains(a.rel) => Set(a.rel)
      case a: Atom if queryDecls.contains(a.rel) && !seen.contains(a.rel) =>
        dataRels(queryDecls(a.rel).body, seen + a.rel)
      case Negation(a) if decls.contains(a.rel) => Set(a.rel)
      case Existence(a) if decls.contains(a.rel) => Set(a.rel)
      case SubQuery(_, body) => dataRels(body, seen)
      case _ => Set.empty[String]
    }).toSet

  private def sparkType(t: String): String = Planner.sparkType(t)

  def plan(q: QueryDecl): DataFrame = {
    if (planning.contains(q.name))
      throw Analyzer.AnalysisError(
        s"recursive query ${q.name}: already calculating (mutual recursion is not supported; self-recursive rules evaluate via the fixpoint)")
    if (selfRefCount(q.body, q.name, through = false) > 0) return fixpointFor(q, Nil)
    planning += q.name
    try {
      val alts = q.body.alts.map(conj => headed(q, planConj(conj)))
      alts.reduce(_ union _)
    } finally planning -= q.name
  }

  /** Project/cast a planned conjunction onto the query head. */
  private def headed(q: QueryDecl, df: DataFrame): DataFrame =
    df.select((q.inArgs ++ q.outArgs).map {
      case (n, "") => col(n) // untyped (anonymous/`let` form): no cast
      case (n, t) => col(n).cast(sparkType(t)).as(n)
    }: _*)

  /** Positive references to `name` in a body: top-level atoms and
    * sub-rule bodies. With `through` set, also the bodies of other
    * named queries the body inlines — used ONLY for the linearity
    * decision inside the fixpoint; routing and base/recursive
    * partitioning count DIRECT references, so a cycle through another
    * query (mutual recursion) still reaches the planning-stack
    * sentinel rather than being misread as a base case.
    * Self-reference under `not exists` / `exists` is rejected — not
    * stratified, no least fixpoint. */
  private def selfRefCount(b: Body, name: String, through: Boolean,
      seen: Set[String] = Set.empty): Int =
    b.alts.map(conjRefCount(_, name, through, seen)).sum

  private def conjRefCount(c: Conj, name: String, through: Boolean,
      seen: Set[String] = Set.empty): Int =
    c.items.map {
      case a: Atom if a.rel == name => 1
      case a: Atom if through && !funcs.contains(a.rel) &&
          !decls.contains(a.rel) && queryDecls.contains(a.rel) &&
          !seen.contains(a.rel) =>
        selfRefCount(queryDecls(a.rel).body, name, through, seen + a.rel)
      case Negation(a) if a.rel == name =>
        throw Analyzer.AnalysisError(
          s"recursive query $name: self-reference under 'not exists' is not stratified")
      case Existence(a) if a.rel == name =>
        throw Analyzer.AnalysisError(
          s"recursive query $name: self-reference under 'exists' is not stratified")
      case SubQuery(_, body) => selfRefCount(body, name, through, seen)
      case _ => 0
    }.sum

  /** Head positions the recursion passes through UNCHANGED: position i
    * is invariant iff every self-atom of every recursive alternative
    * carries exactly the head's variable for position i (one variable =
    * one value inside a conjunction, and the head emits that variable,
    * so a derived tuple's value at i always equals its self-atom input
    * tuple's value at i). A constant demanded at an invariant position
    * therefore selects a CLOSED slice of the fixpoint — every
    * derivation of a slice tuple uses only slice tuples, down to base
    * tuples with the same constant — so the loop can be seeded with
    * the constant: demand-driven evaluation without full magic sets.
    * Alternatives hiding self-references inside sub-rules, or reaching
    * the recursion INDIRECTLY through another named query (that query's
    * inlined plan resolves its self-atoms to the sliced loop state, but
    * its derivations may need tuples OUTSIDE the slice), defeat the
    * analysis → no position is invariant (safe fallback: full
    * evaluation). */
  /** Some self-reference flows through another named query or a
    * sub-rule — its atoms are invisible to positional analyses
    * (through-count ≠ direct-count, or a SubQuery hides a self-atom);
    * shared precondition of [[invariantPositions]] and the magic-sets
    * analysis: both must refuse, or one would treat a rule as
    * transparent that the other treats as opaque. */
  private def opaqueRecursion(q: QueryDecl, recAlts: Seq[Conj]): Boolean =
    recAlts.exists { c =>
      conjRefCount(c, q.name, through = true) !=
        conjRefCount(c, q.name, through = false) ||
      c.items.exists {
        case SubQuery(_, body) => selfRefCount(body, q.name, through = false) > 0
        case _ => false
      }
    }

  private def invariantPositions(q: QueryDecl): Set[Int] = {
    val head = (q.inArgs ++ q.outArgs).map(_._1)
    val recAlts = q.body.alts.filter(conjRefCount(_, q.name, through = false) > 0)
    if (opaqueRecursion(q, recAlts)) Set.empty
    else head.indices.filter { i =>
      recAlts.forall(_.items.forall {
        case a: Atom if a.rel == q.name => a.args.lift(i).contains(TVar(head(i)))
        case _ => true
      })
    }.toSet
  }

  /** Magic-sets demand restriction (sideways information passing) for
    * constants demanded at NON-invariant head positions — the general
    * form of the reference's serve-a-query-from-the-provided-value
    * index-cover design (`Kernel/README.md:142-157`), where
    * [[invariantPositions]] only covers the pass-through case.
    *
    * Adornment: the demanded fields B are "bound". Per recursive
    * alternative, a binding-propagation pass over the non-self items
    * finds which are evaluable from B alone (an atom joinable on a
    * bound variable binds its variables; a binding whose expression is
    * bound binds its output; bound filters restrict). The alternative
    * is magic-eligible iff every self-atom argument at a B position is
    * a constant or a bound variable — then the magic rule
    * `magic(selfArgs|B) ← magic(head|B) ⋈ includedItems` enumerates a
    * SUPERSET of the recursive calls any demanded derivation makes
    * (included ⊆ body constraints, so every real derivation passes the
    * join). The magic set is the least fixpoint of those rules from the
    * demanded constants; restricting every round of the main loop to
    * tuples whose B-projection ∈ magic is then complete for the demand:
    * each kept tuple's derivations consume only kept tuples.
    *
    * Returns None (→ full evaluation, always sound) when any
    * alternative is opaque (self-reference through a sub-rule or
    * another query), has an unbindable or wildcard self-atom B
    * argument, or the magic closure fails to converge. Work at scale:
    * the magic loop touches only the demanded slice's ancestry — for a
    * point query on a hierarchy, O(depth · fan-in) tuples instead of
    * the full transitive closure. */
  /** The magic-sets ANALYSIS half: per recursive alternative, the
    * sideways items (in inclusion order) and the self atoms — or None
    * when any alternative is opaque or has an unbindable/wildcard
    * self-atom argument at a demanded position. Pure AST work, cheap
    * enough for [[effectiveDemand]] to run per atom occurrence. */
  private def magicRules(q: QueryDecl,
      demand: Seq[(String, Lit)]): Option[Seq[(Seq[Item], Seq[Atom])]] = {
    val head = (q.inArgs ++ q.outArgs).map(_._1)
    val boundFields = demand.map(_._1)
    val boundIdx = boundFields.map(head.indexOf)
    val recAlts = q.body.alts.filter(conjRefCount(_, q.name, through = false) > 0)
    if (opaqueRecursion(q, recAlts)) return None
    def reachesRec(rel: String): Boolean =
      rel != q.name && !decls.contains(rel) && queryDecls.contains(rel) &&
        selfRefCount(queryDecls(rel).body, q.name, through = true) > 0
    Some(recAlts.map { c =>
      val selfIdx = c.items.zipWithIndex.collect {
        case (a: Atom, i) if a.rel == q.name => i
      }.toSet
      val selfAtoms = c.items.zipWithIndex.collect {
        case (a: Atom, i) if selfIdx(i) => a
      }
      var bound = boundFields.toSet
      val included = scala.collection.mutable.LinkedHashSet.empty[Int]
      var changed = true
      while (changed) {
        changed = false
        c.items.zipWithIndex.foreach {
          case (_, i) if selfIdx(i) || included(i) => ()
          case (a: Atom, i) if !funcs.contains(a.rel) && !reachesRec(a.rel) &&
              a.args.forall { case _: TExpr | _: TTyped => false; case _ => true } &&
              atomVarSeq(a).exists(bound) =>
            included += i; bound ++= atomVarSeq(a); changed = true
          case (Binding(out, e), i) if Analyzer.exprVars(e).subsetOf(bound) =>
            included += i; bound += out; changed = true
          case (Compare(_, l, r), i)
              if (Analyzer.exprVars(l) ++ Analyzer.exprVars(r)).subsetOf(bound) =>
            included += i; changed = true
          case (Filter(e), i) if Analyzer.exprVars(e).subsetOf(bound) =>
            included += i; changed = true
          case _ => ()
        }
      }
      val eligible = selfAtoms.forall { a =>
        boundIdx.forall(i => a.args.lift(i).exists {
          case TVar(v) => bound(v)
          case _: TConst => true
          case _ => false
        })
      }
      if (!eligible) return None
      // INCLUSION order, not body order: a binding that became evaluable
      // only after a later atom bound its dependency must plan after
      // that atom (LinkedHashSet records exactly that order)
      (included.toSeq.map(c.items), selfAtoms)
    })
  }

  private def magicRestriction(q: QueryDecl,
      demand: Seq[(String, Lit)]): Option[DataFrame] = {
    val head = (q.inArgs ++ q.outArgs).map(_._1)
    val types = (q.inArgs ++ q.outArgs).map(_._2)
    val boundFields = demand.map(_._1)
    val boundIdx = boundFields.map(head.indexOf)
    val rules = magicRules(q, demand) match {
      case None => return None
      case Some(rs) => rs
    }
    def castTo(cCol: Column, i: Int): Column =
      if (types(i).isEmpty) cCol.as(head(i))
      else cCol.cast(sparkType(types(i))).as(head(i))
    val seed = spark.range(1).select(boundIdx.zip(demand).map {
      case (i, (_, l)) => castTo(litOf(l), i)
    }: _*).localCheckpoint()
    var deltas = List(seed)
    def acc: DataFrame = deltas.reduce(_ union _)
    var delta = seed
    var iter = 0
    var done = false
    // one magic-propagation step, LAZY — delta-linear by construction
    // (each rule consumes only the current demand delta), so steps
    // chain for batching exactly like the main fixpoint's linear case
    def step(stepDelta: DataFrame): DataFrame =
      rules.flatMap { case (items, selfAtoms) =>
        val ctx =
          if (items.isEmpty) stepDelta
          else planConj(Conj(items), State(Some(stepDelta), boundFields.toSet, Seq.empty))
        selfAtoms.map { a =>
          ctx.select(boundIdx.map { i =>
            a.args(i) match {
              case TVar(v) => castTo(col(v), i)
              case TConst(l) => castTo(litOf(l), i)
              case t => throw Analyzer.AnalysisError(
                s"magic projection: unexpected term $t") // excluded above
            }
          }: _*)
        }
      }.reduce(_ union _)
    while (!done && iter < Planner.fixpointMaxIter) {
      // batch B steps per except+checkpoint job (see planFixpoint —
      // the job, dominated by single-use codegen + scheduling, is the
      // per-round fixed cost; chaining divides the job count by B)
      var stepIn = delta
      val outs = Seq.newBuilder[DataFrame]
      // clamp defends the use site too: the var is spec-mutable, and a
      // ≤0 value would run zero steps → empty `reduce` + infinite loop
      val batchRounds = math.max(1, Planner.fixpointBatchRounds)
      var b = 0
      while (b < batchRounds && iter + b < Planner.fixpointMaxIter) {
        val d = step(stepIn)
        outs += d
        stepIn = d
        b += 1
      }
      val fresh = outs.result().reduce(_ union _).except(acc).localCheckpoint()
      if (fresh.take(1).isEmpty) done = true
      else { deltas ::= fresh; delta = fresh }
      iter += b
    }
    if (!done) None // magic closure itself diverged — full eval is sound
    else Some(acc.localCheckpoint())
  }

  /** Self-recursive rule → semi-naïve fixpoint (SURVEY §2.3 J7 from the
    * language surface; evaluation mirrors [[graft.operators.Fixpoint]]):
    * base alternatives seed the accumulator, each round plans only the
    * recursive alternatives with the self-atom bound to the last
    * round's delta (linear rules — any derivation not using a
    * new-last-round tuple was already derived, so delta suffices) or to
    * the full accumulator (non-linear / indirect self-reference —
    * naïve, always sound), and `except` both dedups to set semantics
    * (the WITH RECURSIVE UNION the oracle runs) and detects
    * convergence. `localCheckpoint` truncates lineage per round; AQE is
    * parked for the loop's small stable shapes like the Scala fixpoint
    * driver does. The specialized pointer-doubling paths stay the perf
    * route for functional edges — this is the general evaluator.
    *
    * `demand` (field name → constant) restricts the loop to a slice of
    * the fixpoint. A constant at an INVARIANT position (see
    * [[invariantPositions]]) filters the base alternatives and the
    * recursion keeps every round inside the slice. A constant at a
    * non-invariant position routes through [[magicRestriction]]: the
    * magic set of relevant B-projections is computed first, and every
    * round's fresh tuples are semi-joined against it. Either way work ∝
    * the demanded slice, not the full closure; ineligible demand
    * degrades to full evaluation (always sound — the calling atom
    * re-applies the constants as filters). */
  private def planFixpoint(q: QueryDecl, demand: Seq[(String, Lit)] = Nil,
      maxIter: Int = Planner.fixpointMaxIter): DataFrame = {
    if (planning.contains(q.name))
      throw Analyzer.AnalysisError(
        s"recursive query ${q.name}: already calculating (mutual recursion is not supported; self-recursive rules evaluate via the fixpoint)")
    planning += q.name
    // a NESTED fixpoint (a recursive alternative referencing another
    // self-recursive query) must not clobber the outer loop's EDB
    // materializations — save/restore, like recursionBinding
    val edbCacheWas = edbCache
    try Fixpoint.withIterativeConf(spark) {
      val (recAlts, baseAlts) =
        q.body.alts.partition(conjRefCount(_, q.name, through = false) > 0)
      if (baseAlts.isEmpty)
        throw Analyzer.AnalysisError(
          s"recursive query ${q.name} has no base case")
      // aggregation over the recursion state has no least fixpoint
      // (non-stratified — each round would re-aggregate a growing set);
      // the same is true of aggregation inside a SUB-RULE of a
      // recursive alternative when that sub-rule touches the recursion,
      // and of negation/existence whose target reaches the recursion
      // through another query (its plan would resolve the self-atom to
      // the in-flight delta — a partial set — and silently admit tuples
      // the completed relation would exclude)
      def reachesSelf(rel: String): Boolean =
        rel != q.name && !decls.contains(rel) && queryDecls.contains(rel) &&
          selfRefCount(queryDecls(rel).body, q.name, through = true) > 0
      def checkStratified(c: Conj, inSelfScope: Boolean, seen: Set[String]): Unit =
        c.items.foreach {
          case _: Aggregate | _: Partition | _: RankBinding if inSelfScope =>
            throw Analyzer.AnalysisError(
              s"recursive query ${q.name}: aggregation/ranking inside a recursive alternative is not stratified")
          case SubQuery(_, body) =>
            // per ALTERNATIVE: a sub-rule alternative aggregating purely
            // over base data is stratified even if a sibling alternative
            // touches the recursion
            body.alts.foreach(sc => checkStratified(sc,
              inSelfScope && selfRefCount(Body(Seq(sc)), q.name, through = true) > 0,
              seen))
          case a: Atom if reachesSelf(a.rel) && !seen.contains(a.rel) =>
            // the inlined plan of a recursion-reaching query evaluates
            // with the loop state live — its aggregates and negations
            // face the same in-flight partial set, one level removed
            queryDecls(a.rel).body.alts.foreach(sc => checkStratified(sc,
              inSelfScope = selfRefCount(Body(Seq(sc)), q.name, through = true) > 0,
              seen + a.rel))
          case Negation(a) if reachesSelf(a.rel) =>
            throw Analyzer.AnalysisError(
              s"recursive query ${q.name}: negation over '${a.rel}', which references the recursion, is not stratified")
          case Existence(a) if reachesSelf(a.rel) =>
            throw Analyzer.AnalysisError(
              s"recursive query ${q.name}: 'exists ${a.rel}', which references the recursion, is not stratified")
          case _ => ()
        }
      recAlts.foreach(checkStratified(_, inSelfScope = true, Set(q.name)))
      edbCache = edbCacheWas ++ dataRels(Body(recAlts), Set(q.name))
        .filterNot(edbCacheWas.contains)
        .flatMap(r => relation(r).collect {
          case df if df.queryExecution.optimizedPlan.stats.sizeInBytes
              <= Planner.edbCacheMaxBytes => r -> df.localCheckpoint()
        }).toMap
      val headFields = (q.inArgs ++ q.outArgs).map(_._1)
      val inv = if (demand.isEmpty) Set.empty[Int] else invariantPositions(q)
      val (invDemand, magicDemand) =
        demand.partition { case (f, _) => inv(headFields.indexOf(f)) }
      val magicSet =
        if (magicDemand.isEmpty) None else magicRestriction(q, magicDemand)
      Planner.lastFixpointDemand = invDemand.map(_._1) ++
        (if (magicSet.isDefined) magicDemand.map(_._1) else Nil)
      def restrict(df: DataFrame): DataFrame = magicSet match {
        case Some(m) => df.join(m, magicDemand.map(_._1), "left_semi")
        case None => df
      }
      val base = restrict(baseAlts.map { c =>
          val df = headed(q, planConj(c))
          invDemand.foldLeft(df) { case (d, (f, l)) => d.filter(col(f) === litOf(l)) }
        }.reduce(_ union _))
        .distinct().localCheckpoint()
      // accumulator = union of checkpointed per-round deltas: each round
      // materializes only its OWN fresh tuples (re-checkpointing the
      // growing accumulator would be O(|result|·depth) total writes);
      // the union plan is ≤ maxIter scans of already-materialized RDDs
      var deltas = List(base)
      def acc: DataFrame = deltas.reduce(_ union _)
      var delta = base
      var iter = 0
      var done = false
      // one logical derivation step, LAZY: the step's delta/acc bindings
      // are whatever frames the caller passes (materialized RDDs for the
      // round's first step, in-flight lazy plans for batched follow-ons)
      def step(stepDelta: DataFrame, stepAcc: DataFrame): DataFrame =
        restrict(recAlts.map { c =>
          val linear = conjRefCount(c, q.name, through = true) == 1 &&
            c.items.count { case a: Atom => a.rel == q.name; case _ => false } == 1
          recursionBinding += (q.name -> (if (linear) stepDelta else stepAcc))
          try headed(q, planConj(c))
          finally recursionBinding -= q.name
        }.reduce(_ union _))
      while (!done && iter < maxIter) {
        val t0 = System.nanoTime()
        // batch fixpointBatchRounds logical steps into ONE materialized
        // round: profiling (round 12) pinned the per-round cost to the
        // except+checkpoint JOB itself (~0.55s at sf0.1 — scheduling +
        // re-shuffling the accumulated set per round), with plan-build
        // and the take(1) probe both under 50ms. Chaining B steps
        // lazily before the single except divides the number of those
        // jobs by B. Semantics are unchanged: step k+1 consumes step
        // k's RESTRICTED lazy output (exactly what the next round would
        // have been handed post-dedup, plus possibly already-known
        // tuples that the closing except removes — multiplicity never
        // matters because aggregation inside recursion is rejected as
        // non-stratified above), and non-linear alternatives bind the
        // accumulator extended with the in-flight step outputs.
        var stepIn = delta
        var stepAcc = acc
        val outs = Seq.newBuilder[DataFrame]
        val batchRounds = math.max(1, Planner.fixpointBatchRounds)
        var b = 0
        while (b < batchRounds && iter + b < maxIter) {
          val d = step(stepIn, stepAcc)
          outs += d
          stepAcc = stepAcc.union(d)
          stepIn = d
          b += 1
        }
        val t1 = System.nanoTime()
        val fresh = outs.result().reduce(_ union _).except(acc).localCheckpoint()
        val t2 = System.nanoTime()
        if (fresh.take(1).isEmpty) done = true
        else {
          deltas ::= fresh
          delta = fresh
        }
        val t3 = System.nanoTime()
        if (Planner.fixpointTraceEnabled)
          // format: round, driver plan-build ms, except+checkpoint job
          // ms, convergence-probe ms — the three candidate costs behind
          // the measured ~0.35s/round constant (SURVEY §9)
          println(f"fixpoint-trace ${q.name} round=$iter steps=$b plan=${(t1 - t0) / 1e6}%.0fms job=${(t2 - t1) / 1e6}%.0fms probe=${(t3 - t2) / 1e6}%.0fms")
        iter += b
      }
      if (Planner.fixpointStatsEnabled)
        Planner.lastFixpointAccRows = deltas.map(_.count()).sum
      if (!done)
        throw Analyzer.AnalysisError(
          s"recursive query ${q.name}: did not converge within $maxIter rounds")
      acc
    } finally {
      edbCache = edbCacheWas
      planning -= q.name
    }
  }

  /** Plan a body used as a derived relation (sub-rule): bag of rows with
    * `outVars` columns. */
  private def planBody(body: Body, outVars: Seq[String]): DataFrame =
    body.alts.map(planConj(_).select(outVars.map(col): _*)).reduce(_ union _)

  /** Plan a bare item sequence (the binding prefix of a `transaction
    * query` / a `for query` body). */
  private[heroql] def planItems(items: Seq[Item]): DataFrame = planConj(Conj(items))

  /** Expression compiler exposed for statement-form mutation arguments. */
  private[heroql] def exprColPublic(e: Expr): Column = exprCol(e)

  private final case class State(
      df: Option[DataFrame],
      bound: Set[String],
      partition: Seq[String])

  private def planConj(conj: Conj,
      init: State = State(None, Set.empty, Seq.empty)): DataFrame = {
    var st = init
    conj.items.foreach {
      case a: Atom if funcs.contains(a.rel) =>
        st = funcAtom(st, funcs(a.rel), a)
      case a: Atom =>
        st = joinIn(st, atomDf(a), atomVarSeq(a))
      case SubQuery(outVars, body) =>
        st = joinIn(st, planBody(body, outVars), outVars)
      case Negation(a) =>
        val av = atomVarSeq(a)
        val shared = av.filter(st.bound.contains)
        // GROUND negation (all constants/wildcards — no shared vars):
        // a constant condition over the whole conjunction. An anti join
        // on a literally-true condition keeps every row iff the probed
        // relation is empty — lazy, and the probe side is one row max
        st = st.copy(df = Some(
          if (shared.isEmpty)
            st.df.get.join(broadcast(atomDf(a).limit(1)), lit(true), "left_anti")
          else st.df.get.join(atomDf(a), shared, "left_anti")))
      case Existence(a) =>
        val av = atomVarSeq(a)
        val shared = av.filter(st.bound.contains)
        st = st.copy(df = Some(
          if (shared.isEmpty)
            st.df.get.join(broadcast(atomDf(a).limit(1)), lit(true), "left_semi")
          else st.df.get.join(atomDf(a), shared, "left_semi")))
      case Binding(out, value) =>
        st = st.copy(df = Some(st.df.get.withColumn(out, exprCol(value))),
          bound = st.bound + out)
      case RankBinding(out, key, desc) =>
        val keyCol = if (desc) exprCol(key).desc else exprCol(key).asc
        val ties = (st.bound -- Analyzer.exprVars(key) -- st.partition)
          .toSeq.sorted.map(col(_).asc)
        val w = Window.partitionBy(st.partition.map(col): _*)
          .orderBy(keyCol +: ties: _*)
        st = st.copy(df = Some(st.df.get.withColumn(out, row_number().over(w))),
          bound = st.bound + out)
      case Compare(op, l, r) =>
        st = st.copy(df = Some(st.df.get.filter(cmpCol(op, exprCol(l), exprCol(r)))))
      case Filter(e) =>
        st = st.copy(df = Some(st.df.get.filter(exprCol(e))))
      case Ensure(e) =>
        // `ensure X` throws if not X (draft:111). assert_true raises on
        // the first failing row and returns NULL on success; keeping it
        // inside a filter (always-true) stops Catalyst from pruning the
        // check away while letting every row flow through.
        val ok = coalesce(exprCol(e), lit(false))
        st = st.copy(df = Some(st.df.get.filter(
          assert_true(ok, lit("ensure failed: rule-body constraint violated")).isNull)))
      case Mutation(kind, _) =>
        throw Analyzer.AnalysisError(
          s"@$kind queries execute via HeroQL.executeMutation, not plan()")
      case Partition(vars) =>
        st = st.copy(partition = vars)
      case Aggregate(fn, v, v2, qs) =>
        if (qs.nonEmpty && fn != "approx_quantile" && fn != "approx_quantiles")
          throw Analyzer.AnalysisError(
            s"aggregate $fn takes no quantile literals")
        // two-variable sketch aggregates bind their result to the VALUE
        // variable; the key variable is consumed by the sketch
        val (outVar, agg): (String, Column) = (fn, v2) match {
          // bottom-k sample sketch at an ARBITRARY quantile point
          // (hq27's engine generalized): `approx_quantile(rid, v, p)`
          // binds the nearest-rank p-quantile estimate to the value
          // variable; the plural form takes several points and binds
          // an ARRAY (a21's multi-quantile shape, one sketch pass)
          case ("approx_quantile", Some(value)) =>
            if (qs.size != 1) throw Analyzer.AnalysisError(
              "approx_quantile needs (row-id, value, p) — exactly one quantile point")
            (value, graft.functions.KmvSketch.approxQuantile(col(v), col(value), qs.head))
          case ("approx_quantile", None) => throw Analyzer.AnalysisError(
            "approx_quantile needs (row-id, value, p) variables")
          case ("approx_quantiles", Some(value)) =>
            if (qs.isEmpty) throw Analyzer.AnalysisError(
              "approx_quantiles needs (row-id, value, p1, p2, ...) — at least one point")
            (value, graft.functions.KmvSketch.approxQuantiles(col(v), col(value), qs))
          case ("approx_quantiles", None) => throw Analyzer.AnalysisError(
            "approx_quantiles needs (row-id, value, p1, ...) variables")
          // bounded TUPLE sketch (a20's engine) as a language
          // aggregate: Σ over distinct keys of max(value) —
          // deterministic order statistics, so still oracle-strict
          case ("approx_sum_distinct", Some(value)) =>
            (value, graft.functions.KmvSketch.approxSumDistinct(col(v), col(value)))
          case ("approx_sum_distinct", None) => throw Analyzer.AnalysisError(
            "approx_sum_distinct needs (key, value) variables")
          // bounded bottom-k sample sketch (a21's engine) as a
          // language aggregate: median over the row multiset, the
          // first variable naming the ROW IDENTITY the sample hashes —
          // deterministic order statistics, so still oracle-strict
          case ("approx_median", Some(value)) =>
            (value, graft.functions.KmvSketch.approxMedian(col(v), col(value)))
          case ("approx_median", None) => throw Analyzer.AnalysisError(
            "approx_median needs (row-id, value) variables")
          case (other, Some(_)) => throw Analyzer.AnalysisError(
            s"aggregate $other takes exactly one variable")
          case ("average", None) => (v, avg(col(v)))
          case ("sum", None) => (v, sum(col(v)))
          case ("count", None) => (v, count(col(v)))
          case ("min", None) => (v, min(col(v)))
          case ("max", None) => (v, max(col(v)))
          case ("collect", None) => (v, sort_array(collect_list(col(v))))
          // bounded KMV distinct-count sketch (a18's engine) as a
          // language aggregate — deterministic, so still oracle-strict
          case ("approx_distinct", None) =>
            (v, graft.functions.KmvSketch.approxDistinct(col(v)))
          case (other, None) => throw Analyzer.AnalysisError(s"unknown aggregate $other")
        }
        val grouped = st.df.get.groupBy(st.partition.map(col): _*)
          .agg(agg.as(outVar))
        st = State(Some(grouped), st.partition.toSet + outVar, st.partition)
    }
    st.df.getOrElse(throw Analyzer.AnalysisError("empty rule body"))
  }

  /** `collection_query` pipeline (`Kernel/Drafts/draft:148-156`):
    * body → [partition_by top-k sample] → [group_by aggregation] →
    * [having] → [order_by] → [range_by slice]. Sorting is totalized with
    * the remaining columns ascending for deterministic, oracle-checkable
    * output; `range_by` is 1-based inclusive (`draft_students:53`
    * `range_by 1..1`). */
  def planCollection(cq: CollectionQuery): DataFrame = {
    var df = planConj(cq.body)
    var cols: Seq[String] = df.columns.toSeq

    cq.partitionBy.foreach { st =>
      val binds = st.items.collect { case b: CqBind => b }
      val keeps = st.items.collect { case CqVar(v) => v }
      binds match {
        case Seq(CqBind(out, "OrderByDesc", arg, Some(k))) =>
          val ties = (cols.toSet -- Analyzer.exprVars(arg) - st.key)
            .toSeq.sorted.map(col(_).asc)
          val w = Window.partitionBy(col(st.key))
            .orderBy(exprCol(arg).desc +: ties: _*)
          df = df.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= k)
            .withColumn(out, exprCol(arg))
          cols = keeps :+ out
          df = df.select(cols.map(col): _*)
        case other => throw Analyzer.AnalysisError(
          s"partition_by supports exactly one OrderByDesc(expr, k) sample, got $other")
      }
    }

    cq.groupBy.foreach { st =>
      val aggs = st.items.collect { case CqBind(out, fn, arg, _) =>
        val c = fn match {
          case "Average" => avg(exprCol(arg))
          case "Count" => count(exprCol(arg))
          case "Sum" => sum(exprCol(arg))
          case "Min" => min(exprCol(arg))
          case "Max" => max(exprCol(arg))
          case "Collect" => sort_array(collect_list(exprCol(arg)))
          case other => throw Analyzer.AnalysisError(s"unknown aggregation $other")
        }
        c.as(out)
      }
      if (aggs.isEmpty)
        throw Analyzer.AnalysisError("group_by needs at least one aggregation binding")
      df = df.groupBy(col(st.key)).agg(aggs.head, aggs.tail: _*)
      cols = st.key +: st.items.collect { case CqBind(out, _, _, _) => out }
      df = df.select(cols.map(col): _*)
    }

    cq.rangeAgg.foreach { st =>
      // the stage REPLACES the pipeline's aggregation (it is one), so
      // composing with the row-reshaping stages would be ambiguous
      if (cq.partitionBy.nonEmpty || cq.groupBy.nonEmpty)
        throw Analyzer.AnalysisError(
          "range_agg does not compose with partition_by/group_by")
      if (!cols.contains(st.probeVar)) throw Analyzer.AnalysisError(
        s"range_agg probe variable ${st.probeVar} is not bound by the body")
      val probeIds = cols.filterNot(_ == st.probeVar)
      if (probeIds.size != 1) throw Analyzer.AnalysisError(
        s"range_agg needs a body of exactly (id, ${st.probeVar}); got $cols")
      val decl = decls.getOrElse(st.rel,
        throw Analyzer.AnalysisError(s"range_agg over unknown relation ${st.rel}"))
      val bdf = boundRelation(st.rel)
      def physical(v: String): Column = {
        val i = decl.fields.indexWhere(_._1 == v)
        if (i < 0) throw Analyzer.AnalysisError(
          s"relation ${st.rel} has no field $v")
        col(bdf.columns(i))
      }
      val build = st.valVar match {
        case Some(v) => bdf.select(physical(st.tsVar).as("__ts"),
          physical(v).as("__v"))
        case None => bdf.select(physical(st.tsVar).as("__ts"))
      }
      val cnt = st.binds.filter(_.fn == "Count") match {
        case Seq(one) => one
        case other => throw Analyzer.AnalysisError(
          s"range_agg needs exactly one Count binding, got ${other.size}")
      }
      def valueBind(fn: String): Option[CqBind] =
        st.binds.filter(_.fn == fn) match {
          case Seq() => None
          case Seq(one) if st.valVar.nonEmpty => Some(one)
          case Seq(_) => throw Analyzer.AnalysisError(
            s"range_agg $fn needs a value field: range_agg Rel(ts, val) ...")
          case other => throw Analyzer.AnalysisError(
            s"range_agg supports at most one $fn binding, got ${other.size}")
        }
      val sumB = valueBind("Sum")
      val minB = valueBind("Min")
      val maxB = valueBind("Max")
      st.binds.filterNot(b => Set("Count", "Sum", "Min", "Max")(b.fn)) match {
        case Seq() => ()
        case other => throw Analyzer.AnalysisError(
          s"range_agg aggregates are Count/Sum/Min/Max (the commutative-" +
            s"monoid set the tree nodes carry); got ${other.map(_.fn).mkString(", ")}")
      }
      // the tree carries ONE (ts, val) build side, so every bind's
      // argument must name exactly the field it will actually aggregate
      // — Count over the ts (or val) field, Sum/Min/Max over the value
      // field. Without this check a bind like `s = Sum(otherVar)` would
      // silently aggregate the declared value field instead (the arg
      // used to be discarded): plausible numbers, wrong query.
      st.binds.foreach { b =>
        val allowed: Set[String] =
          if (b.fn == "Count") Set(st.tsVar) ++ st.valVar else st.valVar.toSet
        b.arg match {
          case Ast.EVar(v) if allowed(v) => ()
          case other => throw Analyzer.AnalysisError(
            s"range_agg ${b.fn} argument must be ${allowed.mkString(" or ")} " +
              s"(the declared ${st.rel}(${(st.tsVar +: st.valVar.toSeq).mkString(", ")}) fields); got $other")
        }
      }
      var out = graft.operators.RangeCount.rangeAggAll(df, build,
        probeIds.head, st.probeVar, "__ts", st.valVar.map(_ => "__v"),
        st.window)
      out = out.withColumnRenamed("n_events", cnt.out)
      Seq(sumB -> "sum_value", minB -> "min_value", maxB -> "max_value")
        .foreach { case (b, c) =>
          out = b match {
            case Some(bind) => out.withColumnRenamed(c, bind.out)
            case None => out.drop(c)
          }
        }
      df = out
      cols = probeIds.head +: st.binds.map(_.out)
    }

    cq.semDedup.foreach { st =>
      // like range_agg, the stage REPLACES the pipeline's row shape —
      // composing with the reshaping stages would be ambiguous
      if (cq.partitionBy.nonEmpty || cq.groupBy.nonEmpty || cq.rangeAgg.nonEmpty)
        throw Analyzer.AnalysisError(
          "semantic_dedup does not compose with partition_by/group_by/range_agg")
      if (!cols.contains(st.idVar) || !cols.contains(st.vecVar))
        throw Analyzer.AnalysisError(
          s"semantic_dedup(${st.idVar}, ${st.vecVar}): both variables must be bound by the body; body binds $cols")
      if (cols.size != 2) throw Analyzer.AnalysisError(
        s"semantic_dedup needs a body of exactly (${st.idVar}, ${st.vecVar}); got $cols")
      val outs = Seq(st.outCluster, st.outDupOf, st.outMaxCos)
      if (outs.distinct.size != 3 || outs.contains(st.idVar))
        throw Analyzer.AnalysisError(
          s"semantic_dedup output names must be distinct and differ from ${st.idVar}; got $outs")
      if (Set("cluster_id", "dup_of", "max_cos")(st.idVar))
        throw Analyzer.AnalysisError(
          s"semantic_dedup id variable ${st.idVar} collides with the stage's internal output names")
      if (st.tau.isNaN || st.tau > 1.0 || st.tau <= -1.0)
        throw Analyzer.AnalysisError(
          s"semantic_dedup threshold must be a cosine in (-1, 1]; got ${st.tau}")
      // plans to the LAYERED engine (√n centroids + exact-value
      // collapse) — the language route is the 100-TB shape by
      // construction; a rule-body pair join is never generated.
      // `against Rel(...)` routes to the INCREMENTAL engine instead:
      // the body is the arriving batch, Rel the corpus (centroids a
      // corpus artifact, precedence corpus membership — dd9c's shape)
      val engine = st.against match {
        case None =>
          graft.queries.Dedup.semanticDedupLayered(df.sparkSession, df,
            st.idVar, st.vecVar, st.tau)
        case Some((rel, f1, f2)) =>
          val decl = decls.getOrElse(rel, throw Analyzer.AnalysisError(
            s"semantic_dedup against unknown relation $rel"))
          val bdf = boundRelation(rel)
          def physical(v: String): Column = {
            val i = decl.fields.indexWhere(_._1 == v)
            if (i < 0) throw Analyzer.AnalysisError(
              s"relation $rel has no field $v")
            col(bdf.columns(i))
          }
          val corpus = bdf.select(physical(f1).as(st.idVar),
            physical(f2).as(st.vecVar))
          graft.queries.Dedup.semanticDedupIncremental(df.sparkSession,
            corpus, df, st.idVar, st.vecVar, st.tau)
      }
      df = engine
        .select(col(st.idVar), col("cluster_id").as(st.outCluster),
          col("dup_of").as(st.outDupOf), col("max_cos").as(st.outMaxCos))
      cols = Seq(st.idVar, st.outCluster, st.outDupOf, st.outMaxCos)
    }

    cq.nearDedup.foreach { st =>
      if (cq.partitionBy.nonEmpty || cq.groupBy.nonEmpty ||
          cq.rangeAgg.nonEmpty || cq.semDedup.nonEmpty || cq.nearest.nonEmpty)
        throw Analyzer.AnalysisError(
          "near_dedup does not compose with other pipeline stages")
      if (!cols.contains(st.idVar) || !cols.contains(st.textVar))
        throw Analyzer.AnalysisError(
          s"near_dedup(${st.idVar}, ${st.textVar}): both variables must be bound by the body; body binds $cols")
      if (cols.size != 2) throw Analyzer.AnalysisError(
        s"near_dedup needs a body of exactly (${st.idVar}, ${st.textVar}); got $cols")
      if (st.tau.isNaN || st.tau <= 0.0 || st.tau > 1.0)
        throw Analyzer.AnalysisError(
          s"near_dedup threshold must be a Jaccard similarity in (0, 1]; got ${st.tau}")
      val wantOuts = if (st.against.isEmpty) 3 else 2
      if (st.outs.size != wantOuts)
        throw Analyzer.AnalysisError(
          s"near_dedup ${if (st.against.isEmpty) "(self form) names (keeper_id, keeper_tokens, cluster_size)"
          else "(against form) names (corpus_id, jaccard)"} — expected $wantOuts output names, got ${st.outs}")
      if (st.outs.distinct.size != wantOuts || st.outs.contains(st.idVar))
        throw Analyzer.AnalysisError(
          s"near_dedup output names must be distinct and differ from ${st.idVar}; got ${st.outs}")
      val reserved = if (st.against.isEmpty)
        Set("keeper_id", "keeper_tokens", "cluster_size")
      else Set("corpus_id", "jaccard") // new_id IS the id slot here
      if (reserved(st.idVar))
        throw Analyzer.AnalysisError(
          s"near_dedup id variable ${st.idVar} collides with the stage's internal output names")
      // plans to the LAYERED engines — text never crosses an exchange
      // as key (the dd14c/dd6c discipline) from text, either form
      df = st.against match {
        case None =>
          graft.queries.Dedup.layeredLshKeeper(df.sparkSession, df,
              st.idVar, st.textVar, st.tau)
            .select(col(st.idVar), col("keeper_id").as(st.outs(0)),
              col("keeper_tokens").as(st.outs(1)),
              col("cluster_size").as(st.outs(2)))
        case Some((rel, f1, f2)) =>
          val decl = decls.getOrElse(rel, throw Analyzer.AnalysisError(
            s"near_dedup against unknown relation $rel"))
          val bdf = boundRelation(rel)
          def physical(v: String): Column = {
            val i = decl.fields.indexWhere(_._1 == v)
            if (i < 0) throw Analyzer.AnalysisError(
              s"relation $rel has no field $v")
            col(bdf.columns(i))
          }
          val corpus = bdf.select(physical(f1).as(st.idVar),
            physical(f2).as(st.textVar))
          graft.queries.Dedup.incrementalNearDedup(df.sparkSession,
              corpus, df, st.idVar, st.textVar, st.tau)
            .select(col("new_id").as(st.idVar),
              col("corpus_id").as(st.outs(0)),
              col("jaccard").as(st.outs(1)))
      }
      cols = st.idVar +: st.outs
    }

    cq.nearest.foreach { st =>
      if (cq.partitionBy.nonEmpty || cq.groupBy.nonEmpty ||
          cq.rangeAgg.nonEmpty || cq.semDedup.nonEmpty || cq.nearDedup.nonEmpty)
        throw Analyzer.AnalysisError(
          "nearest does not compose with other pipeline stages")
      if (!cols.contains(st.idVar) || !cols.contains(st.vecVar))
        throw Analyzer.AnalysisError(
          s"nearest(${st.idVar}, ${st.vecVar}): both variables must be bound by the body; body binds $cols")
      if (cols.size != 2) throw Analyzer.AnalysisError(
        s"nearest needs a body of exactly (${st.idVar}, ${st.vecVar}); got $cols")
      if (st.k <= 0 || st.nProbes <= 0) throw Analyzer.AnalysisError(
        s"nearest k and probes must be positive; got k=${st.k}, probes=${st.nProbes}")
      val outs = Seq(st.outProbe, st.outNeighbor, st.outCos, st.outRank)
      if (outs.distinct.size != 4) throw Analyzer.AnalysisError(
        s"nearest output names must be distinct; got $outs")
      // plans to the STORED-INDEX path: IVF-PQ index built once in a
      // session-temp table store partitioned by coarse list, probed
      // lists pruned statically, exact re-rank over the bounded
      // candidate set — the language route is index-backed by
      // construction, never a brute all-pairs cosine. `for Rel(...)`
      // supplies an explicit probe relation (probe vectors need not be
      // corpus members); otherwise the first-`probes`-ids convention.
      val spark = df.sparkSession
      // session-scoped store (see Planner.annIndexStore): repeated
      // executions hit the codebook-fp staleness guard instead of
      // rebuilding the index into a fresh leaked temp dir per call
      val store = Planner.annIndexStore(spark)
      val corpus = df.select(col(st.idVar).as("vec_id"),
        col(st.vecVar).as("embedding"))
      val topk = st.forRel match {
        case None =>
          graft.queries.Similarity.storedIvfPqTopKOn(spark, corpus,
            store, "ann_index", st.nProbes, st.k)
        case Some((rel, f1, f2)) =>
          val decl = decls.getOrElse(rel, throw Analyzer.AnalysisError(
            s"nearest for unknown relation $rel"))
          val bdf = boundRelation(rel)
          def physical(v: String): Column = {
            val i = decl.fields.indexWhere(_._1 == v)
            if (i < 0) throw Analyzer.AnalysisError(
              s"relation $rel has no field $v")
            col(bdf.columns(i))
          }
          val probesDf = bdf.select(physical(f1).as("vec_id"),
            physical(f2).as("embedding"))
          graft.queries.Similarity.storedIvfPqTopKFor(spark, corpus,
            probesDf, store, "ann_index", st.k)
      }
      df = topk
        .select(col("probe_id").as(st.outProbe),
          col("neighbor_id").as(st.outNeighbor),
          col("cos_sim").as(st.outCos), col("rank").as(st.outRank))
      cols = outs
    }

    cq.having.foreach { case Compare(op, l, r) =>
      df = df.filter(cmpCol(op, exprCol(l), exprCol(r)))
    }

    cq.orderBy.foreach { case (e, desc) =>
      val key = if (desc) exprCol(e).desc else exprCol(e).asc
      val ties = (cols.toSet -- Analyzer.exprVars(e)).toSeq.sorted.map(col(_).asc)
      df = df.orderBy(key +: ties: _*)
    }

    cq.rangeBy.foreach { case (a, b) =>
      if (cq.orderBy.isEmpty)
        throw Analyzer.AnalysisError("range_by requires an order_by")
      df = df.offset((a - 1).toInt).limit((b - a + 1).toInt)
    }

    df
  }

  private def isSelfRecursive(f: FuncDecl): Boolean =
    f.cases.exists(_.guards.exists {
      case a: Atom => a.rel == f.name
      case _ => false
    })

  /** Self-recursive moded func (`func Fib(in i, out o); case Fib(0, 1);
    * case Fib(i, o) :- Fib(i-1, a), Fib(i-2, b), o <- a + b` —
    * `Kernel/Drafts/draft:75-89`), evaluated DEMAND-DRIVEN as two
    * DataFrame fixpoints over the MEMO TABLE of distinct argument
    * values (the reference's cached-query memo, `Kernel/README.md:
    * 142-161`, applied to a function):
    *
    *  1. demand closure — which argument values are transitively needed
    *     (semi-naïve frontier expansion, like [[graft.operators
    *     .Fixpoint]]);
    *  2. resolution — base-case demands evaluate immediately; a
    *     recursive demand evaluates once every self-call dependency is
    *     resolved (one equi-join per self-call per round).
    *
    * Scale shape: state is the distinct-argument memo, never the
    * caller's rows; rounds = recursion DEPTH (inherent for a chain
    * dependency, same bound as any recursive CTE); the final memo joins
    * back to the caller broadcast. Case selection must be static (the
    * in-pattern + comparison guards decide which clause fires BEFORE
    * dependency values are known — true of the reference's samples,
    * where patterns/guards inspect the inputs only). */
  private def recursiveFuncAtom(st: State, f: FuncDecl, a: Atom): State = {
    val inIdxs = f.params.zipWithIndex.collect { case (("in", _), i) => i }
    val outIdxs = f.params.zipWithIndex.collect { case (("out", _), i) => i }
    if (inIdxs.isEmpty || outIdxs.size != 1)
      throw Analyzer.AnalysisError(
        s"${f.name}: recursive funcs need 'in' parameters and exactly one 'out'")
    val outIdx = outIdxs.head
    val outVar = a.args(outIdx) match {
      case TVar(v) => v
      case t => throw Analyzer.AnalysisError(s"${f.name}: out argument must be a variable, got $t")
    }
    val callerCols = inIdxs.map { i =>
      a.args(i) match {
        case TVar(v) => col(v)
        case TConst(l) => litOf(l)
        case TExpr(e) => exprColEnv(e, Map.empty)
        case t => throw Analyzer.AnalysisError(s"${f.name}: bad 'in' argument $t")
      }
    }
    val base = st.df.getOrElse(throw Analyzer.AnalysisError(
      s"${f.name}: func call needs prior bindings in the rule body"))
    // with no base case the demand graph can never resolve — fail before
    // any evaluation instead of spinning to the round cap
    if (!f.cases.exists(_.guards.forall {
      case a: Atom => a.rel != f.name
      case _ => true
    }))
      throw Analyzer.AnalysisError(s"${f.name}: recursive func has no base case")
    // null demand rows are excluded, not crashed on: a null argument
    // never matches the join-back key, so the caller row simply keeps a
    // null result — the same semantics every equi-join gives null keys.
    // The bigint cast is SQL CAST semantics: a fractional caller value
    // truncates on BOTH the demand and the join-back key (consistently
    // — row x=2.7 gets f(2)); funcs are declared over integer domains
    // and the memo keys follow the declaration.
    val inputs = base.select(callerCols.zipWithIndex.map { case (c, j) =>
      c.cast("bigint").as(s"__fin$j")
    }: _*).na.drop().distinct()
    val (memo, memoRows) = funcMemo(f, inIdxs, outIdx, inputs)
    val joinCond = callerCols.zipWithIndex.map { case (c, j) =>
      c.cast("bigint") === memo(s"__fin$j")
    }.reduce(_ && _)
    // the memo is broadcast-joined back to the caller only when its
    // MEASURED size fits one executor — the distributed path exists
    // precisely because the demand set outgrew the driver, so forcing
    // a broadcast there would OOM every executor at scale
    val joined = base.join(
        SizeGate.maybeBroadcast(memo, memoRows, 4000000L), joinCond, "left")
      .withColumn(outVar, col("__fout"))
      .drop(inIdxs.indices.map(j => s"__fin$j") :+ "__fout": _*)
    State(Some(joined), st.bound + outVar, st.partition)
  }

  /** The memo behind [[recursiveFuncAtom]]: inputs DF(__fin: bigint) →
    * DF(__fin, __fout).
    *
    * Two execution strategies, chosen by demand size:
    *  - inputs ≤ [[Planner.localMemoThreshold]]: the memo is METADATA-
    *    sized (distinct scalar arguments), so the closure + resolution
    *    run on the driver with the AST interpreter — rounds collapse to
    *    one broadcastable lookup table instead of 2·depth Spark jobs
    *    (~1s each locally). This is the same judgement call as
    *    broadcasting a small join side.
    *  - else: fully distributed dual fixpoint ([[funcMemoDistributed]]),
    *    correct for demand sets that don't fit one node.
    *
    * Returns the memo plus its measured row count so the caller can
    * size-gate the join-back broadcast. */
  private def funcMemo(f: FuncDecl, inIdxs: Seq[Int], outIdx: Int,
      inputs: DataFrame): (DataFrame, Long) = {
    val spark = inputs.sparkSession
    val nIn = inIdxs.size
    // the row cap is BYTE-derived: wider demand tuples lower it, so the
    // driver-side memo is bounded in heap, not just in rows
    val rowCap = (Planner.localMemoMaxBytes / ((nIn + 1L) * 8L)).toInt
    val threshold = math.min(Planner.localMemoThreshold, rowCap)
    val sample = inputs.limit(threshold + 1).collect()
    if (sample.length <= threshold) {
      val keys = sample.map(r => (0 until nIn).map(r.getLong).toList)
      val memo = funcMemoLocal(f, inIdxs, outIdx, keys)
      // values are uniformly long or double per func (promotion happens
      // during interpretation); split on the realized type
      import org.apache.spark.sql.types._
      val keyFields = (0 until nIn).map(j => StructField(s"__fin$j", LongType))
      def df(valueType: DataType, conv: Any => Any): DataFrame = {
        val rows = memo.toSeq.map { case (k, v) =>
          org.apache.spark.sql.Row.fromSeq(k ++ Seq(conv(v)))
        }
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1),
          StructType(keyFields :+ StructField("__fout", valueType)))
      }
      val built =
        if (memo.forall(_._2.isInstanceOf[Long])) df(LongType, identity)
        else if (memo.forall(v => v._2.isInstanceOf[Double] || v._2.isInstanceOf[Long]))
          df(DoubleType, { case d: Double => d; case l: Long => l.toDouble
            case o => throw Analyzer.AnalysisError(s"${f.name}: non-numeric memo value $o") })
        else df(StringType, String.valueOf)
      (built, memo.size.toLong)
    } else {
      // the result is localCheckpoint'ed by the fixpoint, so this count
      // reads materialized blocks — no recomputation
      val distributed = funcMemoDistributed(f, inIdxs, outIdx, inputs)
      (distributed, distributed.count())
    }
  }

  /** Driver-side recursive evaluation over the HeroQL expression AST:
    * memoized iterative DFS (explicit stack — no JVM recursion limit),
    * first-match-wins clause selection, cycle detection = the
    * reference's "calculating" guard per argument value. */
  private def funcMemoLocal(f: FuncDecl, inIdxs: Seq[Int], outIdx: Int,
      demands: Array[List[Long]]): collection.Map[List[Long], Any] = {
    def evalExpr(e: Expr, env: Map[String, Any]): Any = e match {
      case EVar(n) => env.getOrElse(n, throw Analyzer.AnalysisError(
        s"${f.name}: unbound variable $n in recursive case (only in-args and lets are available)"))
      case ELit(LInt(v)) => v
      case ELit(LDouble(v)) => v
      case ELit(LString(v)) => v
      case ELit(LBool(v)) => v
      case EUnary("-", x) => evalExpr(x, env) match {
        case l: Long => -l
        case d: Double => -d
        case o => throw Analyzer.AnalysisError(s"${f.name}: cannot negate $o")
      }
      case EUnary(op, _) => throw Analyzer.AnalysisError(s"unknown unary $op")
      case _: EConstruct => throw Analyzer.AnalysisError(
        s"${f.name}: union constructors are not supported inside recursive funcs")
      case _: ECall => throw Analyzer.AnalysisError(
        s"${f.name}: builtin calls are not supported inside recursive funcs")
      case EBinary(op, l, r) =>
        val (a, b) = (evalExpr(l, env), evalExpr(r, env))
        def num(x: Any): Double = x match {
          case l: Long => l.toDouble; case d: Double => d
          case o => throw Analyzer.AnalysisError(s"${f.name}: non-numeric operand $o")
        }
        (op, a, b) match {
          case ("+", x: Long, y: Long) => x + y
          case ("-", x: Long, y: Long) => x - y
          case ("*", x: Long, y: Long) => x * y
          // Spark's Column `/` is always floating-point division
          case ("/", _, _) => num(a) / num(b)
          case ("+", _, _) => num(a) + num(b)
          case ("-", _, _) => num(a) - num(b)
          case ("*", _, _) => num(a) * num(b)
          case (o, _, _) => throw Analyzer.AnalysisError(s"unknown operator $o")
        }
      case ECmp(op, l, r) => cmp(op, evalExpr(l, env), evalExpr(r, env))
      case EIn(x, es) =>
        es.exists(e => cmp("==", evalExpr(x, env), evalExpr(e, env)))
      case EAnd(l, r) => bool(evalExpr(l, env)) && bool(evalExpr(r, env))
      case EOr(l, r) => bool(evalExpr(l, env)) || bool(evalExpr(r, env))
      case ENot(x) => !bool(evalExpr(x, env))
      case EIf(c, t, e) =>
        if (bool(evalExpr(c, env))) evalExpr(t, env)
        else e.map(evalExpr(_, env)).getOrElse(true)
    }
    def bool(v: Any): Boolean = v match {
      case b: Boolean => b
      case o => throw Analyzer.AnalysisError(s"${f.name}: non-boolean condition $o")
    }
    def cmp(op: String, a: Any, b: Any): Boolean = {
      val c = (a, b) match {
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
        case (x: String, y: String) => x.compareTo(y)
        case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
        case _ => java.lang.Double.compare(
          a match { case l: Long => l.toDouble; case d: Double => d
            case o => throw Analyzer.AnalysisError(s"${f.name}: cannot compare $o") },
          b match { case l: Long => l.toDouble; case d: Double => d
            case o => throw Analyzer.AnalysisError(s"${f.name}: cannot compare $o") })
      }
      op match {
        case "==" => c == 0; case "!=" => c != 0; case "<" => c < 0
        case "<=" => c <= 0; case ">" => c > 0; case ">=" => c >= 0
      }
    }
    def litVal(l: Lit): Any = l match {
      case LInt(v) => v; case LDouble(v) => v
      case LString(v) => v; case LBool(v) => v
    }
    // in-pattern env for clause k over key v: TVar binds (repeated vars
    // must agree), TConst must match
    def patEnv(k: Int, v: List[Long]): Option[Map[String, Any]] = {
      var env = Map.empty[String, Any]
      val ok = inIdxs.zip(v).forall { case (i, x) =>
        f.cases(k).args(i) match {
          case TVar(n) if env.contains(n) => cmp("==", env(n), x)
          case TVar(n) => env += n -> x; true
          case TConst(l) => cmp("==", litVal(l), x)
          case TWildcard => true
          case t => throw Analyzer.AnalysisError(s"${f.name}: bad case pattern $t")
        }
      }
      if (ok) Some(env) else None
    }
    // which clause fires for key v (static selection — patterns and
    // comparison guards may inspect the inputs and input-derived lets,
    // never self-call results), or -1
    def caseFor(v: List[Long]): Int = f.cases.indices.indexWhere { k =>
      patEnv(k, v) match {
        case None => false
        case Some(env0) =>
          var env = env0
          f.cases(k).guards.forall {
            case Compare(op, l, r) => cmp(op, evalExpr(l, env), evalExpr(r, env))
            case Filter(e) => evalExpr(e, env) == true
            case Binding(out, value) =>
              // lets over statically-bound vars extend the selection env;
              // ones referencing self-call results are resolution-time only
              scala.util.Try(evalExpr(value, env)).foreach(x => env += out -> x)
              true
            case _ => true
          }
      }
    }
    def selfCallsOf(k: Int): Seq[Atom] = f.cases(k).guards.collect {
      case a: Atom if a.rel == f.name => a
    }
    val memo = scala.collection.mutable.HashMap.empty[List[Long], Any]
    val inProgress = scala.collection.mutable.HashSet.empty[List[Long]]
    demands.foreach { d =>
      // iterative memoized DFS: (key, depsPushed)
      val stack = scala.collection.mutable.Stack[(List[Long], Boolean)]((d, false))
      while (stack.nonEmpty) {
        val (v, depsPushed) = stack.pop()
        if (!memo.contains(v)) {
          val k = caseFor(v)
          if (k < 0) throw Analyzer.AnalysisError(
            s"${f.name}: no case matches argument $v")
          var env = patEnv(k, v).get
          def asKey(o: Any): Long = o match {
            case l: Long => l
            case d2: Double if d2.isWhole => d2.toLong // exact only —
            // silent truncation would memoize f(2) for a 2.7 demand
            case o2 => throw Analyzer.AnalysisError(
              s"${f.name}: non-integer self-call argument $o2")
          }
          def depKeyWith(a: Atom, e: Map[String, Any]): List[Long] =
            inIdxs.map(i => a.args(i) match {
              case TExpr(ex) => asKey(evalExpr(ex, e))
              case TVar(n) => asKey(e.getOrElse(n,
                throw Analyzer.AnalysisError(
                  s"${f.name}: self-call argument '$n' is not derivable from the inputs (bind it before the call)")))
              case TConst(l) => litVal(l).asInstanceOf[Long]
              case t => throw Analyzer.AnalysisError(s"${f.name}: bad self-call argument $t")
            }).toList
          // walk guards IN ORDER so a let bound before a self-call is in
          // scope for its key (a let needing a call RESULT fails its
          // trial evaluation harmlessly — the resolution phase below
          // re-runs bindings with dependency results bound)
          val deps = {
            var e = env
            val ks = Seq.newBuilder[List[Long]]
            f.cases(k).guards.foreach {
              case Binding(out, value) =>
                scala.util.Try(evalExpr(value, e)).foreach(r => e += out -> r)
              case a: Atom if a.rel == f.name => ks += depKeyWith(a, e)
              case _ => ()
            }
            ks.result()
          }
          val missing = deps.filterNot(memo.contains)
          if (missing.nonEmpty && !depsPushed) {
            if (!inProgress.add(v)) throw Analyzer.AnalysisError(
              s"${f.name}: cyclic recursion on argument $v (already calculating)")
            stack.push((v, true))
            missing.distinct.foreach(m => stack.push((m, false)))
          } else {
            if (missing.nonEmpty) throw Analyzer.AnalysisError(
              s"${f.name}: cyclic recursion on argument $v (already calculating)")
            inProgress.remove(v)
            // bind dep results, then run bindings in guard order
            selfCallsOf(k).zip(deps).foreach { case (a, dv) =>
              a.args(outIdx) match {
                case TVar(n) => env += n -> memo(dv)
                case t => throw Analyzer.AnalysisError(
                  s"${f.name}: self-call out must be a variable, got $t")
              }
            }
            var fromBind = Option.empty[Any]
            val caseOutVar = f.cases(k).args(outIdx) match {
              case TVar(n) => Some(n); case _ => None
            }
            f.cases(k).guards.foreach {
              case Binding(out, value) =>
                val x = evalExpr(value, env)
                if (caseOutVar.contains(out)) fromBind = Some(x) else env += out -> x
              case _ => ()
            }
            memo(v) = f.cases(k).args(outIdx) match {
              case TConst(l) => litVal(l)
              case TVar(n) => fromBind.orElse(env.get(n)).getOrElse(
                throw Analyzer.AnalysisError(s"${f.name}: out variable $n never assigned in case"))
              case t => throw Analyzer.AnalysisError(s"${f.name}: bad out pattern $t")
            }
          }
        }
      }
    }
    memo
  }

  /** Distributed dual fixpoint (closure + resolution) — the any-scale
    * path behind [[funcMemo]]. */
  private def funcMemoDistributed(f: FuncDecl, inIdxs: Seq[Int], outIdx: Int,
      inputs: DataFrame): DataFrame = {
    val maxRounds = 512
    val nIn = inIdxs.size
    val finNames = (0 until nIn).map(j => s"__fin$j")
    val fins = finNames.map(col)
    // per-case static metadata over prospective demand columns `__finJ`
    final case class CaseInfo(
        cond: Column,                          // this clause's own static condition
        env0: Map[String, Column],             // in-pattern bindings
        selfCalls: Seq[(Seq[Column], String)], // (dep key exprs, dep out var)
        guards: Seq[Item])
    val infos = f.cases.map { c =>
      var env = Map.empty[String, Column]
      var conds = Seq.empty[Column]
      inIdxs.zip(fins).foreach { case (i, fin) =>
        c.args(i) match {
          case TVar(v) if env.contains(v) => conds :+= (fin === env(v))
          case TVar(v) => env += v -> fin
          case TConst(l) => conds :+= (fin === litOf(l))
          case TWildcard => ()
          case t => throw Analyzer.AnalysisError(s"${f.name}: bad case pattern $t")
        }
      }
      val selfCalls = Seq.newBuilder[(Seq[Column], String)]
      c.guards.foreach {
        case at: Atom if at.rel == f.name =>
          val deps = inIdxs.map { i =>
            (at.args(i) match {
              case TExpr(e) => exprColEnv(e, env)
              case TVar(v) => env.getOrElse(v, col(v))
              case TConst(l) => litOf(l)
              case t => throw Analyzer.AnalysisError(s"${f.name}: bad self-call argument $t")
            }).cast("bigint")
          }
          val dv = at.args(outIdx) match {
            case TVar(v) => v
            case t => throw Analyzer.AnalysisError(s"${f.name}: self-call out must be a variable, got $t")
          }
          selfCalls += ((deps, dv))
        case Compare(op, l, r) =>
          conds :+= cmpCol(op, exprColEnv(l, env), exprColEnv(r, env))
        case Filter(e) =>
          conds :+= exprColEnv(e, env)
        case Binding(out, value) =>
          // fold lets into the env IN ORDER (the local path's caseFor
          // does the same): a later guard or self-call argument may
          // reference the let — skipping it here compiled `m > 0` to an
          // unresolvable col("m") on the distributed path only, so a
          // func worked under 100k demand and broke above it.
          // (outOf re-evaluates bindings with dependency results in
          // scope, overwriting these dep-less values before use.)
          env += out -> exprColEnv(value, env)
        case other => throw Analyzer.AnalysisError(
          s"${f.name}: unsupported guard $other in recursive func")
      }
      CaseInfo(conds.reduceOption(_ && _).getOrElse(lit(true)), env,
        selfCalls.result(), c.guards)
    }
    // first-match-wins: clause k fires iff its condition holds and no
    // earlier clause's does
    def effCond(k: Int): Column =
      infos.take(k).map(i => !i.cond).foldLeft(infos(k).cond)(_ && _)
    // out value of clause k given dependency bindings
    def outOf(k: Int, deps: Map[String, Column]): Column = {
      var env = infos(k).env0 ++ deps
      var fromBind = Option.empty[Column]
      val caseOutVar = f.cases(k).args(outIdx) match {
        case TVar(v) => Some(v); case _ => None
      }
      infos(k).guards.foreach {
        case Binding(out, value) =>
          val vc = exprColEnv(value, env)
          if (caseOutVar.contains(out)) fromBind = Some(vc) else env += out -> vc
        case _ => ()
      }
      f.cases(k).args(outIdx) match {
        case TConst(l) => litOf(l)
        case TVar(v) => fromBind.orElse(env.get(v)).getOrElse(
          throw Analyzer.AnalysisError(s"${f.name}: out variable $v never assigned in case"))
        case t => throw Analyzer.AnalysisError(s"${f.name}: bad out pattern $t")
      }
    }
    val recIdxs = infos.indices.filter(infos(_).selfCalls.nonEmpty)
    val baseIdxs = infos.indices.filterNot(infos(_).selfCalls.nonEmpty)
    // checked BEFORE the closure: with no base case the demand frontier
    // can never drain, so failing here beats spinning to the round cap
    if (baseIdxs.isEmpty)
      throw Analyzer.AnalysisError(s"${f.name}: recursive func has no base case")

    // ---- fixpoint 1: demand closure (semi-naïve) -----------------------
    def depsOf(d: DataFrame): DataFrame =
      recIdxs.flatMap { k =>
        infos(k).selfCalls.map { case (deps, _) =>
          d.filter(effCond(k)).select(deps.zip(finNames).map {
            case (dep, n) => dep.as(n)
          }: _*)
        }
      }.reduce(_ union _).distinct()
    var all = inputs.localCheckpoint(true)
    var frontier = all
    var round = 0
    while (frontier.take(1).nonEmpty && round < maxRounds) {
      frontier = depsOf(frontier).join(all, finNames, "left_anti")
        .distinct().localCheckpoint(true)
      all = all.union(frontier).localCheckpoint(true)
      round += 1
    }
    if (round >= maxRounds)
      throw Analyzer.AnalysisError(s"${f.name}: demand closure exceeded $maxRounds rounds")

    // ---- fixpoint 2: resolution ---------------------------------------
    val baseValue = baseIdxs.foldLeft(Option.empty[Column]) { (acc, k) =>
      Some(acc match {
        case None => when(effCond(k), outOf(k, Map.empty))
        case Some(c) => c.when(effCond(k), outOf(k, Map.empty))
      })
    }.getOrElse(throw Analyzer.AnalysisError(s"${f.name}: no base case"))
    var resolved = all
      .filter(baseIdxs.map(effCond).reduceOption(_ || _).getOrElse(lit(false)))
      .select(fins :+ baseValue.as("__fout"): _*).localCheckpoint(true)
    var unresolved = all.join(resolved, finNames, "left_anti").localCheckpoint(true)
    round = 0
    while (unresolved.take(1).nonEmpty && round < maxRounds) {
      val newlyResolved = recIdxs.map { k =>
        var cur = unresolved.filter(effCond(k))
        val deps = infos(k).selfCalls.zipWithIndex.map { case ((dep, dv), j) =>
          val r = resolved.select(
            finNames.map(n => col(n).as(s"__dk${j}_$n")) :+
              col("__fout").as(s"__dv$j"): _*)
          cur = cur.join(r, dep.zip(finNames).map { case (d, n) =>
            d === col(s"__dk${j}_$n")
          }.reduce(_ && _))
          dv -> col(s"__dv$j")
        }.toMap
        cur.select(fins :+ outOf(k, deps).as("__fout"): _*)
      }.reduce(_ union _).localCheckpoint(true)
      if (newlyResolved.take(1).isEmpty)
        throw Analyzer.AnalysisError(
          s"${f.name}: unresolvable demands (missing base case for some input?)")
      resolved = resolved.union(newlyResolved).localCheckpoint(true)
      unresolved = unresolved.join(newlyResolved, finNames, "left_anti")
        .localCheckpoint(true)
      round += 1
    }
    if (round >= maxRounds)
      throw Analyzer.AnalysisError(s"${f.name}: resolution exceeded $maxRounds rounds")
    resolved
  }

  /** Moded `func` call (`Kernel/Drafts/draft:75-89`): inline the case
    * clauses as a first-match-wins CASE chain over the caller's bound
    * columns. Scalar mode only (all `in` bound + one `out`); recursive
    * funcs are rejected (the reference's own recursion guard — use the
    * fixpoint evaluator). */
  private def funcAtom(st: State, f: FuncDecl, a: Atom): State = {
    if (isSelfRecursive(f)) return recursiveFuncAtom(st, f, a)
    val outIdxs = f.params.zipWithIndex.collect { case (("out", _), i) => i }
    if (outIdxs.size != 1)
      throw Analyzer.AnalysisError(s"${f.name}: exactly one 'out' parameter supported")
    val outIdx = outIdxs.head
    val outVar = a.args(outIdx) match {
      case TVar(v) => v
      case t => throw Analyzer.AnalysisError(s"${f.name}: out argument must be a variable, got $t")
    }
    val callerIn: Map[Int, Column] = f.params.zipWithIndex.collect {
      case (("in", _), i) => i -> (a.args(i) match {
        case TVar(v) => col(v)
        case TConst(l) => litOf(l)
        case TExpr(e) => exprColEnv(e, Map.empty)
        case t => throw Analyzer.AnalysisError(s"${f.name}: bad 'in' argument $t")
      })
    }.toMap

    if (f.cases.isEmpty)
      throw Analyzer.AnalysisError(s"${f.name}: func has no case clauses")

    // one (condition, value) per case
    val clauses = f.cases.map { c =>
      if (c.args.size != f.params.size)
        throw Analyzer.AnalysisError(s"${f.name}: case arity mismatch")
      var env = Map.empty[String, Column]
      var conds = Seq.empty[Column]
      callerIn.foreach { case (i, callerCol) =>
        c.args(i) match {
          case TVar(v) =>
            if (env.contains(v)) conds :+= (callerCol === env(v))
            else env += v -> callerCol
          case TConst(l) => conds :+= (callerCol === litOf(l))
          case TWildcard => ()
          // runtime-type dispatch (`Kernel/Drafts/draft_type:218-311`):
          // the clause fires when the union-typed argument's tag matches
          // the variant; the pattern variable binds the variant payload
          case TTyped(v, variant) =>
            val tag = variantTags.getOrElse(variant, throw Analyzer.AnalysisError(
              s"${f.name}: unknown union variant $variant"))
            conds :+= graft.types.UnionType.isVariant(callerCol, tag)
            env += v -> graft.types.UnionType.variant(callerCol, tag)
          case t => throw Analyzer.AnalysisError(s"${f.name}: bad case pattern $t")
        }
      }
      // guards: comparisons → conditions; bindings → extend env (a
      // recursive self-call inside a guard is rejected)
      var outExprFromGuard: Option[Column] = None
      val caseOutVar = c.args(outIdx) match {
        case TVar(v) => Some(v)
        case _ => None
      }
      c.guards.foreach {
        case Compare(op, l, r) =>
          conds :+= cmpCol(op, exprColEnv(l, env), exprColEnv(r, env))
        case Filter(e) =>
          conds :+= exprColEnv(e, env)
        case Binding(out, value) =>
          val vc = exprColEnv(value, env)
          if (caseOutVar.contains(out)) outExprFromGuard = Some(vc)
          else env += out -> vc
        case at: Atom if at.rel == f.name =>
          throw Analyzer.AnalysisError(
            s"recursive func ${f.name}: already calculating (use the fixpoint evaluator)")
        case other => throw Analyzer.AnalysisError(
          s"${f.name}: unsupported guard $other (only comparisons and bindings)")
      }
      val value = c.args(outIdx) match {
        case TConst(l) => litOf(l)
        case TVar(v) =>
          outExprFromGuard.orElse(env.get(v)).getOrElse(
            throw Analyzer.AnalysisError(s"${f.name}: out variable $v never assigned in case"))
        case t => throw Analyzer.AnalysisError(s"${f.name}: bad out pattern $t")
      }
      (conds.reduceOption(_ && _), value)
    }

    val chain = clauses.foldLeft(Option.empty[Column]) {
      case (acc, (condOpt, value)) =>
        val cond = condOpt.getOrElse(lit(true))
        Some(acc match {
          case None => when(cond, value)
          case Some(c) => c.when(cond, value)
        })
    }.get

    State(Some(st.df.getOrElse(throw Analyzer.AnalysisError(
      s"${f.name}: func call needs prior bindings in the rule body"))
      .withColumn(outVar, chain)),
      st.bound + outVar, st.partition)
  }

  /** Expr → Column with a substitution environment (used by func
    * inlining; defaults to column references). */
  private def exprColEnv(e: Expr, env: Map[String, Column]): Column = e match {
    // dotted name = struct field access (`c.r` on a variant payload
    // bound by a runtime-type pattern); the base resolves through the
    // env first so payload bindings work, then falls back to a column
    // reference (Spark's col() itself resolves nested fields)
    case EVar(n) if n.contains(".") && env.contains(n.takeWhile(_ != '.')) =>
      n.split('.').toSeq.tail.foldLeft(env(n.takeWhile(_ != '.')))(_.getField(_))
    case EVar(n) => env.getOrElse(n, col(n))
    case ELit(l) => litOf(l)
    // `Circle{ r = x }`: construct the frozen tagged-union struct —
    // active slot from the declared payload schema, inactive slots as
    // TYPED null structs so the encoding is schema-stable row-to-row
    case EConstruct(variant, fieldExprs) =>
      val (tag, u) = variantInfo.getOrElse(variant,
        throw Analyzer.AnalysisError(s"unknown union variant $variant"))
      val slots = u.variants.zipWithIndex.map { case (v, j) =>
        if (v.fields.isEmpty)
          throw Analyzer.AnalysisError(
            s"union ${u.name}: variant ${v.name} declares no payload fields — constructors need them")
        if (j == tag) {
          val given = fieldExprs.toMap
          struct(v.fields.map { case (fn, ft) =>
            given.getOrElse(fn, throw Analyzer.AnalysisError(
              s"$variant{...}: missing field $fn"))
            match { case e => exprColEnv(e, env).cast(sparkType(ft)).as(fn) }
          }: _*).as(s"v$j")
        } else {
          val tpe = v.fields.map { case (fn, ft) => s"$fn: ${sparkType(ft)}" }
            .mkString("struct<", ", ", ">")
          lit(null).cast(tpe).as(s"v$j")
        }
      }
      struct(lit(tag).cast("int").as("tag") +: slots: _*)
    case EUnary("-", x) => -exprColEnv(x, env)
    case EUnary(op, _) => throw Analyzer.AnalysisError(s"unknown unary $op")
    case EBinary(op, l, r) =>
      val (lc, rc) = (exprColEnv(l, env), exprColEnv(r, env))
      op match {
        case "+" => lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" => lc / rc
        case other => throw Analyzer.AnalysisError(s"unknown operator $other")
      }
    // `$"... $(x) ..."` → one concat; splices cast to string so the
    // whole expression stays codegen-friendly
    case EInterp(parts) =>
      concat(parts.map {
        case Left(s) => lit(s)
        case Right(e) => exprColEnv(e, env).cast("string")
      }: _*)
    case ECall(fn, args) => Builtins.plan(fn, args.map(exprColEnv(_, env)))
    case ECmp(op, l, r) => cmpCol(op, exprColEnv(l, env), exprColEnv(r, env))
    // `isin` plans Catalyst `In`: parquet pushdown and the AutoSkip
    // manifest probe both key on that node
    case EIn(x, es) =>
      exprColEnv(x, env).isin(es.map(exprColEnv(_, env)): _*)
    case EAnd(l, r) => exprColEnv(l, env) && exprColEnv(r, env)
    case EOr(l, r) => exprColEnv(l, env) || exprColEnv(r, env)
    case ENot(x) => !exprColEnv(x, env)
    // boolean `if c then t [else e]`: with no else the construct
    // "returns true" when the condition fails (draft:108) — implication
    case EIf(c, t, e) =>
      when(exprColEnv(c, env), exprColEnv(t, env))
        .otherwise(e.map(exprColEnv(_, env)).getOrElse(lit(true)))
  }

  private def cmpCol(op: String, lc: Column, rc: Column): Column = op match {
    case "==" => lc === rc
    case "!=" => lc =!= rc
    case "<" => lc < rc
    case "<=" => lc <= rc
    case ">" => lc > rc
    case ">=" => lc >= rc
    case other => throw Analyzer.AnalysisError(s"unknown comparison $other")
  }

  private def joinIn(st: State, right: DataFrame, rightVars: Seq[String]): State = {
    val merged = st.df match {
      case None => right
      case Some(left) =>
        val shared = rightVars.filter(st.bound.contains)
        if (shared.nonEmpty) left.join(right, shared)
        else left.crossJoin(right)
    }
    State(Some(merged), st.bound ++ rightVars, st.partition)
  }

  private def atomVarSeq(a: Atom): Seq[String] =
    a.args.collect { case TVar(v) => v }.distinct

  /** Atom → scan with constants as pushed filters, wildcards dropped,
    * repeated variables as equality filters, fields renamed to rule
    * variables. An atom naming another `query` inlines that derived
    * relation's plan (view expansion). */
  private def atomDf(a: Atom): DataFrame = {
    val (fields, base) = decls.get(a.rel) match {
      case Some(d) =>
        (d.fields.map(_._1), edbCache.getOrElse(a.rel, relation(a.rel).getOrElse(
          throw Analyzer.AnalysisError(s"relation ${a.rel} not bound in catalog"))))
      case None =>
        val q = queryDecls.getOrElse(a.rel,
          throw Analyzer.AnalysisError(s"unknown relation ${a.rel}"))
        val fs = (q.inArgs ++ q.outArgs).map(_._1)
        // inside a recursive alternative, the self-atom is the loop
        // state (delta/accumulator), never a plan() re-entry
        val df = recursionBinding.getOrElse(a.rel, {
          // demand-driven recursion: every constant argument becomes a
          // demand — planFixpoint seeds invariant positions directly
          // and routes the rest through the magic-sets restriction
          // (falling back to the full loop when ineligible); the
          // constant filters below then no-op on the already-restricted
          // result (or apply the final slice after a fallback)
          val demand =
            if (selfRefCount(q.body, q.name, through = false) > 0)
              a.args.zipWithIndex.collect {
                case (TConst(l), i) => fs(i) -> l
              }
            else Nil
          if (demand.nonEmpty) fixpointFor(q, demand) else plan(q)
        })
        (fs, df)
    }
    var df = base
    val firstFieldOfVar = scala.collection.mutable.Map.empty[String, String]
    a.args.zip(fields).foreach {
      case (TConst(l), f) => df = df.filter(col(f) === litOf(l))
      case (TVar(v), f) =>
        firstFieldOfVar.get(v) match {
          case Some(f0) => df = df.filter(col(f) === col(f0))
          case None => firstFieldOfVar(v) = f
        }
      case (TWildcard, _) => ()
      case (t, f) => throw Analyzer.AnalysisError(
        s"relation atom ${a.rel}: unsupported argument $t for field $f — " +
          "bind the value to a variable first (v <- expr), then use the variable")
    }
    df.select(firstFieldOfVar.toSeq.map { case (v, f) => col(f).as(v) }: _*)
  }

  private def litOf(l: Lit): Column = l match {
    case LInt(v) => lit(v)
    case LDouble(v) => lit(v)
    case LString(v) => lit(v)
    case LBool(v) => lit(v)
  }

  // rule-body expressions delegate to the env-aware translator with an
  // empty environment (column references + constructors included)
  private def exprCol(e: Expr): Column = exprColEnv(e, Map.empty)
}

object Planner {
  /** SESSION-SCOPED store root for the `nearest` stage's IVF-PQ index
    * (r20, the r19 verdict's top item): the stage used to create a
    * fresh temp directory and TableStore per compilation, so the
    * codebook-fingerprint staleness guard
    * (Similarity.storedIvfPqTopKFor) could never hit — the index was
    * rebuilt on every execution and the directory leaked. One store
    * per SparkSession (weak-keyed, like VectorFns.registered) lets the
    * SECOND execution of the same `nearest` query reuse the committed
    * index (the guard rebuilds if the corpus — hence the codebooks —
    * changed, so reuse is exactly as safe as the Scala API's). */
  // maps the session to the store's ROOT PATH, not a TableStore (r20
  // ADVICE, medium): a TableStore value strongly references its session
  // (TableStore.spark), which would pin the WeakHashMap key forever —
  // sessions and stores leaking for the JVM lifetime. The store is
  // reconstructed on demand over the same root; table manifests live on
  // disk, so a fresh instance sees every previously committed index.
  private val annIdxRoots = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, String]())

  private[graft] def annIndexStore(
      spark: org.apache.spark.sql.SparkSession): graft.store.TableStore = {
    val root = annIdxRoots.synchronized {
      var r = annIdxRoots.get(spark)
      if (r == null) {
        r = java.nio.file.Files
          .createTempDirectory("graft-hql-annidx-").toString
        annIdxRoots.put(spark, r)
      }
      r
    }
    new graft.store.TableStore(spark, root)
  }

  /** Demand-closure size under which recursive-func memos are computed
    * driver-side (see [[Planner.funcMemo]]) — the broadcast-small-side
    * judgement call. Mutable so specs can force the distributed path. */
  private[graft] var localMemoThreshold: Int = 100000

  /** Heap budget for the driver-side memo: the effective row cap is
    * `maxBytes / tupleBytes`, so multi-argument funcs (wider demand
    * tuples) flip to the distributed fixpoint sooner. 16 MB ≈ 100k
    * three-long tuples — the same ceiling as the row threshold at
    * hq12's shape. */
  private[graft] var localMemoMaxBytes: Long = 16L << 20

  /** EDB relations at most this big (Catalyst plan-stats estimate, no
    * scan) are materialized once for a fixpoint loop; bigger ones stay
    * lazy and re-scan their source per round — at 100 TB, copying an
    * input table to executor storage costs more than the pushdown-
    * pruned parquet re-scans it would save. 2 GiB ≈ the working-set
    * size where a cluster-wide MEMORY_AND_DISK copy is still clearly
    * cheaper than depth× re-scans. Mutable so specs can force the
    * lazy path. */
  private[graft] var edbCacheMaxBytes: Long = 2L << 30

  /** Field names of the demand constants the most recent fixpoint was
    * seeded with (empty = full evaluation) — observability for specs
    * asserting the seeded path actually engaged vs fell back. */
  private[graft] var lastFixpointDemand: Seq[String] = Nil

  /** Total accumulated (delta-union) rows of the most recent fixpoint —
    * observability for specs asserting a demand restriction actually
    * shrank the evaluated set, not just the projected result. Gated:
    * the per-delta counts are cheap (checkpointed blocks) but still one
    * Spark job each — production fixpoints must not pay rounds-many
    * extra jobs for a spec-only counter. */
  private[graft] var fixpointStatsEnabled: Boolean = false
  private[graft] var lastFixpointAccRows: Long = -1L

  /** Per-round phase timing to stdout (plan-build / job / probe) for
    * profiling the fixpoint's fixed per-round overhead. Env-gated so
    * production runs pay nothing. */
  private[graft] val fixpointTraceEnabled: Boolean =
    sys.env.contains("GRAFT_FIXPOINT_TRACE")

  /** Logical derivation steps chained lazily per materialized fixpoint
    * round. Profiling showed the per-round except+checkpoint job is the
    * fixed cost (~0.55s at sf0.1, vs <50ms of planning); batching B
    * steps per job divides the job count by B for depth-bound
    * recursions. Bounded small: each chained step inlines the previous
    * step's plan, so B also multiplies the closing job's plan depth —
    * measured on hq21 warm at sf0.01: B=1 3.9s, B=2 3.0s, B=3 2.6s,
    * B=4 3.2s (the deeper plan's Catalyst cost eats the scheduling
    * savings past 3). Mutable so specs can pin 1 (the classic
    * one-step semi-naïve) and assert result parity. */
  private[graft] var fixpointBatchRounds: Int = 3

  /** Round cap for the rule fixpoint — a diagnostic backstop against
    * value-generating recursion (x <- y + 1 derives a fresh tuple every
    * round forever: the domain is infinite, there is no least fixpoint
    * to reach), which must surface as a clear error rather than a
    * silent partial result. The semi-naïve loop advances ONE derivation
    * step per round (not doubling), so the cap bounds recursion DEPTH:
    * 512 covers any hierarchy/org-chart/BOM-shaped data by orders of
    * magnitude while still failing a divergent query in bounded time;
    * a legitimate deeper chain can raise it (mutable; specs lower it
    * to trip the diagnostic fast). */
  private[graft] var fixpointMaxIter: Int = 512

  /** Spark type → HeroQL type name — the inverse of [[sparkType]],
    * for data declarations synthesized from stored Parquet schemas
    * (package-instance globals). */
  private[heroql] def heroType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "int64"
      case IntegerType => "int32"
      case ShortType => "int16"
      case ByteType => "int8"
      case DoubleType => "double"
      case FloatType => "float32"
      case StringType => "string"
      case BooleanType => "bool"
      case other => other.sql.toLowerCase
    }
  }

  /** HeroQL type name → Spark SQL type name (SURVEY §1.2 mapping). */
  private[heroql] def sparkType(t: String): String = t match {
    case "int" | "int32" => "int"
    case "int64" | "long" => "bigint"
    case "int8" => "tinyint"
    case "int16" => "smallint"
    case "uint8" | "uint16" => "int"
    case "uint32" | "uint64" => "bigint"
    case "double" | "float64" => "double"
    case "float" | "float32" => "float"
    case "string" | "char" => "string"
    case "bool" => "boolean"
    case other => other
  }
}

/** Facade: parse + analyze + plan one named query of a HeroQL program
  * against a catalog of table bindings. */
object HeroQL {
  /** [[compile]] over frames that are already built (never plan-cached). */
  def compile(program: String, queryName: String,
      catalog: Map[String, DataFrame]): DataFrame =
    compile(sessionOf(catalog), program, queryName, Catalog.of(catalog))

  /** Parse, analyze and plan query `queryName` of `program`, forcing only
    * the catalog bindings the query reaches.
    *
    * A catalog with an id compiles once per (program, query, catalog,
    * input snapshot), not once per call. The analyzed plan is cached
    * under:
    *  - the session, held weakly and compared by identity;
    *  - the program text and the query name;
    *  - the catalog id;
    *  - every SQL conf the session has set.
    * A hit re-lists the root paths of each file scan in the plan and
    * compares them with that scan's file index (path, length, mtime);
    * any difference is a miss. A hit returns a new DataFrame over a copy
    * of the analyzed plan: optimization, physical planning and execution
    * run afresh on every call. It is a plan cache, not a result cache.
    *
    * Never cached: a compile that launched a Spark job (recursive rules
    * and magic sets, whose leaves are checkpointed RDDs; `nearest` and
    * the other eager stages; recursive funcs whose memo is collected into
    * literals), and a plan with any leaf other than a file scan, `Range`
    * or `OneRowRelation` (streaming sources, in-memory rows). The cache
    * is a bounded LRU; [[PlanCache]] counts its hits and misses. */
  def compile(spark: SparkSession, program: String, queryName: String,
      catalog: Catalog): DataFrame =
    PlanCache(spark, program, s"query $queryName", catalog) {
      val ast = Parser.parse(program)
      val decls = ast.datas.map(d => d.name -> d).toMap
      val queryDecls = ast.queries.map(q => q.name -> q).toMap
      val funcs = ast.funcs.map(f => f.name -> f).toMap
      val unions = ast.unions.map(u => u.name -> u).toMap
      val q = ast.queries.find(_.name == queryName)
        .getOrElse(throw Analyzer.AnalysisError(s"no query named $queryName"))
      Analyzer.analyze(decls, queryDecls, q, funcs)
      new Planner(spark, decls, queryDecls, catalog, funcs, unions).plan(q)
    }

  /** The session of a catalog's frames, else the active one. */
  private def sessionOf(frames: Map[String, DataFrame]): SparkSession =
    frames.values.headOption.map(_.sparkSession).getOrElse(SparkSession.active)

  /** Compile with cached-query support (`cached query Name ...` —
    * `Kernel/README.md:142-161`): a query declared `cached` serves from
    * the store-materialized memo, computing it once; `uncache` via
    * [[QueryCache.uncache]]. Non-cached queries compile as usual. */
  def compileCached(program: String, queryName: String,
      catalog: Map[String, DataFrame], cache: QueryCache): DataFrame = {
    val ast = Parser.parse(program)
    val decl = ast.queries.find(_.name == queryName)
      .getOrElse(throw Analyzer.AnalysisError(s"no query named $queryName"))
    if (decl.cached) cache.cached(queryName)(compile(program, queryName, catalog))
    else compile(program, queryName, catalog)
  }

  /** Execute an `uncache Name.` statement (M4,
    * `Kernel/Drafts/draft:135-136`): drops the materialization; the
    * next `cached query` evaluation recomputes. */
  def executeUncache(statement: String, cache: QueryCache): Unit =
    cache.uncache(Parser.parseUncache(statement))

  /** Point lookup on a `cached query` with an `index` declaration
    * (`Kernel/README.md:142-157`): `provided` binds in-argument values;
    * when they cover a declared index the memo serves/extends per index
    * value (see [[QueryCache.cachedIndexed]] for the cover analysis).
    * The demanded constants are filters on the compiled plan, so a miss
    * computes only its slice (pushed into the scan by Catalyst). */
  def compileCachedLookup(program: String, queryName: String,
      catalog: Map[String, DataFrame], cache: QueryCache,
      provided: Map[String, Any]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val ast = Parser.parse(program)
    val decl = ast.queries.find(_.name == queryName)
      .getOrElse(throw Analyzer.AnalysisError(s"no query named $queryName"))
    def slice(bound: Map[String, Any]): DataFrame = {
      val df = compile(program, queryName, catalog)
      bound.foldLeft(df) { case (d, (c, v)) => d.filter(col(c) === lit(v)) }
    }
    val indexes = ast.indexes.filter(_.target == queryName).flatMap(_.specs.map(_._2))
    if (!decl.cached || indexes.isEmpty) slice(provided)
    else cache.cachedIndexed(queryName, indexes, provided)(slice)
  }

  /** Compile a standalone `collection_query ... ;` against the data
    * declarations of `program` and a catalog of table bindings. */
  def compileCollection(program: String, cqSrc: String,
      catalog: Map[String, DataFrame]): DataFrame =
    compileCollection(sessionOf(catalog), program, cqSrc, Catalog.of(catalog))

  /** [[compileCollection]] over a lazy catalog, plan-cached under the
    * collection-query text as [[compile]] caches under the query name. */
  def compileCollection(spark: SparkSession, program: String, cqSrc: String,
      catalog: Catalog): DataFrame =
    PlanCache(spark, program, s"collection $cqSrc", catalog) {
      val ast = Parser.parse(program)
      val decls = ast.datas.map(d => d.name -> d).toMap
      val queryDecls = ast.queries.map(q => q.name -> q).toMap
      val funcs = ast.funcs.map(f => f.name -> f).toMap
      val cq = Parser.parseCollection(cqSrc)
      Analyzer.analyzeConj(decls, queryDecls, cq.body, Set.empty, funcs)
      new Planner(spark, decls, queryDecls, catalog, funcs).planCollection(cq)
    }

  /** Execute a mutation query (`@insert` / `@update` / `@remove`,
    * `Kernel/README.md:210-234`) against a [[graft.store.TableStore]]
    * table named after the mutated relation. The caller supplies the
    * query's in-arguments as a DataFrame whose columns are the in-arg
    * names (the reference's procedure-call form, bulk: one mutation per
    * args row, applied as a single atomic commit — the `for query (set)`
    * pattern `Kernel/Drafts/draft:138-142` lowered to one merge, never
    * row-at-a-time). */
  def executeMutation(program: String, queryName: String,
      args: DataFrame, store: graft.store.TableStore): Unit = {
    val ast = Parser.parse(program)
    val decls = ast.datas.map(d => d.name -> d).toMap
    val queryDecls = ast.queries.map(q => q.name -> q).toMap
    val q = ast.queries.find(_.name == queryName)
      .getOrElse(throw Analyzer.AnalysisError(s"no query named $queryName"))
    Analyzer.analyze(decls, queryDecls, q)
    val item = q.body.alts match {
      case Seq(Conj(Seq(m: Mutation))) => m
      case _ => throw Analyzer.AnalysisError(
        s"$queryName: mutation queries must have exactly one @-statement body")
    }
    store.transaction(applyMutation(_, decls, item, args, uniqueIndexes(ast)))
  }

  /** `index T { Unique(cols…) }` declarations targeting DATA relations
    * — the reference's Unique index kind (`Kernel/README.md:64-74`),
    * enforced at @insert as admission control (the
    * [[graft.store.CheckConstraints]] semantics reached from the
    * language surface). */
  private def uniqueIndexes(ast: Program): Map[String, Seq[Seq[String]]] = {
    val dataNames = ast.datas.map(_.name).toSet
    ast.indexes.filter(ix => dataNames.contains(ix.target))
      .flatMap(ix => ix.specs.collect {
        case ("Unique", cols) => ix.target -> cols
      })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  /** One mutation item applied through the transaction's file-level COW
    * primitives; `args` supplies one mutation per row (bulk, never
    * row-at-a-time). Shared by [[executeMutation]],
    * [[executeTransaction]] and [[executeFor]]. */
  private def applyMutation(tx: graft.store.Txn,
      decls: Map[String, DataDecl], item: Mutation, args: DataFrame,
      uniques: Map[String, Seq[Seq[String]]] = Map.empty): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    val decl = decls.getOrElse(item.atom.rel, throw Analyzer.AnalysisError(
      s"@${item.kind} targets undeclared relation ${item.atom.rel}"))
    val fields = decl.fields.map(_._1)
    // casts come from the DECLARED field types, so inserts into a
    // not-yet-materialized table are well-typed
    val fieldType = decl.fields.map { case (f, t) =>
      f -> Planner.sparkType(t)
    }.toMap
    val table = item.atom.rel
    def litOf(l: Lit) = l match {
      case LInt(v) => lit(v)
      case LDouble(v) => lit(v)
      case LString(v) => lit(v)
      case LBool(v) => lit(v)
    }
    item.kind match {
      case "insert" =>
        val cols = item.atom.args.zip(fields).map {
          case (TVar(v), f) => col(v).cast(fieldType(f)).as(f)
          case (TConst(l), f) => litOf(l).cast(fieldType(f)).as(f)
          // computed argument (`set Bonus(student, score + 1000)`)
          case (TExpr(e), f) =>
            new Planner(args.sparkSession, decls, Map.empty, Catalog.of(Map.empty))
              .exprColPublic(e).cast(fieldType(f)).as(f)
          case (t, f) => throw Analyzer.AnalysisError(s"bad @insert term $t for $f")
        }
        val incoming = args.select(cols: _*)
        val keyed = uniques.getOrElse(table, Seq.empty)
        if (keyed.isEmpty) {
          // the unified write path: declared store constraints gate the
          // batch and registered materialized views refresh in the SAME
          // commit — the language's @insert composes with the store's
          // registries exactly like the API write-through
          graft.store.WritePath.insert(tx, table, incoming)
        } else {
          // a declared Unique index gates the insert: batch-internal
          // duplicates and clashes with committed keys both reject the
          // WHOLE batch before anything lands (admission control, not
          // after-the-fact validation). Batch pinned once — validated
          // rows are the written rows.
          val pinned = incoming.localCheckpoint()
          keyed.foreach { keyCols =>
            val dupIn = pinned.groupBy(keyCols.map(col): _*)
              .count().filter(col("count") > 1).count()
            if (dupIn > 0) throw Analyzer.AnalysisError(
              s"Unique(${keyCols.mkString(", ")}) on $table: " +
                s"$dupIn duplicated key(s) within the inserted batch")
            if (tx.exists(table)) {
              val clash = pinned.join(
                tx.read(table).select(keyCols.map(col): _*),
                keyCols, "left_semi").count()
              if (clash > 0) throw Analyzer.AnalysisError(
                s"Unique(${keyCols.mkString(", ")}) on $table: " +
                  s"$clash inserted key(s) already present")
            }
          }
          graft.store.WritePath.insert(tx, table, pinned, alreadyPinned = true)
        }
      case "remove" =>
        val keyPairs = item.atom.args.zip(fields).collect { case (TVar(v), f) => (v, f) }
        val constCond = item.atom.args.zip(fields).collect {
          case (TConst(l), f) => col(f) === litOf(l)
        }.reduceOption(_ && _)
        val keys = args
          .select(keyPairs.map { case (v, f) => col(v).cast(fieldType(f)).as(f) }: _*)
          .distinct()
        val keyFields = keyPairs.map(_._2)
        // file-level COW: only data dirs holding a doomed row are rewritten
        val hit = constCond.map(c => coalesce(c, lit(false)))
        def doomed(df: DataFrame): DataFrame =
          hit.map(df.filter).getOrElse(df).join(keys, keyFields, "left_semi")
        // referential RESTRICT + validity chain, mirroring the facade
        // delete (TableStore.delete): a language-level remove must not
        // orphan rows under a declared incoming FK — the FkJoinElim
        // soundness argument assumes EVERY delete front door is gated.
        // Lazy doomed frame: the probe only evaluates for tables some
        // FK actually references.
        graft.store.CheckConstraints.restrictDeleteRows(
          tx, table, doomed(tx.read(table)))
        // registered views maintain through the delete: capture the
        // exact removed multiset from the PRE-state (old files persist
        // until vacuum, so the lazy plan stays valid), fold its negated
        // partials in the same commit. Zero extra plans when no view is
        // registered.
        val preManifest = tx.manifestName(table)
        val removed =
          if (graft.store.MaterializedView.hasRegistered(tx, table))
            Some(doomed(tx.read(table)).localCheckpoint())
          else None
        tx.rewriteMatched(table,
          hits = doomed,
          rewrite = df => hit match {
            case None => df.join(keys, keyFields, "left_anti")
            case Some(h) =>
              df.filter(not(h)).unionByName(df.filter(h).join(keys, keyFields, "left_anti"))
          })
        removed.foreach(
          graft.store.MaterializedView.refreshRegisteredDelete(tx, table, _, preManifest))
        graft.store.CheckConstraints.advanceAfterDelete(tx, table, preManifest)
        graft.store.JoinViews.rebuildRegistered(tx, table)
      // `@remove_mor` — identical doom selection to `@remove`, but the
      // commit writes only a DELETION VECTOR (merge-on-read,
      // [[graft.store.Txn.deleteMorWhere]]): bytes ∝ doomed rows, zero
      // data dirs rewritten. The language-level retention purge for
      // 100 TB tables; views maintain in the same commit like @remove.
      case "remove_mor" =>
        val keyPairs = item.atom.args.zip(fields).collect { case (TVar(v), f) => (v, f) }
        val constCond = item.atom.args.zip(fields).collect {
          case (TConst(l), f) => col(f) === litOf(l)
        }.reduceOption(_ && _)
        val keys = args
          .select(keyPairs.map { case (v, f) => col(v).cast(fieldType(f)).as(f) }: _*)
          .distinct()
        val keyFields = keyPairs.map(_._2)
        val hit = constCond.map(c => coalesce(c, lit(false)))
        def doomedM(df: DataFrame): DataFrame =
          hit.map(df.filter).getOrElse(df).join(keys, keyFields, "left_semi")
        // same referential RESTRICT as @remove — FkJoinElim's dim-side
        // soundness requires restrictDelete to gate every MOR delete
        graft.store.CheckConstraints.restrictDeleteRows(
          tx, table, doomedM(tx.read(table)))
        val preManifestM = tx.manifestName(table)
        val removedM =
          if (graft.store.MaterializedView.hasRegistered(tx, table))
            Some(doomedM(tx.read(table)).localCheckpoint())
          else None
        tx.deleteMorWhere(table, doomedM)
        removedM.foreach(
          graft.store.MaterializedView.refreshRegisteredDelete(tx, table, _, preManifestM))
        graft.store.CheckConstraints.advanceAfterDelete(tx, table, preManifestM)
        graft.store.JoinViews.rebuildRegistered(tx, table)
      case "update" =>
        val matchPairs = item.atom.args.zip(fields).collect { case (TVar(v), f) => (v, f) }
        val setPairs = item.atom.args.zip(fields).collect { case (TAtVar(v), f) => (v, f) }
        // constants in match position restrict the matched rows (the
        // @remove branch's constCond — same semantics): dropping them
        // would update every row sharing the variable key, e.g.
        // `@update Exams(student, "math", @score)` touching all subjects
        val constCond = item.atom.args.zip(fields).collect {
          case (TConst(l), f) => col(f) === litOf(l)
        }.reduceOption(_ && _)
        val hit = constCond.map(c => coalesce(c, lit(false)))
        val updates = args.select(
          matchPairs.map { case (v, f) => col(v).cast(fieldType(f)).as(f) } ++
            setPairs.map { case (v, f) => col(v).cast(fieldType(f)).as(s"__set_$f") }: _*)
          .distinct()
        val setFields = setPairs.map(_._2).toSet
        // all-constant match: no join key — the single set-value row
        // applies to every const-matched row; 0 rows = nothing bound
        // (no-op), >1 distinct set rows = ambiguous, refuse
        val allConst = matchPairs.isEmpty
        val nUpd = if (allConst) updates.limit(2).count() else -1L
        if (allConst && nUpd > 1) throw Analyzer.AnalysisError(
          s"@update ${item.atom.rel}: all-constant match with multiple distinct set-value rows is ambiguous")
        if (!allConst || nUpd == 1) {
          def setExpr(f: String): Column = {
            val set = coalesce(col(s"__set_$f"), col(f))
            hit.map(h => when(h, set).otherwise(col(f))).getOrElse(set)
          }
          def matched(df: DataFrame): DataFrame = {
            val base = hit.map(df.filter).getOrElse(df)
            if (allConst) base
            else base.join(
              updates.select(matchPairs.map { case (_, f) => col(f) }: _*),
              matchPairs.map(_._2), "left_semi")
          }
          def applied(df: DataFrame): DataFrame = {
            val joined =
              if (allConst) df.crossJoin(updates) // exactly one row
              else df.join(updates, matchPairs.map(_._2), "left")
            joined.select(fields.map { f =>
              if (setFields(f)) setExpr(f).as(f) else col(f)
            }: _*)
          }
          // registered views see an update as delete(old) + insert(new):
          // the matched pre-state rows leave (negated partials), their
          // rewritten versions enter — both folds in the same commit,
          // so the view never observes a half-applied update
          val preManifest = tx.manifestName(table)
          val oldRows =
            if (graft.store.MaterializedView.hasRegistered(tx, table))
              Some(matched(tx.read(table)).localCheckpoint())
            else None
          tx.rewriteMatched(table, hits = matched, rewrite = applied)
          oldRows.foreach(old =>
            graft.store.MaterializedView.refreshRegisteredUpdate(
              tx, table, old, applied(old), preManifest))
          graft.store.JoinViews.rebuildRegistered(tx, table)
        }
      case other => throw Analyzer.AnalysisError(s"unknown mutation @$other")
    }
  }

  /** `transaction query` text form (`Kernel/README.md:251-254`): the
    * declaration's non-mutation prefix binds variables (reading the
    * transaction-start snapshot — the optimistic "queue updates
    * parallelly" of `Rewrite.md:4-16`), then the mutation items apply IN
    * ORDER with read-your-writes, and everything becomes visible in ONE
    * atomic store-manifest swap ("apply single-threaded"). An exception
    * anywhere publishes nothing. */
  def executeTransaction(program: String, name: String,
      catalog: Map[String, DataFrame], store: graft.store.TableStore): Unit = {
    val ast = Parser.parse(program)
    val decls = ast.datas.map(d => d.name -> d).toMap
    val queryDecls = ast.queries.map(q => q.name -> q).toMap
    val funcs = ast.funcs.map(f => f.name -> f).toMap
    val td = ast.transactions.find(_.name == name)
      .getOrElse(throw Analyzer.AnalysisError(s"no transaction query named $name"))
    Analyzer.analyzeConj(decls, queryDecls, Conj(td.items),
      td.inArgs.map(_._1).toSet, funcs)
    // the declared scheduling class rides the prioritized CAS retry:
    // the body is pure read-compute-mutate against its Txn, so a
    // yielded/conflicted attempt reruns against a fresh snapshot
    store.transactionRetry(importance = td.importance, f = { tx =>
      val storeTables = decls.keys.filter(t => !catalog.contains(t) && store.exists(t))
        .map(t => t -> (() => tx.read(t))).toMap
      val planner = new Planner(store.spark, decls, queryDecls,
        Catalog.of(catalog) ++ storeTables, funcs, ast.unions.map(u => u.name -> u).toMap)
      val (prefix, rest) = td.items.span(!_.isInstanceOf[Mutation])
      val bindings =
        if (prefix.isEmpty) store.spark.range(1).toDF("__unit")
        else planner.planItems(prefix)
      val uniques = uniqueIndexes(ast)
      rest.foreach {
        case m: Mutation => applyMutation(tx, decls, m, bindings, uniques)
        case other => throw Analyzer.AnalysisError(
          s"transaction $name: items after the first mutation must be mutations, got $other")
      }
    })
  }

  /** `for query(vars) :- body ( set/remove/update ... )` text form
    * (`Kernel/Drafts/draft:138-142`): the body derives the row set ONCE,
    * each action applies as a single bulk merge over it, all actions in
    * one atomic commit. */
  def executeFor(program: String, catalog: Map[String, DataFrame],
      store: graft.store.TableStore): Unit = {
    val ast = Parser.parse(program)
    val decls = ast.datas.map(d => d.name -> d).toMap
    val queryDecls = ast.queries.map(q => q.name -> q).toMap
    val funcs = ast.funcs.map(f => f.name -> f).toMap
    if (ast.fors.isEmpty)
      throw Analyzer.AnalysisError("program has no 'for query' statement")
    val uniques = uniqueIndexes(ast)
    ast.fors.foreach { fq =>
      fq.body.alts.foreach(Analyzer.analyzeConj(decls, queryDecls, _, Set.empty, funcs))
      store.transaction { tx =>
        val storeTables = decls.keys.filter(t => !catalog.contains(t) && store.exists(t))
          .map(t => t -> (() => tx.read(t))).toMap
        val planner = new Planner(store.spark, decls, queryDecls,
          Catalog.of(catalog) ++ storeTables, funcs, ast.unions.map(u => u.name -> u).toMap)
        val rows = fq.body.alts.map(c => planner.planItems(c.items)
          .select(fq.vars.map(col): _*)).reduce(_ union _)
        fq.actions.foreach(applyMutation(tx, decls, _, rows, uniques))
      }
    }
  }

  /** Execute a `procedure Name(args) { stmt; stmt; }` declaration
    * ([[Ast.ProcedureDecl]]; `Kernel/README.md:9,20` reserve the form)
    * against a store: parameters substitute as readonly constants (the
    * per-invocation analogue of global values), each statement's
    * non-mutation prefix binds rows and its mutations apply in order,
    * statements see earlier statements' writes (read-your-writes
    * through the txn view), and the WHOLE body publishes as one atomic
    * commit — an exception in any statement publishes nothing. */
  def executeProcedure(program: String, name: String,
      params: Map[String, Any], store: graft.store.TableStore,
      catalog: Map[String, DataFrame] = Map.empty): Unit = {
    val ast = Parser.parse(program)
    val decls = ast.datas.map(d => d.name -> d).toMap
    val queryDecls = ast.queries.map(q => q.name -> q).toMap
    val funcs = ast.funcs.map(f => f.name -> f).toMap
    val pd = ast.procedures.find(_.name == name)
      .getOrElse(throw Analyzer.AnalysisError(s"no procedure named $name"))
    val declared = pd.inArgs.map(_._1)
    if (declared.toSet != params.keySet)
      throw Analyzer.AnalysisError(
        s"procedure $name expects (${declared.mkString(", ")}), " +
          s"got (${params.keys.toSeq.sorted.mkString(", ")})")
    val lits: Map[String, Lit] = params.map { case (k, v) =>
      k -> (v match {
        case i: Int => LInt(i.toLong)
        case l: Long => LInt(l)
        case d: Double => LDouble(d)
        case s: String => LString(s)
        case b: Boolean => LBool(b)
        case other => throw Analyzer.AnalysisError(
          s"procedure $name: unsupported parameter value $other for $k")
      })
    }
    val uniques = uniqueIndexes(ast)
    store.transaction { tx =>
      pd.stmts.foreach { stmt =>
        val items = substParams(stmt.items, lits)
        Analyzer.analyzeConj(decls, queryDecls, Conj(items), Set.empty, funcs)
        // re-resolve store tables PER STATEMENT: statement N must read
        // statement N-1's buffered writes, not the txn-open snapshot
        val storeTables = decls.keys
          .filter(t => !catalog.contains(t) && tx.exists(t))
          .map(t => t -> (() => tx.read(t))).toMap
        val planner = new Planner(store.spark, decls, queryDecls,
          Catalog.of(catalog) ++ storeTables, funcs, ast.unions.map(u => u.name -> u).toMap)
        val (prefix, rest) = items.span(!_.isInstanceOf[Mutation])
        val bindings =
          if (prefix.isEmpty) store.spark.range(1).toDF("__unit")
          else planner.planItems(prefix)
        rest.foreach {
          case m: Mutation => applyMutation(tx, decls, m, bindings, uniques)
          case other => throw Analyzer.AnalysisError(
            s"procedure $name: items after the first mutation in a " +
              s"statement must be mutations, got $other")
        }
      }
    }
  }

  /** Substitute procedure parameters as literal constants through a
    * statement's items — parameters are READONLY (the global-value
    * rule): a data-atom pattern occurrence reads as the constant, it
    * never rebinds. */
  private def substParams(items: Seq[Item], params: Map[String, Lit]): Seq[Item] = {
    def mE(e: Expr): Expr = e match {
      case EVar(n) if !n.contains('.') && params.contains(n) => ELit(params(n))
      case _: EVar | _: ELit => e
      case EUnary(op, x) => EUnary(op, mE(x))
      case EBinary(op, l, r) => EBinary(op, mE(l), mE(r))
      case ECall(f, as) => ECall(f, as.map(mE))
      case ECmp(op, l, r) => ECmp(op, mE(l), mE(r))
      case EIn(x, es) => EIn(mE(x), es.map(mE))
      case EAnd(l, r) => EAnd(mE(l), mE(r))
      case EOr(l, r) => EOr(mE(l), mE(r))
      case ENot(x) => ENot(mE(x))
      case EIf(c, t, el) => EIf(mE(c), mE(t), el.map(mE))
      case EInterp(parts) => EInterp(parts.map(_.map(mE)))
      case EConstruct(v, fs) => EConstruct(v, fs.map { case (k, x) => (k, mE(x)) })
    }
    def mT(t: Term): Term = t match {
      case TVar(n) if params.contains(n) => TConst(params(n))
      case TExpr(e) => TExpr(mE(e))
      case other => other
    }
    def mA(a: Atom): Atom = a.copy(args = a.args.map(mT))
    items.map {
      case a: Atom => mA(a)
      case Negation(a) => Negation(mA(a))
      case Existence(a) => Existence(mA(a))
      case Mutation(k, a) => Mutation(k, mA(a))
      case Binding(o, v) => Binding(o, mE(v))
      case RankBinding(o, k, d) => RankBinding(o, mE(k), d)
      case Compare(op, l, r) => Compare(op, mE(l), mE(r))
      case Filter(c) => Filter(mE(c))
      case Ensure(c) => Ensure(mE(c))
      case SubQuery(ov, b) =>
        SubQuery(ov, Body(b.alts.map(c => Conj(substParams(c.items, params)))))
      case other => other
    }
  }

  /** `package NAME using ...; [public] query ...` declaration text
    * (`Kernel/README.md:256-264`) registered with a [[graft.store
    * .PackageManager]]: tables = the program's `data` declarations,
    * public surface = its `public` queries/transactions. Returns the
    * parsed program for later query compilation. */
  def definePackage(program: String, pm: graft.store.PackageManager): Program = {
    val ast = Parser.parse(program)
    val header = ast.pkg.getOrElse(
      throw Analyzer.AnalysisError("program has no 'package' header"))
    pm.define(graft.store.PackageDef(
      header.name,
      tables = ast.datas.map(_.name),
      publicQueries = (ast.queries.filter(_.isPublic).map(_.name) ++
        ast.transactions.filter(_.isPublic).map(_.name)).toSet,
      using = header.using))
    ast
  }

  /** Compile a query of a program that binds GLOBAL PACKAGE INSTANCES
    * (`Students <- new StudentPackage.` — `Kernel/README.md:249`, the
    * second global-readonly-value form): each binding instantiates the
    * package in `pm`'s module under the global's name on FIRST use
    * (tables arrive through the store — the reference instantiates
    * "through protocol", `Kernel/README.md:275-276`) and re-binds the
    * EXISTING instance thereafter: a declaration, not a command, so
    * re-compiling is idempotent. The instance's live tables join the
    * catalog as `Name::Table` relations — the instance name IS a
    * namespace, physically (Packages.Instance.table stores them under
    * exactly that name) and syntactically (rule bodies write
    * `Students::Customers(ck, name, ...)`) — with data declarations
    * synthesized from the stored Parquet schema, so the analyzer
    * checks arity/types against what is actually on disk. */
  def compileWithPackages(program: String, queryName: String,
      catalog: Map[String, DataFrame],
      pm: graft.store.PackageManager): DataFrame = {
    val ast = Parser.parse(program)
    val extra: Seq[(String, DataFrame)] =
      ast.instances.flatMap { case (global, pkgName) =>
        val pkg = pm.definition(pkgName).getOrElse(
          throw Analyzer.AnalysisError(
            s"global $global instantiates undefined package $pkgName"))
        val inst = pm.instance(global)
          .getOrElse(pm.instantiate(pkgName, global))
        if (inst.pkg != pkgName) throw Analyzer.AnalysisError(
          s"global $global already names an instance of ${inst.pkg}, not $pkgName")
        pkg.tables.filter(t => pm.store.exists(inst.table(t)))
          .map(t => inst.table(t) -> pm.read(inst, t))
      }
    val extraDecls = extra.map { case (name, df) =>
      DataDecl(name, df.schema.fields.toSeq.map(f =>
        f.name -> Planner.heroType(f.dataType)))
    }
    val decls = (ast.datas ++ extraDecls).map(d => d.name -> d).toMap
    val queryDecls = ast.queries.map(q => q.name -> q).toMap
    val funcs = ast.funcs.map(f => f.name -> f).toMap
    val unions = ast.unions.map(u => u.name -> u).toMap
    val q = ast.queries.find(_.name == queryName).getOrElse(
      throw Analyzer.AnalysisError(s"no query named $queryName"))
    Analyzer.analyze(decls, queryDecls, q, funcs)
    new Planner(pm.store.spark, decls, queryDecls, Catalog.of(catalog ++ extra),
      funcs, unions).plan(q)
  }

  /** Compile a query of a defined package against one of its instances,
    * enforcing cross-package visibility: callers in `fromPkg` may only
    * reach `public` queries of the declaring package
    * (`Kernel/README.md:263` "public QUERY | TRANSACTION"). */
  def compilePackaged(program: String, queryName: String, fromPkg: String,
      pm: graft.store.PackageManager)(inst: pm.Instance): DataFrame = {
    val ast = Parser.parse(program)
    val header = ast.pkg.getOrElse(
      throw Analyzer.AnalysisError("program has no 'package' header"))
    if (!pm.visible(fromPkg, header.name, queryName))
      throw Analyzer.AnalysisError(
        s"query $queryName of package ${header.name} is not visible from $fromPkg")
    val catalog = ast.datas.map(_.name)
      .filter(t => pm.store.exists(inst.table(t)))
      .map(t => t -> pm.read(inst, t)).toMap
    compile(program, queryName, catalog)
  }

  /** Execute a `stream dedup Rel(id, payload…) by fingerprint(var) into
    * Table;` statement ([[Ast.StreamDedup]]): routes the parsed form to
    * the fp-keyed streaming dedup sink — micro-batch ingest, bloom
    * pre-split, bucket-pruned corpus probe, atomic store commits — so
    * the full 100 TB streaming shape is language-reachable the way
    * `hq18` made the batch shape reachable. `sources` binds relation
    * names to warehouse dirs (the statement's variables name that
    * table's physical columns: first = arrival id, key arg = the
    * deduplicated payload, rest carried by min-id). Returns the
    * committed deduplicated corpus. */
  def executeStream(statement: String,
      spark: org.apache.spark.sql.SparkSession,
      sources: Map[String, String],
      store: graft.store.TableStore): DataFrame =
    Parser.parseStream(statement) match {
      case st: StreamDedup =>
        val dir = sources.getOrElse(st.rel, throw Analyzer.AnalysisError(
          s"no source bound for relation ${st.rel}"))
        // the grammar admits any builtin as key; the sink dedups on the
        // document fingerprint specifically (a count key would be a
        // different operator, not a dedup)
        if (st.keyFn != "fingerprint") throw Analyzer.AnalysisError(
          s"stream dedup is keyed by fingerprint(…); got ${st.keyFn}")
        // the statement's relation names the physical table under the
        // bound warehouse dir ($dir/<rel, lowercased>.parquet) — a
        // hard-coded file name here would silently ignore the relation
        // and stream the wrong table
        graft.streaming.DocStreams.dedupSinkToStoreByFp(
          spark, dir, store, st.table,
          idCol = st.vars.head, textCol = st.keyArg,
          carryCols = st.vars.tail.filterNot(_ == st.keyArg),
          sourceTable = st.rel.toLowerCase)
      case st: StreamSessionize =>
        val dir = sources.getOrElse(st.rel, throw Analyzer.AnalysisError(
          s"no source bound for relation ${st.rel}"))
        graft.streaming.EventStreams.sessionizeSinkToStore(
          spark, dir, store, st.table, st.gapSeconds, st.vars,
          sourceTable = st.rel.toLowerCase)
      case st: StreamAggregate =>
        val dir = sources.getOrElse(st.rel, throw Analyzer.AnalysisError(
          s"no source bound for relation ${st.rel}"))
        val Seq(keyV, valueV, idV) = st.vars
        val physical = graft.Tables.schemaOf(spark,
          s"$dir/${st.rel.toLowerCase}.parquet").fieldNames.toSet
        st.vars.filterNot(physical.contains) match {
          case missing if missing.nonEmpty => throw Analyzer.AnalysisError(
            s"stream aggregate variables must name physical columns of " +
              s"${st.rel}; missing: ${missing.mkString(", ")}")
          case _ => ()
        }
        // value sums ride exact micro fixed-point BIGINTs through every
        // batch merge (the ev1/st7 convention): integer partials are
        // accumulation-order-free, so four batch merges land on
        // exactly the one-shot aggregate; the single lossy division
        // happens at publish below
        val spec = graft.store.MaterializedView.MvSpec(
          keys = Seq(keyV),
          sums = Seq("__vmicros" ->
            org.apache.spark.sql.functions.expr(
              s"CAST(floor(`$valueV` * 1000000) AS BIGINT)")))
        graft.streaming.EventStreams.matViewSinkToStore(
          spark, dir, store, st.table, spec,
          sourceTable = st.rel.toLowerCase, chunkCol = idV)
          .select(org.apache.spark.sql.functions.col(keyV),
            org.apache.spark.sql.functions.col("n_rows"),
            org.apache.spark.sql.functions.expr(
              "CAST(__vmicros AS DOUBLE) / 1000000.0").as(s"sum_$valueV"))
      case st: StreamEnrich =>
        val dir = sources.getOrElse(st.rel, throw Analyzer.AnalysisError(
          s"no source bound for relation ${st.rel}"))
        // the dimension resolves under the SAME bound warehouse dir
        // unless separately bound — both physical table names derive
        // from the statement's relation names, never hard-coded
        val dimDir = sources.getOrElse(st.dimRel, dir)
        graft.streaming.EventStreams.enrichSinkToStore(
          spark, dir, store, st.table, st.vars,
          dimPath = s"$dimDir/${st.dimRel.toLowerCase}.parquet",
          dimVars = st.dimVars, leftKey = st.leftKey, rightKey = st.rightKey,
          sourceTable = st.rel.toLowerCase)
    }
}
