package graft

import graft.heroql.{Analyzer, Ast, HeroQL, Parser, Planner}
import graft.queries.HeroQueries

/** Golden parser tests over the reference's own samples
  * (`Kernel/README.md:107-205` transcribed in FIXTURES.md) plus the
  * mode-analysis negative cases the reference calls out
  * (`Kernel/README.md:136-137` "cannot run backward"). */
class HeroQLParserSpec extends SparkSpec {
  import Ast._

  test("golden: Top10 sample parses to the expected AST") {
    val p = Parser.parse(
      """data Exams(student: string, score: int).
        |query Top10() -> (student: string, score: int)
        |:- Exams(student, score),
        |   order <- @order_by_desc(score),
        |   order < 10
        |.""".stripMargin)
    assert(p.datas == Seq(DataDecl("Exams",
      Seq("student" -> "string", "score" -> "int"))))
    val q = p.queries.head
    assert(q.name == "Top10" && q.inArgs.isEmpty)
    assert(q.outArgs == Seq("student" -> "string", "score" -> "int"))
    assert(q.body.alts.size == 1)
    assert(q.body.alts.head.items == Seq(
      Atom("Exams", Seq(TVar("student"), TVar("score"))),
      RankBinding("order", EVar("score"), desc = true),
      Compare("<", EVar("order"), ELit(LInt(10)))))
  }

  test("golden: procedure declaration parses to the expected AST") {
    val p = Parser.parse(
      """data Exams(student: string, score: int).
        |data Honors(student: string, score: int).
        |procedure Graduate(cutoff: int64) {
        |    Exams(student, score), score > cutoff, @insert Honors(student, score);
        |    Exams(student, score), score > cutoff, @remove Exams(student, score);
        |}
        |""".stripMargin)
    assert(p.procedures.size == 1)
    val pd = p.procedures.head
    assert(pd.name == "Graduate" && !pd.isPublic)
    assert(pd.inArgs == Seq("cutoff" -> "int64"))
    assert(pd.stmts.size == 2)
    assert(pd.stmts.head.items == Seq(
      Atom("Exams", Seq(TVar("student"), TVar("score"))),
      Compare(">", EVar("score"), EVar("cutoff")),
      Mutation("insert", Atom("Honors", Seq(TVar("student"), TVar("score"))))))
    assert(pd.stmts(1).items.last ==
      Mutation("remove", Atom("Exams", Seq(TVar("student"), TVar("score")))))
    // a read-only body is a query, not a procedure
    val e = intercept[Parser.ParseError](Parser.parse(
      """data T(x: int64).
        |procedure Nop(k: int64) { T(x), x > k; }
        |""".stripMargin))
    assert(e.getMessage.contains("no mutation statements"))
  }

  test("builtin scalar call parses as ECall; non-builtin name(...) stays an atom") {
    val p = Parser.parse(
      """data Docs(id: int64, text: string).
        |query Fp(id: int64) -> (fp: int64)
        |:- Docs(id, text),
        |   fp <- fingerprint(text)
        |.""".stripMargin)
    assert(p.queries.head.body.alts.head.items == Seq(
      Atom("Docs", Seq(TVar("id"), TVar("text"))),
      Binding("fp", ECall("fingerprint", Seq(EVar("text"))))))
    // a non-builtin name followed by ( in boolean position is still a
    // relation atom — builtins are reserved words, nothing else changes
    val q = Parser.parse(
      """data Docs(id: int64, text: string).
        |data Kept(id: int64).
        |query K(id: int64)
        |:- Docs(id, text), Kept(id)
        |.""".stripMargin)
    assert(q.queries.head.body.alts.head.items.last ==
      Atom("Kept", Seq(TVar("id"))))
  }

  test("r9 scrub builtins: reserved, composable, and value-correct end-to-end") {
    // simhash / redact parse as ECall and chain through a binding
    val p = Parser.parse(
      """data Docs(id: int64, text: string).
        |query S(id: int64) -> (sh: int64, rfp: int64)
        |:- Docs(id, text),
        |   sh <- simhash(text),
        |   red <- redact(text),
        |   rfp <- fingerprint(red)
        |.""".stripMargin)
    assert(p.queries.head.body.alts.head.items.drop(1) == Seq(
      Binding("sh", ECall("simhash", Seq(EVar("text")))),
      Binding("red", ECall("redact", Seq(EVar("text")))),
      Binding("rfp", ECall("fingerprint", Seq(EVar("red"))))))
    // declaring either name is the explicit reserved-name error
    val e = intercept[Parser.ParseError] {
      Parser.parse("data redact(id: int64).")
    }
    assert(e.msg.contains("reserved builtin"))
  }

  test("golden: disjunction rule parses as two alternatives") {
    val p = Parser.parse(
      """data Father(father: int64, child: int64).
        |data Mother(mother: int64, child: int64).
        |query Parents(parent: int64, child: int64)
        |:- Father(parent, child)
        |;  Mother(parent, child)
        |.""".stripMargin)
    val q = p.queries.head
    assert(q.body.alts == Seq(
      Conj(Seq(Atom("Father", Seq(TVar("parent"), TVar("child"))))),
      Conj(Seq(Atom("Mother", Seq(TVar("parent"), TVar("child")))))))
  }

  test("golden: the full HeroQueries program parses (25 queries + 4 funcs + 1 union)") {
    val p = Parser.parse(HeroQueries.program)
    assert(p.datas.size == 11)
    assert(p.queries.map(_.name) == Seq("Top10", "Top3PerStudent", "AvgTop3",
      "ApproxParts", "ApproxQtyOverParts", "ApproxMedianPrice", "ApproxP95Price",
      "Parents", "GrandParents", "GrandParentsSub", "Anc", "AncCount", "DescOf",
      "AncestorsOf", "Quad", "Childless", "Graded",
      "ShapeAreas", "BoxedAreas", "FibOf", "ChooseOf",
      "BoolSieve", "EitherParent", "EnsuredScores", "Described"))
    assert(p.funcs.map(_.name) == Seq("Grade", "Area", "Fib", "Comb"))
    assert(p.funcs.head.cases.size == 3)
    assert(p.unions.map(_.name) == Seq("Shape"))
    assert(p.unions.head.variants == Seq(
      UnionVariant("Circle", Seq("r" -> "double")),
      UnionVariant("Rect", Seq("w" -> "double", "h" -> "double")),
      UnionVariant("Point", Seq("x" -> "double"))))
  }

  test("golden: two-variable sketch aggregate parses; the result lands on the value variable") {
    val p = Parser.parse(
      """data R(g: string, k: int64, v: int64).
        |query Q(g: string) -> (est: int64)
        |:- R(g, k, v),
        |   @partition(g),
        |   @aggregate(approx_sum_distinct(k, v)),
        |   est <- v
        |.""".stripMargin)
    val items = p.queries.head.body.alts.head.items
    assert(items.contains(Aggregate("approx_sum_distinct", "k", Some("v"))))
    // one-variable form still parses to the None shape
    val p1 = Parser.parse(
      """data R(g: string, v: int64).
        |query Q(g: string) -> (v: int64)
        |:- R(g, v), @partition(g), @aggregate(sum(v)).""".stripMargin)
    assert(p1.queries.head.body.alts.head.items
      .contains(Aggregate("sum", "v", None)))
  }

  test("golden: quantile aggregates parse with literal points; `in` parses to EIn") {
    val p = Parser.parse(
      """data R(g: string, rid: int64, v: int64).
        |query Q(g: string) -> (p95: int64)
        |:- R(g, rid, v),
        |   @partition(g),
        |   @aggregate(approx_quantile(rid, v, 0.95)),
        |   p95 <- v
        |.
        |query M(g: string) -> (qs: int64)
        |:- R(g, rid, v),
        |   @partition(g),
        |   @aggregate(approx_quantiles(rid, v, 0.25, 0.5, 0.75)),
        |   qs <- v
        |.
        |query I() -> (g: string, v: int64)
        |:- R(g, rid, v), v in (1, 2, 3).""".stripMargin)
    assert(p.queries(0).body.alts.head.items
      .contains(Aggregate("approx_quantile", "rid", Some("v"), Seq(0.95))))
    assert(p.queries(1).body.alts.head.items
      .contains(Aggregate("approx_quantiles", "rid", Some("v"),
        Seq(0.25, 0.5, 0.75))))
    val inItems = p.queries(2).body.alts.head.items
    assert(inItems.exists {
      case Filter(EIn(EVar("v"), es)) => es ==
        Seq(ELit(LInt(1)), ELit(LInt(2)), ELit(LInt(3)))
      case _ => false
    }, s"no EIn filter in $inItems")
  }

  test("golden: runtime-type patterns and expression args parse") {
    val p = Parser.parse(
      """union U = A | B.
        |func F(in s : U, out o);
        |case F(a : A, o) :- o <- a.x * 2;
        |case F(b : B, o) :- F(b.y - 1, r), o <- r;
        |""".stripMargin)
    val f = p.funcs.head
    assert(f.cases(0).args == Seq(TTyped("a", "A"), TVar("o")))
    assert(f.cases(0).guards == Seq(
      Binding("o", EBinary("*", EVar("a.x"), ELit(LInt(2))))))
    assert(f.cases(1).guards.head ==
      Atom("F", Seq(TExpr(EBinary("-", EVar("b.y"), ELit(LInt(1)))), TVar("r"))))
  }

  test("boolean grammar: and binds tighter than or, comma loosest (draft:104-107)") {
    val p = Parser.parse(
      """data T(x: int, y: int).
        |query Q(x: int, y: int)
        |:- T(x, y), x > 1 or x < 0 and y > 2
        |.""".stripMargin)
    // x > 1 or (x < 0 and y > 2): one scalar filter, no DNF expansion
    val items = p.queries.head.body.alts match {
      case Seq(Conj(is)) => is
      case other => fail(s"expected one alternative, got $other")
    }
    assert(items == Seq(
      Atom("T", Seq(TVar("x"), TVar("y"))),
      Filter(EOr(ECmp(">", EVar("x"), ELit(LInt(1))),
        EAnd(ECmp("<", EVar("x"), ELit(LInt(0))),
          ECmp(">", EVar("y"), ELit(LInt(2))))))))
  }

  test("boolean grammar: or over relation atoms expands to DNF union alternatives") {
    val p = Parser.parse(
      """data A(x: int).
        |data B(x: int).
        |query Q(x: int)
        |:- (A(x) or B(x)) and x > 1
        |.""".stripMargin)
    assert(p.queries.head.body.alts == Seq(
      Conj(Seq(Atom("A", Seq(TVar("x"))), Compare(">", EVar("x"), ELit(LInt(1))))),
      Conj(Seq(Atom("B", Seq(TVar("x"))), Compare(">", EVar("x"), ELit(LInt(1)))))))
  }

  test("boolean grammar: if-then-else and ensure parse to their AST forms") {
    val p = Parser.parse(
      """data T(x: int).
        |query Q(x: int)
        |:- T(x), if x > 5 then x > 7, ensure x >= 0, not x == 3
        |.""".stripMargin)
    val items = p.queries.head.body.alts.head.items
    assert(items(1) == Filter(EIf(ECmp(">", EVar("x"), ELit(LInt(5))),
      ECmp(">", EVar("x"), ELit(LInt(7))), None)))
    assert(items(2) == Ensure(ECmp(">=", EVar("x"), ELit(LInt(0)))))
    assert(items(3) == Filter(ENot(ECmp("==", EVar("x"), ELit(LInt(3))))))
  }

  test("boolean grammar: if with relation atoms in branches expands on the union path") {
    val p = Parser.parse(
      """data A(x: int).
        |data B(x: int).
        |data T(x: int).
        |query Q(x: int)
        |:- T(x), if x > 5 then A(x) else B(x)
        |.""".stripMargin)
    assert(p.queries.head.body.alts == Seq(
      Conj(Seq(Atom("T", Seq(TVar("x"))),
        Filter(ECmp(">", EVar("x"), ELit(LInt(5)))), Atom("A", Seq(TVar("x"))))),
      Conj(Seq(Atom("T", Seq(TVar("x"))),
        Filter(ENot(ECmp(">", EVar("x"), ELit(LInt(5))))), Atom("B", Seq(TVar("x")))))))
  }

  test("statement forms parse: let, transaction query, for query, package, interpolation") {
    val p = Parser.parse(
      """package billing using base;
        |data T(x: int64, y: int64).
        |let Hot = query (x, y) :- T(x, y), y > 3.
        |public transaction query Move()
        |:- Hot(x, y), @insert T(x, y), @remove T(x, _).
        |for query(x, y) :- Hot(x, y) ( set T(x, y + 1); remove T(x, _) ).
        |query Msg(x: int64) -> (m: string) :- T(x, _), m <- $"x is $(x)!".
        |""".stripMargin)
    assert(p.pkg.contains(PackageHeader("billing", Seq("base"))))
    val let = p.queries.find(_.name == "Hot").get
    assert(let.inArgs == Seq("x" -> "", "y" -> "") && let.outArgs.isEmpty)
    val tx = p.transactions.head
    assert(tx.name == "Move" && tx.isPublic)
    assert(tx.items.count(_.isInstanceOf[Mutation]) == 2)
    val fq = p.fors.head
    assert(fq.vars == Seq("x", "y"))
    assert(fq.actions.map(_.kind) == Seq("insert", "remove"))
    assert(fq.actions.head.atom.args(1) == TExpr(EBinary("+", EVar("y"), ELit(LInt(1)))))
    val msg = p.queries.find(_.name == "Msg").get
    assert(msg.body.alts.head.items(1) == Binding("m",
      EInterp(Seq(Left("x is "), Right(EVar("x")), Left("!")))))
  }

  test("namespaces: nesting, qualified references, using-directive resolution") {
    val p = Parser.parse(
      """namespace A
        |{
        |    data T(x: int64).
        |    namespace B
        |    {
        |        data U(y: int64).
        |        query Q(y: int64) :- U(y), T(y).
        |    }
        |}
        |using namespace A::B;
        |query R(y: int64) :- U(y), A::T(y).
        |""".stripMargin)
    assert(p.datas.map(_.name) == Seq("A::T", "A::B::U"))
    val q = p.queries.find(_.name == "A::B::Q").get
    // U resolves in B, T walks out to A
    assert(q.body.alts.head.items.collect { case Atom(r, _) => r } ==
      Seq("A::B::U", "A::T"))
    val r = p.queries.find(_.name == "R").get
    // bare U via the using-directive, A::T explicitly qualified
    assert(r.body.alts.head.items.collect { case Atom(r2, _) => r2 } ==
      Seq("A::B::U", "A::T"))
  }

  test("global readonly values substitute as constants unless locally shadowed") {
    val p = Parser.parse(
      """Zero <- 0.
        |Limit <- 2 + 3.
        |data T(x: int64, y: int64).
        |query Q(x: int64) :- T(x, Zero), x < Limit.
        |query Shadow(x: int64) -> (Limit: int64) :- T(x, _), Limit <- x + 1, x < Limit.
        |""".stripMargin)
    assert(p.globals.toMap == Map("Zero" -> LInt(0), "Limit" -> LInt(5)))
    val q = p.queries.find(_.name == "Q").get
    // Zero in an atom argument becomes a pushed constant filter
    assert(q.body.alts.head.items.head ==
      Atom("T", Seq(TVar("x"), TConst(LInt(0)))))
    assert(q.body.alts.head.items(1) == Compare("<", EVar("x"), ELit(LInt(5))))
    // a local binding shadows the global
    val s = p.queries.find(_.name == "Shadow").get
    assert(s.body.alts.head.items(1) == Binding("Limit",
      EBinary("+", EVar("x"), ELit(LInt(1)))))
    assert(s.body.alts.head.items(2) == Compare("<", EVar("x"), EVar("Limit")))
  }

  test("mode analysis rejects running a binding backward") {
    val p = Parser.parse(
      """data T(x: int).
        |query Bad(x: int) -> (x2: int)
        |:- T(x), x <- x2 * x2
        |.""".stripMargin)
    val e = intercept[Analyzer.AnalysisError] {
      Analyzer.analyze(p.datas.map(d => d.name -> d).toMap, Map.empty, p.queries.head)
    }
    assert(e.getMessage.contains("cannot run backward"))
  }

  test("mode analysis rejects rebinding a bound variable") {
    val p = Parser.parse(
      """data T(x: int).
        |query Bad(x: int)
        |:- T(x), x <- 1 + 2
        |.""".stripMargin)
    val e = intercept[Analyzer.AnalysisError] {
      Analyzer.analyze(p.datas.map(d => d.name -> d).toMap, Map.empty, p.queries.head)
    }
    assert(e.getMessage.contains("cannot run backward"))
  }

  private def chainEdges = {
    import spark.implicits._
    // 1→2→3→4→5 plus a side edge 2→10
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 10L)).toDF("a", "b")
  }

  test("front-end diagnostics: unterminated strings, phantom in-args, unbound mutation exprs") {
    // unterminated literal: a positioned ParseError, not a swallowed tail
    val e1 = intercept[Parser.ParseError] {
      Parser.parse("""data T(x: string). query Q(x: string) :- T(x), x == "abc.""")
    }
    assert(e1.msg.contains("unterminated"), e1.msg)
    // an in-arg the body never produces: the analyzer's diagnostic, not
    // an unresolved-column Spark error from the head projection
    def analyzeOf(src: String, name: String): Unit = {
      val ast = Parser.parse(src)
      Analyzer.analyze(ast.datas.map(d => d.name -> d).toMap,
        ast.queries.map(q => q.name -> q).toMap,
        ast.queries.find(_.name == name).get)
    }
    val e2 = intercept[Analyzer.AnalysisError] {
      analyzeOf(
        """data E(y: int64, z: int64).
          |query Q(x: int64) :- E(y, z), y < z
          |.""".stripMargin, "Q")
    }
    assert(e2.getMessage.contains("not bound by body"), e2.getMessage)
    // a computed mutation argument referencing an unbound variable
    val ast3 = Parser.parse(
      """data S(s: int64). data Bonus(s: int64, b: int64).
        |transaction query M() :- S(s), @insert Bonus(s, x + 1)
        |.""".stripMargin)
    val e3 = intercept[Analyzer.AnalysisError] {
      Analyzer.analyzeConj(ast3.datas.map(d => d.name -> d).toMap, Map.empty,
        Ast.Conj(ast3.transactions.head.items))
    }
    assert(e3.getMessage.contains("unbound"), e3.getMessage)
  }

  test("ground negation/existence: all-constant atoms are constant emptiness tests") {
    import spark.implicits._
    val t = Seq(1L, 2L, 3L).toDF("x")
    val flag = Seq(7L).toDF("f")
    val src =
      """data T(x: int64).
        |data Flag(f: int64).
        |query KeepIfNo9(x: int64) :- T(x), not exists Flag(9)
        |.
        |query KeepIf7(x: int64) :- T(x), exists Flag(7)
        |.""".stripMargin
    val no9 = HeroQL.compile(src, "KeepIfNo9", Map("T" -> t, "Flag" -> flag))
      .collect().map(_.getLong(0)).toSet
    assert(no9 == Set(1L, 2L, 3L), "Flag(9) absent: negation keeps all rows")
    val has7 = HeroQL.compile(src, "KeepIf7", Map("T" -> t, "Flag" -> flag))
      .collect().map(_.getLong(0)).toSet
    assert(has7 == Set(1L, 2L, 3L), "Flag(7) present: existence keeps all rows")
    val no7 = HeroQL.compile(src, "KeepIfNo9",
      Map("T" -> t, "Flag" -> Seq(9L).toDF("f")))
      .collect().map(_.getLong(0)).toSet
    assert(no7 == Set.empty[Long], "Flag(9) present: ground negation drops all rows")
  }

  test("self-recursive rule evaluates via the semi-naive fixpoint (linear)") {
    val src =
      """data E(a: int64, b: int64).
        |query Reach(a: int64, b: int64)
        |:- E(a, b)
        |;  E(a, m), Reach(m, b)
        |.""".stripMargin
    val got = HeroQL.compile(src, "Reach", Map("E" -> chainEdges))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 10L),
      (1L, 3L), (1L, 4L), (1L, 5L), (1L, 10L),
      (2L, 4L), (2L, 5L), (3L, 5L))
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")
  }

  test("doubly-recursive rule evaluates via the naive binding (non-linear)") {
    val src =
      """data E(a: int64, b: int64).
        |query Conn(a: int64, b: int64)
        |:- E(a, b)
        |;  Conn(a, m), Conn(m, b)
        |.""".stripMargin
    val got = HeroQL.compile(src, "Conn", Map("E" -> chainEdges))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 10L),
      (1L, 3L), (1L, 4L), (1L, 5L), (1L, 10L),
      (2L, 4L), (2L, 5L), (3L, 5L))
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")
  }

  test("fixpoint over-gate EDB stays lazy and derives the same closure") {
    // past the size gate the loop re-scans the source plan per round
    // instead of materializing a copy — same rows either way
    val src =
      """data E(a: int64, b: int64).
        |query Reach(a: int64, b: int64)
        |:- E(a, b)
        |;  E(a, m), Reach(m, b)
        |.""".stripMargin
    val was = Planner.edbCacheMaxBytes
    Planner.edbCacheMaxBytes = 0L // every relation is "too big"
    try {
      val got = HeroQL.compile(src, "Reach", Map("E" -> chainEdges))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 10L),
        (1L, 3L), (1L, 4L), (1L, 5L), (1L, 10L),
        (2L, 4L), (2L, 5L), (3L, 5L))
      assert(got == want, s"extra=${got -- want} missing=${want -- got}")
    } finally Planner.edbCacheMaxBytes = was
  }

  test("fixpoint round batching is result-invariant (linear, non-linear, demanded)") {
    // batching chains B logical steps per except+checkpoint job; the
    // result set must be byte-identical to classic one-step semi-naïve
    // for every rule shape the loop accepts
    val linearSrc =
      """data E(a: int64, b: int64).
        |query Reach(a: int64, b: int64)
        |:- E(a, b)
        |;  E(a, m), Reach(m, b)
        |.""".stripMargin
    val nonLinearSrc =
      """data E(a: int64, b: int64).
        |query Conn(a: int64, b: int64)
        |:- E(a, b)
        |;  Conn(a, m), Conn(m, b)
        |.""".stripMargin
    val demandedSrc =
      """data E(a: int64, b: int64).
        |query Reach(a: int64, b: int64)
        |:- E(a, b)
        |;  E(a, m), Reach(m, b)
        |.
        |query From2(b: int64)
        |:- Reach(2, b)
        |.""".stripMargin
    def run(src: String, name: String): Set[Seq[Long]] =
      HeroQL.compile(src, name, Map("E" -> chainEdges))
        .collect().map(r => (0 until r.length).map(r.getLong)).toSet
    val was = Planner.fixpointBatchRounds
    try {
      for ((src, name) <- Seq(linearSrc -> "Reach", nonLinearSrc -> "Conn",
          demandedSrc -> "From2")) {
        Planner.fixpointBatchRounds = 1
        val oneStep = run(src, name)
        Planner.fixpointBatchRounds = 3
        val batched = run(src, name)
        assert(batched == oneStep,
          s"$name: extra=${batched -- oneStep} missing=${oneStep -- batched}")
      }
    } finally Planner.fixpointBatchRounds = was
  }

  test("demand at an invariant position seeds the fixpoint; non-invariant demand falls back") {
    // Reach(a, b) :- E(a, b) ; E(a, m), Reach(m, b).
    // position 1 (b) is invariant (the self-atom carries the head's b);
    // position 0 (a) is not (the self-atom carries m)
    val src =
      """data E(a: int64, b: int64).
        |query Reach(a: int64, b: int64)
        |:- E(a, b)
        |;  E(a, m), Reach(m, b)
        |.
        |query Into(a: int64)
        |:- Reach(a, 5)
        |.
        |query From(b: int64)
        |:- Reach(1, b)
        |.""".stripMargin
    val into = HeroQL.compile(src, "Into", Map("E" -> chainEdges))
      .collect().map(_.getLong(0)).toSet
    assert(Planner.lastFixpointDemand == Seq("b"),
      s"invariant-position demand did not seed: ${Planner.lastFixpointDemand}")
    assert(into == Set(1L, 2L, 3L, 4L), s"got $into")
    val from = HeroQL.compile(src, "From", Map("E" -> chainEdges))
      .collect().map(_.getLong(0)).toSet
    assert(Planner.lastFixpointDemand == Seq("a"),
      s"non-invariant demand must engage the magic-sets restriction: ${Planner.lastFixpointDemand}")
    assert(from == Set(2L, 3L, 4L, 5L, 10L), s"got $from")
  }

  test("value-generating recursion errors as non-convergent, never a silent partial result") {
    // x <- y + 1 mints a fresh tuple every round — infinite domain, no
    // least fixpoint; the round cap must turn that into a diagnostic
    val src =
      """data Z(z: int64).
        |query N() -> (x: int64)
        |:- Z(z), x <- z
        |;  N(y), x <- y + 1
        |.""".stripMargin
    import spark.implicits._
    val was = Planner.fixpointMaxIter
    Planner.fixpointMaxIter = 3
    try {
      val e = intercept[Analyzer.AnalysisError] {
        HeroQL.compile(src, "N", Map("Z" -> Seq(1L).toDF("z"))).collect()
      }
      assert(e.getMessage.contains("did not converge"))
    } finally Planner.fixpointMaxIter = was
  }

  test("mutual recursion still errors with the calculating sentinel") {
    val src =
      """data E(a: int64, b: int64).
        |query Even(a: int64, b: int64)
        |:- E(a, b)
        |;  E(a, m), Odd(m, b)
        |.
        |query Odd(a: int64, b: int64)
        |:- E(a, m), Even(m, b)
        |.""".stripMargin
    val e = intercept[Analyzer.AnalysisError] {
      HeroQL.compile(src, "Even", Map("E" -> chainEdges)).collect()
    }
    assert(e.getMessage.contains("calculating"))
  }

  test("recursive rule without a base case is rejected") {
    val src =
      """data E(a: int64, b: int64).
        |query Loop(a: int64, b: int64)
        |:- E(a, m), Loop(m, b)
        |.""".stripMargin
    val e = intercept[Analyzer.AnalysisError] {
      HeroQL.compile(src, "Loop", Map("E" -> chainEdges)).collect()
    }
    assert(e.getMessage.contains("no base case"))
  }

  test("aggregation inside a recursive alternative is rejected as non-stratified") {
    val src =
      """data E(a: int64, b: int64).
        |query Agg(a: int64) -> (t: int64)
        |:- E(a, t)
        |;  Agg(a, s), @partition(a), @aggregate(average(s)), t <- s
        |.""".stripMargin
    val e = intercept[Analyzer.AnalysisError] {
      HeroQL.compile(src, "Agg", Map("E" -> chainEdges)).collect()
    }
    assert(e.getMessage.contains("not stratified"))
  }

  test("negation over ANOTHER query that reaches the recursion is rejected as non-stratified") {
    // Bad references Reach; negating Bad inside Reach's recursive
    // alternative would anti-join against a PARTIAL (in-flight) Reach —
    // must be a diagnostic, never a silent wrong result
    val src =
      """data E(a: int64, b: int64).
        |data Block(x: int64).
        |query Bad(x: int64)
        |:- Reach(x, y), Block(y)
        |.
        |query Reach(a: int64, b: int64)
        |:- E(a, b)
        |;  E(a, m), Reach(m, b), not exists Bad(b)
        |.""".stripMargin
    val e = intercept[Analyzer.AnalysisError] {
      HeroQL.compile(src, "Reach",
        Map("E" -> chainEdges,
          "Block" -> {
            val spark = org.apache.spark.sql.SparkSession.active
            import spark.implicits._
            Seq(4L).toDF("x")
          })).collect()
    }
    assert(e.getMessage.contains("not stratified"), e.getMessage)
  }

  test("aggregation hidden in a sub-rule of a recursive alternative is rejected") {
    // the sub-rule touches the recursion AND aggregates — each round
    // would re-aggregate the growing accumulator
    val src =
      """data E(a: int64, b: int64).
        |query R(a: int64) -> (t: int64)
        |:- E(a, t)
        |;  (m, s)
        |   :- R(m, v), @partition(m), @aggregate(sum(v)), s <- v
        |   ., E(a, m), t <- s
        |.""".stripMargin
    val e = intercept[Analyzer.AnalysisError] {
      HeroQL.compile(src, "R", Map("E" -> chainEdges)).collect()
    }
    assert(e.getMessage.contains("not stratified"), e.getMessage)
  }

  test("self-reference under negation is rejected as non-stratified") {
    val src =
      """data E(a: int64, b: int64).
        |query Bad(a: int64, b: int64)
        |:- E(a, b)
        |;  E(a, b), not exists Bad(b, _)
        |.""".stripMargin
    val e = intercept[Analyzer.AnalysisError] {
      HeroQL.compile(src, "Bad", Map("E" -> chainEdges)).collect()
    }
    assert(e.getMessage.contains("not stratified"))
  }

  test("stream dedup statement parses to its golden AST") {
    val st = Parser.parseStream(
      "stream dedup Docs(doc_id, text, lang, n_chars) by fingerprint(text) into corpus;")
    assert(st == Ast.StreamDedup("Docs",
      Seq("doc_id", "text", "lang", "n_chars"), "fingerprint", "text", "corpus"))
  }

  test("stream dedup statement rejects bad keys with the real diagnosis") {
    // non-builtin key function
    val e1 = intercept[Parser.ParseError] {
      Parser.parseStream("stream dedup Docs(id, text) by md5(text) into c;")
    }
    assert(e1.msg.contains("builtin scalar"))
    // key argument not among the declared variables
    val e2 = intercept[Parser.ParseError] {
      Parser.parseStream("stream dedup Docs(id, text) by fingerprint(body) into c;")
    }
    assert(e2.msg.contains("not a declared variable"))
    // keying the id deduplicates nothing
    val e3 = intercept[Parser.ParseError] {
      Parser.parseStream("stream dedup Docs(id, text) by fingerprint(id) into c;")
    }
    assert(e3.msg.contains("id variable"))
  }

  test("if/then/else parses in expression (binding) position") {
    val p = Parser.parse(
      """data Docs(id: int64, text: string).
        |query Split(id: int64) -> (s: string)
        |:- Docs(id, text),
        |   h <- substr(md5hex(text), 1, 2),
        |   s <- if h >= "e6" then "val" else "train"
        |.""".stripMargin)
    val items = p.queries.head.body.alts.head.items
    assert(items.collect { case Binding("s", EIf(_, _, Some(_))) => 1 }.size == 1,
      s"expected an if-expression binding, got $items")
    // 'then' is required
    val e1 = intercept[Parser.ParseError] {
      Parser.parse(
        """data D(id: int64).
          |query Q(id: int64) -> (x: int64)
          |:- D(id), x <- if id >= 1 id
          |.""".stripMargin)
    }
    assert(e1.msg.contains("'then'"))
  }

  test("semantic_dedup stage parses to its golden AST") {
    val cq = Parser.parseCollection(
      """collection_query(id, c, d, m) :-
           Embs(id, v)
         semantic_dedup(id, v) threshold 0.4 as (c, d, m)
         ;""")
    assert(cq.semDedup ==
      Some(SemanticDedupStage("id", "v", 0.4, "c", "d", "m")))
  }

  test("semantic_dedup stage rejects malformed forms with real diagnoses") {
    val e1 = intercept[Parser.ParseError] {
      Parser.parseCollection(
        "collection_query(id) :- Embs(id, v) semantic_dedup(id, v) as (c, d, m);")
    }
    assert(e1.msg.contains("threshold"))
    val e2 = intercept[Parser.ParseError] {
      Parser.parseCollection(
        "collection_query(id) :- Embs(id, v) semantic_dedup(id, v) threshold 0.4 (c, d, m);")
    }
    assert(e2.msg.contains("'as'"))
  }

  test("nearest stage parses to its golden AST, probes optional") {
    val cq = Parser.parseCollection(
      """collection_query(p, n, c, r) :-
           Embs(id, v)
         nearest(id, v) k 5 probes 2 as (p, n, c, r)
         ;""")
    assert(cq.nearest == Some(NearestStage("id", "v", 5, 2, "p", "n", "c", "r")))
    val cq2 = Parser.parseCollection(
      "collection_query(p, n, c, r) :- Embs(id, v) nearest(id, v) k 7 as (p, n, c, r);")
    assert(cq2.nearest == Some(NearestStage("id", "v", 7, 20, "p", "n", "c", "r")))
    // explicit probe relation; mutually exclusive with `probes N`
    val cq3 = Parser.parseCollection(
      "collection_query(p, n, c, r) :- Embs(id, v) nearest(id, v) for Pr(pid, pv) k 5 as (p, n, c, r);")
    assert(cq3.nearest == Some(NearestStage("id", "v", 5, 20,
      "p", "n", "c", "r", Some(("Pr", "pid", "pv")))))
    val e2 = intercept[Parser.ParseError] {
      Parser.parseCollection(
        "collection_query(p) :- Embs(id, v) nearest(id, v) for Pr(pid, pv) k 5 probes 2 as (p, n, c, r);")
    }
    assert(e2.msg.contains("mutually exclusive"))
    val e1 = intercept[Parser.ParseError] {
      Parser.parseCollection(
        "collection_query(p) :- Embs(id, v) nearest(id, v) as (p, n, c, r);")
    }
    assert(e1.msg.contains("'k'"))
  }

  test("semantic_dedup against form parses to its golden AST") {
    val cq = Parser.parseCollection(
      """collection_query(id, c, d, m) :-
           B(id, v)
         semantic_dedup(id, v) against Corpus(cid, cv)
           threshold 0.4 as (c, d, m)
         ;""")
    assert(cq.semDedup == Some(SemanticDedupStage("id", "v", 0.4,
      "c", "d", "m", Some(("Corpus", "cid", "cv")))))
  }

  test("near_dedup stage parses to its golden AST with real diagnoses") {
    val cq = Parser.parseCollection(
      """collection_query(id, k, t, n) :-
           Docs(id, text)
         near_dedup(id, text) threshold 0.25 as (k, t, n)
         ;""")
    assert(cq.nearDedup ==
      Some(NearDedupStage("id", "text", 0.25, Seq("k", "t", "n"))))
    val e1 = intercept[Parser.ParseError] {
      Parser.parseCollection(
        "collection_query(id) :- Docs(id, text) near_dedup(id, text) as (k, t, n);")
    }
    assert(e1.msg.contains("threshold"))
    // against form: batch-vs-corpus, output pair
    val cq2 = Parser.parseCollection(
      """collection_query(id, c, j) :-
           B(id, text)
         near_dedup(id, text) against Corpus(cid, ctext)
           threshold 0.25 as (c, j)
         ;""")
    assert(cq2.nearDedup == Some(NearDedupStage("id", "text", 0.25,
      Seq("c", "j"), Some(("Corpus", "cid", "ctext")))))
  }

  test("stream enrich statement parses to its golden AST") {
    val st = Parser.parseStream(
      "stream enrich Events(event_id, user_id, value) " +
        "with Customer(c_custkey, c_mktsegment) " +
        "on user_id = c_custkey into enriched;")
    assert(st == Ast.StreamEnrich("Events",
      Seq("event_id", "user_id", "value"),
      "Customer", Seq("c_custkey", "c_mktsegment"),
      "user_id", "c_custkey", "enriched"))
  }

  test("stream enrich statement rejects undeclared join keys with the real diagnosis") {
    val e1 = intercept[Parser.ParseError] {
      Parser.parseStream(
        "stream enrich E(id, u) with D(k, v) on other = k into t;")
    }
    assert(e1.msg.contains("not a declared variable of E"))
    val e2 = intercept[Parser.ParseError] {
      Parser.parseStream(
        "stream enrich E(id, u) with D(k, v) on u = missing into t;")
    }
    assert(e2.msg.contains("not a declared variable of D"))
  }

  test("stream sessionize statement parses to its golden AST") {
    val st = Parser.parseStream(
      "stream sessionize Events(user_id, ts, value, event_id) gap 30 minutes into sessions;")
    assert(st == Ast.StreamSessionize("Events",
      Seq("user_id", "ts", "value", "event_id"), 1800L, "sessions"))
    // unit variants normalize to seconds
    val h = Parser.parseStream(
      "stream sessionize E(u, t, v, i) gap 2 h into s;")
    assert(h == Ast.StreamSessionize("E", Seq("u", "t", "v", "i"), 7200L, "s"))
  }

  test("stream sessionize statement rejects bad forms with the real diagnosis") {
    // wrong arity: the variables are positional (user, ts, value, id)
    val e1 = intercept[Parser.ParseError] {
      Parser.parseStream("stream sessionize E(u, t, v) gap 30 minutes into s;")
    }
    assert(e1.msg.contains("(user, ts, value, id)"))
    // unknown gap unit
    val e2 = intercept[Parser.ParseError] {
      Parser.parseStream("stream sessionize E(u, t, v, i) gap 30 fortnights into s;")
    }
    assert(e2.msg.contains("seconds/minutes/hours"))
    // non-positive gap merges nothing
    val e3 = intercept[Parser.ParseError] {
      Parser.parseStream("stream sessionize E(u, t, v, i) gap 0 minutes into s;")
    }
    assert(e3.msg.contains("positive"))
    // fractional gap must be the diagnostic, not a NumberFormatException
    val e3b = intercept[Parser.ParseError] {
      Parser.parseStream("stream sessionize E(u, t, v, i) gap 1.5 hours into s;")
    }
    assert(e3b.msg.contains("whole number"))
    // unknown stream verb
    val e4 = intercept[Parser.ParseError] {
      Parser.parseStream("stream compactify E(u) into s;")
    }
    assert(e4.msg.contains("dedup, sessionize, aggregate or enrich"))
  }

  test("stream aggregate statement parses to its golden AST") {
    val st = Parser.parseStream(
      "stream aggregate Events(event_type, value, event_id) into ev_mv;")
    assert(st == Ast.StreamAggregate("Events",
      Seq("event_type", "value", "event_id"), "ev_mv"))
  }

  test("stream aggregate statement rejects bad forms with the real diagnosis") {
    // wrong arity: the variables are positional (key, value, id)
    val e1 = intercept[Parser.ParseError] {
      Parser.parseStream("stream aggregate E(k, v) into t;")
    }
    assert(e1.msg.contains("(key, value, id)"))
    // repeated variables would silently alias two roles to one column
    val e2 = intercept[Parser.ParseError] {
      Parser.parseStream("stream aggregate E(k, k, i) into t;")
    }
    assert(e2.msg.contains("distinct"))
  }
}

/** Runtime semantics of the round-2 language features: runtime-type
  * dispatch over union tags (`Kernel/Drafts/draft_type:218-311`) and
  * demand-driven recursive funcs (`Kernel/Drafts/draft:75-89`). */
class HeroQLRuntimeSpec extends SparkSpec {

  test("semantic_dedup stage: analysis rejects bad compositions and bindings") {
    import org.apache.spark.sql.functions._
    val e = spark.range(40).select(col("id").as("vec_id"),
      array((col("id") % 7).cast("float"), lit(1.0f)).as("embedding"))
    def compile(cq: String) = HeroQL.compileCollection(
      "data Embs(vec_id: int64, embedding: vecf32).\n", cq, Map("Embs" -> e))
    // body must bind exactly (id, vec)
    val e1 = intercept[Analyzer.AnalysisError] { compile(
      """collection_query(vec_id, c, d, m) :-
           Embs(vec_id, embedding), extra <- vec_id + 1
         semantic_dedup(vec_id, embedding) threshold 0.4 as (c, d, m);""") }
    assert(e1.msg.contains("exactly"))
    // does not compose with group_by (the stage IS the aggregation)
    val e2 = intercept[Analyzer.AnalysisError] { compile(
      """collection_query(vec_id, c, d, m) :-
           Embs(vec_id, embedding)
         group_by vec_id(vec_id, n = Count(embedding))
         semantic_dedup(vec_id, embedding) threshold 0.4 as (c, d, m);""") }
    assert(e2.msg.contains("compose"))
    // output names must be distinct
    val e3 = intercept[Analyzer.AnalysisError] { compile(
      """collection_query(vec_id, c, d, m) :-
           Embs(vec_id, embedding)
         semantic_dedup(vec_id, embedding) threshold 0.4 as (c, c, m);""") }
    assert(e3.msg.contains("distinct"))
    // the happy path runs and yields the stage's fixed output shape
    val ok = compile(
      """collection_query(vec_id, c, d, m) :-
           Embs(vec_id, embedding)
         semantic_dedup(vec_id, embedding) threshold 0.4 as (c, d, m);""")
    assert(ok.columns.toSeq == Seq("vec_id", "c", "d", "m"))
    assert(ok.count() > 0)
  }

  test("pipeline stages compose with having and order_by downstream") {
    import org.apache.spark.sql.functions._
    // 6 docs: two exact triples with DISJOINT vocabularies (a shared
    // suffix would make the two groups legitimate near-dups at any
    // low threshold) → two clusters of size 3
    val docs = spark.range(6).select(col("id"),
      when(col("id") % 2 === 0,
        lit("alpha beta gamma delta epsilon zeta eta theta"))
        .otherwise(lit("one two three four five six seven eight"))
        .as("text"))
    val out = HeroQL.compileCollection(
      "data Docs(id: int64, text: string).\n",
      """collection_query(id, k, t, n) :-
           Docs(id, text)
         near_dedup(id, text) threshold 0.25 as (k, t, n)
         :- n > 1
         order_by id;""",
      Map("Docs" -> docs))
    val rows = out.collect()
    assert(rows.length == 6 && rows.map(_.getLong(0)).toSeq == (0L to 5L))
    assert(rows.forall(_.getLong(3) == 3L),
      s"expected two clusters of 3: ${rows.mkString(",")}")
  }

  test("range_agg bind arguments must resolve to the declared (ts, val) fields") {
    import org.apache.spark.sql.functions._
    val probes = spark.range(5).select(col("id").as("pid"),
      (col("id") * 10).as("t0"))
    val events = spark.range(50).select((col("id") % 40).as("tns"),
      col("id").as("vmicro"))
    def compile(binds: String) = HeroQL.compileCollection(
      """data Probes(pid: int64, t0: int64).
        |data Events(tns: int64, vmicro: int64).
        |""".stripMargin,
      s"""collection_query(pid, t0) :-
           Probes(pid, t0)
         range_agg Events(tns, vmicro) within 10 of t0 ($binds);""",
      Map("Probes" -> probes, "Events" -> events))
    // Sum over a variable that is NOT the declared value field used to
    // silently aggregate vmicro anyway — now an analysis error
    val e1 = intercept[Analyzer.AnalysisError] {
      compile("n = Count(tns), s = Sum(t0)") }
    assert(e1.msg.contains("argument"))
    val e2 = intercept[Analyzer.AnalysisError] {
      compile("n = Count(pid), s = Sum(vmicro)") }
    assert(e2.msg.contains("argument"))
    // the declared fields pass
    val ok = compile("n = Count(tns), s = Sum(vmicro)")
    assert(ok.columns.toSeq == Seq("pid", "n", "s"))
  }

  test("multi-quantile language aggregate matches the DataFrame sketch, point by point") {
    import org.apache.spark.sql.functions._
    val items = Tables.t(spark, sf, "lineitem").select(
      col("l_returnflag").as("flag"),
      (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
      expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val viaLanguage = graft.heroql.HeroQL.compile(
      """data ItemsP(flag: string, rid: int64, cents: int64).
        |query Quartiles(flag: string) -> (qs: string)
        |:- ItemsP(flag, rid, cents),
        |   @partition(flag),
        |   @aggregate(approx_quantiles(rid, cents, 0.25, 0.5, 0.75)),
        |   qs <- cents
        |.""".stripMargin,
      "Quartiles", Map("ItemsP" -> items))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaDf = items.groupBy("flag")
      .agg(graft.functions.KmvSketch.approxQuantiles(
        col("rid"), col("cents"), Seq(0.25, 0.5, 0.75)).cast("string").as("qs"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(viaLanguage == viaDf && viaLanguage.nonEmpty)
    // each point of the array equals the scalar aggregate at that point
    val scalars = Seq(0.25, 0.5, 0.75).map(q => items.groupBy("flag")
      .agg(graft.functions.KmvSketch.approxQuantile(
        col("rid"), col("cents"), q).as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    val arrays = items.groupBy("flag")
      .agg(graft.functions.KmvSketch.approxQuantiles(
        col("rid"), col("cents"), Seq(0.25, 0.5, 0.75)).as("qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    arrays.foreach { case (flag, qs) =>
      assert(qs == scalars.map(_(flag)), s"quantile points diverge for $flag")
    }
  }

  test("r9 scrub builtins compile to the operator-form expressions, redaction effective") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "mail me at bob@example.org today"),
      (2L, "plain words only here"),
    ).toDF("id", "text")
    val got = graft.heroql.HeroQL.compile(
      """data Docs(id: int64, text: string).
        |query S(id: int64) -> (sh: int64, rfp: int64)
        |:- Docs(id, text),
        |   sh <- simhash(text),
        |   red <- redact(text),
        |   rfp <- fingerprint(red)
        |.""".stripMargin, "S", Map("Docs" -> docs))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val want = docs
      .select(col("id"),
        graft.operators.TextFns.simhashOf(col("text")).as("sh"),
        graft.operators.TextFns.fingerprintOf(
          graft.operators.TextFns.redactPii(col("text"))).as("rfp"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
    // the email was actually redacted: fp differs from the raw text's
    val rawFp = docs.filter(col("id") === 1L)
      .select(graft.operators.TextFns.fingerprintOf(col("text")))
      .head().getLong(0)
    assert(got(1L)._2 != rawFp, "redact(text) left the email in place")
  }

  test("hq24 magic sets: the restricted fixpoint evaluates a small fraction of the closure") {
    // the gate's real point: Anc(150, a) must NOT materialize the full
    // ancestor closure — the magic restriction keeps the accumulated
    // rows to node 150's ancestor chain (O(depth²)), and the result
    // still matches the full-closure slice
    graft.heroql.Planner.fixpointStatsEnabled = true
    val full = graft.queries.HeroQueries.queries("hq21_recursive_rule")(spark, sf)
      .count()
    val got = graft.queries.HeroQueries.queries("hq24_magic_sets")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(graft.heroql.Planner.lastFixpointDemand == Seq("child"),
      s"magic restriction did not engage: ${graft.heroql.Planner.lastFixpointDemand}")
    val acc = graft.heroql.Planner.lastFixpointAccRows
    assert(acc > 0 && acc < full / 10,
      s"restricted fixpoint accumulated $acc rows vs $full full-closure rows")
    // ancestors of 150 under parent = child // 2: 75, 37, 18, 9, 4, 2, 1
    assert(got == Set(75L, 37L, 18L, 9L, 4L, 2L, 1L), s"got $got")
  }

  test("recursive Fib: demand-driven memo matches the closed sequence") {
    import spark.implicits._
    val src =
      """data Nums(pk: int64, n: int64).
        |func Fib(in i, out o);
        |case Fib(0, 1);
        |case Fib(1, 1);
        |case Fib(i, o) :- Fib(i-1, x1), Fib(i-2, x2), o <- x1 + x2;
        |query FibOf(pk: int64) -> (n: int64, fib: int64)
        |:- Nums(pk, n), Fib(n, fib)
        |.""".stripMargin
    // sparse demands — the closure must pull in the un-demanded middle
    val nums = Seq((1L, 0L), (2L, 1L), (3L, 7L), (4L, 15L)).toDF("pk", "n")
    val got = HeroQL.compile(src, "FibOf", Map("Nums" -> nums))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == Map(0L -> 1L, 1L -> 1L, 7L -> 21L, 15L -> 987L))
  }

  test("recursive Fib: distributed fixpoint path agrees with the local memo") {
    import spark.implicits._
    val src =
      """data Nums(pk: int64, n: int64).
        |func Fib(in i, out o);
        |case Fib(0, 1);
        |case Fib(1, 1);
        |case Fib(i, o) :- Fib(i-1, x1), Fib(i-2, x2), o <- x1 + x2;
        |query FibOf(pk: int64) -> (n: int64, fib: int64)
        |:- Nums(pk, n), Fib(n, fib)
        |.""".stripMargin
    val nums = Seq((1L, 6L), (2L, 9L)).toDF("pk", "n")
    val saved = graft.heroql.Planner.localMemoThreshold
    try {
      graft.heroql.Planner.localMemoThreshold = 0 // force distributed
      val got = HeroQL.compile(src, "FibOf", Map("Nums" -> nums))
        .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(got == Map(6L -> 13L, 9L -> 55L))
    } finally graft.heroql.Planner.localMemoThreshold = saved
  }

  test("distributed memo join-back honors the broadcast size gate") {
    // the distributed path is chosen when demand outgrows one node, so the
    // memo join-back must be able to run WITHOUT a broadcast: force the
    // gate shut and every broadcast heuristic off, and require the same
    // rows from a pure shuffle join
    import spark.implicits._
    val src =
      """data Nums(pk: int64, n: int64).
        |func Fib(in i, out o);
        |case Fib(0, 1);
        |case Fib(1, 1);
        |case Fib(i, o) :- Fib(i-1, x1), Fib(i-2, x2), o <- x1 + x2;
        |query FibOf(pk: int64) -> (n: int64, fib: int64)
        |:- Nums(pk, n), Fib(n, fib)
        |.""".stripMargin
    val nums = Seq((1L, 6L), (2L, 9L), (3L, 12L)).toDF("pk", "n")
    val saved = graft.heroql.Planner.localMemoThreshold
    val savedThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      graft.heroql.Planner.localMemoThreshold = 0
      spark.conf.set(graft.operators.SizeGate.MaxRowsConf, "0")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = HeroQL.compile(src, "FibOf", Map("Nums" -> nums))
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"memo join-back still broadcasts with the gate forced shut:\n$plan")
      val got = df.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(got == Map(6L -> 13L, 9L -> 55L, 12L -> 233L))
    } finally {
      graft.heroql.Planner.localMemoThreshold = saved
      spark.conf.unset(graft.operators.SizeGate.MaxRowsConf)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThresh)
    }
  }

  test("multi-arg recursion: Pascal C(n,k) on both evaluation paths") {
    import spark.implicits._
    val src =
      """data Pairs(pk: int64, n: int64, k: int64).
        |func Comb(in n, in k, out o);
        |case Comb(n, 0, 1);
        |case Comb(n, k, 1) :- k == n;
        |case Comb(n, k, o) :- Comb(n-1, k-1, x1), Comb(n-1, k, x2), o <- x1 + x2;
        |query C(pk: int64) -> (n: int64, k: int64, c: int64)
        |:- Pairs(pk, n, k), Comb(n, k, c)
        |.""".stripMargin
    val pairs = Seq((1L, 5L, 2L), (2L, 10L, 3L), (3L, 7L, 0L), (4L, 6L, 6L))
      .toDF("pk", "n", "k")
    val want = Map((5L, 2L) -> 10L, (10L, 3L) -> 120L, (7L, 0L) -> 1L, (6L, 6L) -> 1L)
    def got() = HeroQL.compile(src, "C", Map("Pairs" -> pairs))
      .collect().map(r => (r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(got() == want)
    val saved = graft.heroql.Planner.localMemoThreshold
    try {
      graft.heroql.Planner.localMemoThreshold = 0 // force distributed
      assert(got() == want)
    } finally graft.heroql.Planner.localMemoThreshold = saved
  }

  test("ensure passes rows through when it holds, aborts the job when violated") {
    import spark.implicits._
    val nums = Seq((1L, 5L), (2L, 9L), (3L, -2L)).toDF("pk", "n")
    val ok = HeroQL.compile(
      """data Nums(pk: int64, n: int64).
        |query Q(pk: int64, n: int64)
        |:- Nums(pk, n), ensure (n > -10 and n < 10), n > 0
        |.""".stripMargin, "Q", Map("Nums" -> nums))
    assert(ok.collect().length == 2) // ensure holds for all 3, filter keeps 2
    val bad = HeroQL.compile(
      """data Nums(pk: int64, n: int64).
        |query Q(pk: int64, n: int64)
        |:- Nums(pk, n), ensure n >= 0
        |.""".stripMargin, "Q", Map("Nums" -> nums))
    val ex = intercept[Exception] { bad.collect() }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(ex).exists(_.contains("ensure failed")),
      s"expected ensure abort, got: ${chain(ex).mkString(" | ")}")
  }

  test("boolean if/then/else dispatches inside func guards") {
    import spark.implicits._
    val nums = Seq((1L, 5L), (2L, 15L), (3L, 25L)).toDF("pk", "n")
    val got = HeroQL.compile(
      """data Nums(pk: int64, n: int64).
        |func Band(in n, out b);
        |case Band(n, b) :- n < 10 or n > 20, b <- "edge";
        |case Band(n, b) :- b <- "mid";
        |query Q(pk: int64) -> (b: string)
        |:- Nums(pk, n), Band(n, b)
        |.""".stripMargin, "Q", Map("Nums" -> nums))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "edge", 2L -> "mid", 3L -> "edge"))
  }

  test("byte-budgeted driver memo: a tiny budget flips to the distributed path with identical results") {
    import spark.implicits._
    val src =
      """data Nums(pk: int64, n: int64).
        |func Fib(in i, out o);
        |case Fib(0, 1);
        |case Fib(1, 1);
        |case Fib(i, o) :- Fib(i-1, x1), Fib(i-2, x2), o <- x1 + x2;
        |query FibOf(pk: int64) -> (n: int64, fib: int64)
        |:- Nums(pk, n), Fib(n, fib)
        |.""".stripMargin
    val nums = Seq((1L, 8L), (2L, 11L)).toDF("pk", "n")
    def got() = HeroQL.compile(src, "FibOf", Map("Nums" -> nums))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val want = Map(8L -> 34L, 11L -> 144L)
    assert(got() == want)
    val saved = graft.heroql.Planner.localMemoMaxBytes
    try {
      graft.heroql.Planner.localMemoMaxBytes = 0L // heap budget exhausted
      assert(got() == want, "distributed path must agree under a zero byte budget")
    } finally graft.heroql.Planner.localMemoMaxBytes = saved
  }

  test("transaction query: failure mid-transaction publishes nothing") {
    import spark.implicits._
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-txn-spec-").toString)
    store.create("T", Seq((1L, 5L), (2L, 9L)).toDF("x", "y"))
    val commits = store.commitCount()
    val src =
      """data T(x: int64, y: int64).
        |data U(x: int64, y: int64).
        |transaction query Bad()
        |:- T(x, y), ensure y < 0, @insert U(x, y), @remove T(x, _)
        |.""".stripMargin
    intercept[Exception] {
      HeroQL.executeTransaction(src, "Bad", Map.empty, store)
    }
    assert(store.commitCount() == commits, "failed transaction must not commit")
    assert(store.read("T").count() == 2, "failed transaction must not mutate")
    assert(!store.exists("U"))
  }

  test("transaction(importance) query: the class parses and yields-then-wins under contention") {
    import spark.implicits._
    import graft.store.WriteConflictException
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-txn-spec-").toString)
    store.create("T", Seq((1L, 5L)).toDF("x", "y"))
    val src =
      """data T(x: int64, y: int64).
        |transaction(9) query Urgent()
        |:- @insert T(100, 100)
        |.""".stripMargin
    // importance is a declaration attribute: parse surfaces it
    val ast = graft.heroql.Parser.parse(src)
    assert(ast.transactions.head.importance == 9)
    // and it drives the store's prioritized commit: while the language
    // transaction's class-9 twin is open, a plain writer yields
    store.transactionImportance(9) { hi =>
      hi.insert("T", Seq((100L, 100L)).toDF("x", "y"))
      intercept[WriteConflictException] {
        store.transaction(lo => lo.insert("T", Seq((7L, 7L)).toDF("x", "y")))
      }
    }
    // the language route itself executes (retry loop + importance)
    HeroQL.executeTransaction(src, "Urgent", Map.empty, store)
    assert(store.read("T")
      .filter(org.apache.spark.sql.functions.col("x") === 100L).count() == 2)
  }

  test("@update: a constant in match position restricts the matched rows") {
    import spark.implicits._
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-txn-spec-").toString)
    store.create("Exams",
      Seq(("bob", "math", 50L), ("bob", "art", 60L), ("amy", "math", 70L))
        .toDF("student", "subject", "score"))
    val src =
      """data Exams(student: string, subject: string, score: int64).
        |data Regrade(student: string, newScore: int64).
        |transaction query Fix()
        |:- Regrade(student, newScore),
        |   @update Exams(student, "math", @newScore)
        |.""".stripMargin
    HeroQL.executeTransaction(src, "Fix",
      Map("Regrade" -> Seq(("bob", 90L)).toDF("student", "newScore")), store)
    val got = store.read("Exams").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // only bob's MATH row changes — dropping the constant would also
    // rewrite bob's art score, and an all-pairs degenerate join could
    // touch amy
    assert(got == Map(("bob", "math") -> 90L, ("bob", "art") -> 60L,
      ("amy", "math") -> 70L), s"got $got")
  }

  private def chainEdges = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 10L)).toDF("a", "b")
  }

  test("demand at an invariant position is refused when the recursion is reached indirectly") {
    // D reaches Reach through its own body: the sliced loop state would
    // starve D's derivations — the planner must fall back to the full
    // fixpoint (and still produce the right rows)
    val src =
      """data E(a: int64, b: int64).
        |query Reach(a: int64, b: int64)
        |:- E(a, b)
        |;  Step(a, m), Reach(m, b)
        |.
        |query Step(a: int64, m: int64)
        |:- E(a, m), Reach(m, _)
        |.
        |query Into(a: int64)
        |:- Reach(a, 5)
        |.""".stripMargin
    // Step reaches Reach positively → through-count ≠ direct-count →
    // no position is invariant → the demand must NOT seed (a sliced
    // loop state would starve Step's derivations); full evaluation
    // with the naive accumulator binding is the correct route
    val got = HeroQL.compile(src, "Into", Map("E" -> chainEdges))
      .collect().map(_.getLong(0)).toSet
    assert(Planner.lastFixpointDemand.isEmpty,
      "indirect self-reference must refuse the seeded slice")
    val full = HeroQL.compile(src, "Reach", Map("E" -> chainEdges))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = full.collect { case (a, b) if b == 5L => a }
    assert(got == want, s"extra=${got -- want} missing=${want -- got}")
  }

  test("aggregation in an INLINED query of a recursive alternative is rejected") {
    val src =
      """data E(a: int64, b: int64).
        |query Agg(a: int64) -> (t: int64)
        |:- R(a, s), @partition(a), @aggregate(sum(s)), t <- s
        |.
        |query R(a: int64, b: int64)
        |:- E(a, b)
        |;  E(a, m), R(m, b), Agg2(b, _)
        |.
        |query Agg2(b: int64, t: int64)
        |:- R(b, s), @partition(b), @aggregate(count(s)), t <- s
        |.""".stripMargin
    val e = intercept[Analyzer.AnalysisError] {
      HeroQL.compile(src, "R", Map("E" -> chainEdges)).collect()
    }
    assert(e.getMessage.contains("not stratified") ||
      e.getMessage.contains("calculating"), e.getMessage)
  }

  test("recursive func: a let bound before the self-call is in scope for its key") {
    import spark.implicits._
    val src =
      """data Nums(pk: int64, n: int64).
        |func Tri(in i, out o);
        |case Tri(i, o) :- i <= 0, o <- 0;
        |case Tri(i, o) :- m <- i - 1, Tri(m, a), o <- a + i;
        |query T(pk: int64) -> (o: int64) :- Nums(pk, n), Tri(n, o)
        |.""".stripMargin
    val nums = Seq((1L, 4L), (2L, 10L)).toDF("pk", "n")
    def got() = HeroQL.compile(src, "T", Map("Nums" -> nums))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 10L, 2L -> 55L)
    assert(got() == want, s"got ${got()}")
    // the distributed path must agree — pre-fix it compiled the let's
    // variable to an unresolvable column above the demand threshold
    val saved = graft.heroql.Planner.localMemoMaxBytes
    try {
      graft.heroql.Planner.localMemoMaxBytes = 0L
      assert(got() == want, "distributed path must resolve let-bound self-call args")
    } finally graft.heroql.Planner.localMemoMaxBytes = saved
  }

  test("transaction query: multi-table move commits atomically with read-at-start bindings") {
    import spark.implicits._
    val store = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-txn-spec-").toString)
    store.create("T", Seq((1L, 5L), (2L, 9L), (3L, 1L)).toDF("x", "y"))
    val commits = store.commitCount()
    val src =
      """data T(x: int64, y: int64).
        |data U(x: int64, y: int64).
        |transaction query Move()
        |:- T(x, y), y > 3, @insert U(x, y), @remove T(x, y)
        |.""".stripMargin
    HeroQL.executeTransaction(src, "Move", Map.empty, store)
    assert(store.commitCount() == commits + 1, "one atomic commit for both tables")
    assert(store.read("T").collect().map(_.getLong(0)).toSet == Set(3L))
    assert(store.read("U").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("recursive func without a base case is rejected") {
    import spark.implicits._
    val src =
      """data Nums(pk: int64, n: int64).
        |func Loop(in i, out o);
        |case Loop(i, o) :- Loop(i-1, x), o <- x;
        |query L(pk: int64) -> (o: int64) :- Nums(pk, n), Loop(n, o)
        |.""".stripMargin
    val e = intercept[Analyzer.AnalysisError] {
      HeroQL.compile(src, "L",
        Map("Nums" -> Seq((1L, 3L)).toDF("pk", "n"))).collect()
    }
    assert(e.getMessage.contains("base case") ||
      e.getMessage.contains("exceeded"))
  }

  test("union dispatch selects the clause by runtime tag and reads payload fields") {
    import org.apache.spark.sql.functions._
    val src =
      """union Shape = Circle | Rect.
        |data Shapes(pk: int64, s: Shape).
        |func Area(in s : Shape, out a);
        |case Area(c : Circle, a) :- a <- 2.0 * c.r;
        |case Area(r : Rect, a) :- a <- r.w * r.h;
        |query Areas(pk: int64) -> (area: double) :- Shapes(pk, s), Area(s, area)
        |.""".stripMargin
    val base = spark.range(4).select(col("id").as("pk"))
    val shapes = base.select(col("pk"), graft.types.UnionType.encodeWhen(Seq(
      (col("pk") % 2 === 0, 0, struct((col("pk") + 1).cast("double").as("r"))),
      (col("pk") % 2 === 1, 1, struct(lit(3.0).as("w"), col("pk").cast("double").as("h")))),
      arity = 2).as("s"))
    val got = HeroQL.compile(src, "Areas", Map("Shapes" -> shapes))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 2.0, 1L -> 3.0, 2L -> 6.0, 3L -> 9.0))
  }

  test("a declared Unique index gates @insert with the real diagnosis") {
    import org.apache.spark.sql.functions._
    val prog = """
data Roster(student: string, score: int).
query Enroll(student: string, score: int)
:-  @insert Roster(student, score)
.
index Roster { Unique(student) }
"""
    val st = new graft.store.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft-uniq-rt-").toString)
    val rows = spark.range(5).select(
      concat(lit("s"), col("id")).as("student"), col("id").cast("int").as("score"))
    graft.heroql.HeroQL.executeMutation(prog, "Enroll", rows, st)
    assert(st.read("Roster").count() === 5)
    // committed-key clash names the index columns and the count
    val e = intercept[graft.heroql.Analyzer.AnalysisError] {
      graft.heroql.HeroQL.executeMutation(prog, "Enroll", rows.limit(2), st)
    }
    assert(e.getMessage.contains("Unique(student)") &&
      e.getMessage.contains("already present"))
    assert(st.read("Roster").count() === 5, "rejected batch must not land")
    // batch-internal duplicate
    val e2 = intercept[graft.heroql.Analyzer.AnalysisError] {
      graft.heroql.HeroQL.executeMutation(prog, "Enroll",
        spark.range(2).select(lit("dup").as("student"),
          col("id").cast("int").as("score")), st)
    }
    assert(e2.getMessage.contains("within the inserted batch"))
  }

  test("procedure: read-your-writes across statements, atomic failure, param checks") {
    import org.apache.spark.sql.functions._
    val prog = """
data T(x: int64).
data U(x: int64).
data V(x: int64).
procedure Chain(k: int64) {
    T(x), x > k, @insert U(x);
    U(x), y <- x * 10, @insert V(y);
}
procedure Bad(k: int64) {
    T(x), @insert U(x);
    T(x), ensure x < k, @insert V(x);
}
"""
    def fresh() = {
      val st = new graft.store.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft-proc-").toString)
      st.create("T", spark.range(1, 6).select(col("id").as("x")))
      st
    }
    // statement 2 reads the U rows statement 1 just inserted (RYW)
    val st = fresh()
    graft.heroql.HeroQL.executeProcedure(prog, "Chain", Map("k" -> 3L), st)
    assert(st.read("U").collect().map(_.getLong(0)).sorted.toSeq === Seq(4L, 5L))
    assert(st.read("V").collect().map(_.getLong(0)).sorted.toSeq === Seq(40L, 50L))
    // a failure in statement 2 publishes NOTHING — not even statement 1
    val st2 = fresh()
    val commits = st2.commitCount()
    intercept[Exception] {
      graft.heroql.HeroQL.executeProcedure(prog, "Bad", Map("k" -> 3L), st2)
    }
    assert(st2.commitCount() === commits, "failed procedure must not commit")
    assert(!st2.exists("U") && !st2.exists("V"))
    // parameter names are checked against the declaration
    val e = intercept[graft.heroql.Analyzer.AnalysisError] {
      graft.heroql.HeroQL.executeProcedure(prog, "Chain", Map("wrong" -> 1L), st2)
    }
    assert(e.getMessage.contains("expects (k)"))
    val e2 = intercept[graft.heroql.Analyzer.AnalysisError] {
      graft.heroql.HeroQL.executeProcedure(prog, "Nope", Map.empty, st2)
    }
    assert(e2.getMessage.contains("no procedure named"))
  }

  test("Unique index gates @insert inside transaction and for blocks too") {
    import org.apache.spark.sql.functions._
    val prog = """
data Roster(student: string, score: int).
data Incoming(student: string, score: int).
index Roster { Unique(student) }
transaction query Enroll() :- Incoming(student, score), @insert Roster(student, score).
for query(student, score) :- Incoming(student, score)
( set Roster(student, score) )
"""
    def freshStore(dups: Boolean) = {
      val st = new graft.store.TableStore(spark,
        java.nio.file.Files.createTempDirectory("graft-uniq-tx-").toString)
      st.create("Roster", spark.range(3).select(
        concat(lit("s"), col("id")).as("student"), col("id").cast("int").as("score")))
      val inc =
        if (dups) spark.range(2).select(lit("s1").as("student"),
          col("id").cast("int").as("score"))
        else spark.range(2).select(concat(lit("n"), col("id")).as("student"),
          col("id").cast("int").as("score"))
      st.create("Incoming", inc)
      st
    }
    // clean batch commits through both entry points
    val okT = freshStore(dups = false)
    graft.heroql.HeroQL.executeTransaction(prog, "Enroll", Map.empty, okT)
    assert(okT.read("Roster").count() === 5)
    // a clashing batch rejects through executeTransaction...
    val badT = freshStore(dups = true)
    val e = intercept[graft.heroql.Analyzer.AnalysisError] {
      graft.heroql.HeroQL.executeTransaction(prog, "Enroll", Map.empty, badT)
    }
    assert(e.getMessage.contains("Unique(student)"))
    assert(badT.read("Roster").count() === 3, "rejected txn must not land")
    // ...and through executeFor's set action
    val badF = freshStore(dups = true)
    val e2 = intercept[graft.heroql.Analyzer.AnalysisError] {
      graft.heroql.HeroQL.executeFor(prog, Map.empty, badF)
    }
    assert(e2.getMessage.contains("Unique(student)"))
    assert(badF.read("Roster").count() === 3)
  }

}
