package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.heroql.{Catalog, HeroQL}

/** End-to-end HeroQL: the reference's own design-doc queries
  * (`Kernel/README.md:107-234`), parsed from actual HeroQL text,
  * mode-analyzed, planned to DataFrames, and oracle-checked.
  *
  * Catalog bindings (warehouse-derived):
  *  - Exams(student, score)    := orders (student = custkey as string,
  *    score = floor(totalprice) as int)
  *  - Father/Mother(p, child)  := part hierarchy split by child parity
  *  - Person(id)               := part keys
  *  - Coef(pk, a, b, c)        := part (quadratic coefficients)
  *
  * Every query compiles against a lazy catalog with an id
  * (`HeroQueries.catalog@<dir>`, and `nsCatalog`, `docsCatalog`,
  * `scrubCatalog` for the other programs), so a call builds only the
  * bindings its query reaches: hq9 scans `orders` and nothing else. A
  * repeated call reuses the analyzed plan ([[HeroQL.compile]]), keyed on
  * the session, program, query, catalog id and the session's SQL conf,
  * and valid while every scanned root lists the same files (path,
  * length, mtime) as when it was planned. Each call still optimizes,
  * plans and executes afresh. Compiles that run a Spark job are never
  * cached: the recursive rules (hq21-hq24) and recursive funcs (hq11,
  * hq12) compile on every call.
  */
object HeroQueries extends QueryPack {

  /** The HeroQL program — transcribed from the reference's samples:
    * Top10 (`Kernel/README.md:169-174`), Top3PerStudent
    * (`Kernel/README.md:180-185`), AvgTop3 (`Kernel/README.md:197-205`),
    * Parents/GrandParents (`Kernel/README.md:107-121,144-152`), Solve
    * (`Kernel/README.md:131-134`), not-exists (`Kernel/Drafts/
    * draft_type:190`). */
  val program: String = """
data Exams(student: string, score: int).
data Father(father: int64, child: int64).
data Mother(mother: int64, child: int64).
data Person(id: int64).
data Coef(pk: int64, a: double, b: double, c: double).
data Items(flag: string, pk: int64).
data ItemsQ(flag: string, pk: int64, qty: int64).
data ItemsP(flag: string, rid: int64, cents: int64).

query Top10() -> (student: string, score: int)
:-  Exams(student, score),
    order <- @order_by_desc(score),
    order < 10
.

query Top3PerStudent(student: string) -> (score: int, order: int)
:-  Exams(student, score),
    @partition(student),
    order <- @order_by_desc(score),
    order < 3
.

query AvgTop3(student: string) -> (average: int)
:-  Exams(student, score),
    @partition(student),
    order <- @order_by_desc(score),
    order < 3,
    @aggregate(average(score)),
    average <- score
.

query ApproxParts(flag: string) -> (approx_parts: int64)
:-  Items(flag, pk),
    @partition(flag),
    @aggregate(approx_distinct(pk)),
    approx_parts <- pk
.

query ApproxQtyOverParts(flag: string) -> (approx_qty: int64)
:-  ItemsQ(flag, pk, qty),
    @partition(flag),
    @aggregate(approx_sum_distinct(pk, qty)),
    approx_qty <- qty
.

query ApproxMedianPrice(flag: string) -> (approx_med: int64)
:-  ItemsP(flag, rid, cents),
    @partition(flag),
    @aggregate(approx_median(rid, cents)),
    approx_med <- cents
.

query ApproxP95Price(flag: string) -> (approx_p95: int64)
:-  ItemsP(flag, rid, cents),
    @partition(flag),
    @aggregate(approx_quantile(rid, cents, 0.95)),
    approx_p95 <- cents
.

query Parents(parent: int64, child: int64)
:-  Father(parent, child)
;   Mother(parent, child)
.

query GrandParents(grandParent: int64, grandChild: int64)
:-  Parents(grandParent, parent),
    Parents(parent, grandChild)
.

query GrandParentsSub(grandParent: int64, grandChild: int64)
:-  (parent, grandChild)
    :-  Father(parent, grandChild)
    ;   Mother(parent, grandChild)
    .,
    Parents(grandParent, parent)
.

query Anc(child: int64, anc: int64)
:-  Parents(anc, child)
;   Parents(mid, child), Anc(mid, anc)
.

query AncCount(child: int64) -> (n_anc: int64)
:-  Anc(child, anc),
    @partition(child),
    @aggregate(count(anc)),
    n_anc <- anc
.

query DescOf(d: int64)
:-  Anc(d, 5)
.

query AncestorsOf(a: int64)
:-  Anc(150, a)
.

query Quad(pk: int64) -> (delta: double, x1: double, x2: double)
:-  Coef(pk, a, b, c),
    delta <- b*b - 4*a*c,
    delta > 0,
    x1 <- (-b + delta) / (2 * a),
    x2 <- (-b - delta) / (2 * a)
.

query Childless(id: int64)
:-  Person(id),
    not exists Father(id, _),
    not exists Mother(id, _)
.

func Grade(in score, out label);
case Grade(s, l) :- s >= 40, l <- "high";
case Grade(s, l) :- s >= 20, l <- "mid";
case Grade(s, l) :- l <- "low";

query Graded(student: string, score: int) -> (label: string)
:-  Exams(student, score),
    Grade(score, label)
.

union Shape = Circle(r: double) | Rect(w: double, h: double) | Point(x: double).
data Shapes(pk: int64, s: Shape).

func Area(in s : Shape, out a);
case Area(c : Circle, a) :- a <- 3.14 * c.r * c.r;
case Area(r : Rect, a) :- a <- r.w * r.h;
case Area(p : Point, a) :- a <- 0.0;

query ShapeAreas(pk: int64) -> (area: double)
:-  Shapes(pk, s),
    Area(s, area)
.

query BoxedAreas(pk: int64) -> (area: double)
:-  Coef(pk, a, b, c),
    s <- Rect{ w = a, h = b },
    Area(s, area)
.

data Nums(pk: int64, n: int64).

func Fib(in i, out o);
case Fib(0, 1);
case Fib(1, 1);
case Fib(i, o) :- Fib(i-1, x1), Fib(i-2, x2), o <- x1 + x2;

query FibOf(pk: int64) -> (n: int64, fib: int64)
:-  Nums(pk, n),
    Fib(n, fib)
.

data Pairs(pk: int64, n: int64, k: int64).

func Comb(in n, in k, out o);
case Comb(n, 0, 1);
case Comb(n, k, 1) :- k == n;
case Comb(n, k, o) :- Comb(n-1, k-1, x1), Comb(n-1, k, x2), o <- x1 + x2;

query ChooseOf(pk: int64) -> (n: int64, k: int64, c: int64)
:-  Pairs(pk, n, k),
    Comb(n, k, c)
.

query BoolSieve(student: string, score: int)
:-  Exams(student, score),
    (score > 150000 or score < 50000) and not score == 100000,
    if score > 150000 then score > 160000 else score < 40000
.

query EitherParent(parent: int64, child: int64)
:-  (Father(parent, child) or Mother(parent, child)) and child > 100
.

query EnsuredScores(student: string, score: int)
:-  Exams(student, score),
    ensure (score >= 0 and score < 10000000),
    score > 100000
.

query Described(student: string, score: int) -> (msg: string)
:-  Exams(student, score),
    msg <- $"student $(student) scored $(score + 1) points"
.
"""

  /** [[program]]'s bindings over the warehouse at `d`, each built only
    * when a query reaches it. */
  private[graft] def catalog(s: SparkSession, d: String): Catalog = {
    def part = t(s, d, "part")
    def lineitem = t(s, d, "lineitem")
    lazy val edges = part
      .select(expr("p_partkey div 2").as("father"), col("p_partkey").as("child"))
      .filter(col("father") >= 1)
    Catalog.lazily(s"HeroQueries.catalog@$d")(
      "Exams" -> (() => t(s, d, "orders").select(
        col("o_custkey").cast("string").as("student"),
        expr("CAST(floor(o_totalprice) AS INT)").as("score"))),
      "Father" -> (() => edges.filter(col("child") % 2 === 0)),
      "Mother" -> (() => edges.filter(col("child") % 2 === 1)
        .withColumnRenamed("father", "mother")),
      "Person" -> (() => part.select(col("p_partkey").as("id"))),
      "Coef" -> (() => part.select(
        col("p_partkey").as("pk"),
        col("p_size").cast("double").as("a"),
        (col("p_retailprice") / 100.0).as("b"),
        lit(1.0).as("c"))),
      // Shapes: union-typed column in the FROZEN UnionType struct encoding
      // (tag 0=Circle{r}, 1=Rect{w,h}, 2=Point{x}) — variant chosen by key
      // residue, payloads from part attributes
      "Shapes" -> { () =>
        val m3 = col("p_partkey") % 3
        part.select(col("p_partkey").as("pk"),
          graft.types.UnionType.encodeWhen(Seq(
            (m3 === 0, 0, struct(col("p_size").cast("double").as("r"))),
            (m3 === 1, 1, struct(col("p_size").cast("double").as("w"),
              (col("p_retailprice") / 100.0).as("h"))),
            (m3 === 2, 2, struct(lit(0.0).as("x")))), arity = 3).as("s"))
      },
      "Nums" -> (() => part.select(col("p_partkey").as("pk"),
        (col("p_partkey") % 21).as("n"))),
      // (n, k) with 0 <= k <= n <= 17: Pascal-recursion demands stay exact
      // in int64 and the closure is the full triangle
      "Pairs" -> (() => part.select(col("p_partkey").as("pk"),
        (col("p_partkey") % 18).as("n"),
        (expr("p_partkey div 7") % (col("p_partkey") % 18 + 1)).as("k"))),
      "Items" -> (() => lineitem.select(
        col("l_returnflag").as("flag"), col("l_partkey").as("pk"))),
      "ItemsQ" -> (() => lineitem.select(
        col("l_returnflag").as("flag"), col("l_partkey").as("pk"),
        floor(col("l_quantity")).cast("long").as("qty"))),
      // rid is the collision-free row identity (linenumber is 1..7 in the
      // warehouse, so *10 keeps it injective) the sample sketch hashes
      "ItemsP" -> (() => lineitem.select(
        col("l_returnflag").as("flag"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("cents"))))
  }

  private def run(name: String)(s: SparkSession, d: String): DataFrame =
    HeroQL.compile(s, program, name, catalog(s, d))

  /** Namespaces, `using namespace`, qualified references and a global
    * readonly value (`Kernel/Drafts/draft:168-197`,
    * `Kernel/README.md:247-249`) — declarations live in `Sales`, the
    * root query reaches them via `using`, and the threshold is a global
    * constant resolved from inside the namespace. */
  private val nsProgram = """
Threshold <- 150000.0.

namespace Sales
{
    data Orders(k: int64, price: double).

    query Big(k: int64) -> (price: double)
    :-  Orders(k, price), price > Threshold
    .
}

using namespace Sales;

query Report(k: int64) -> (price: double, tag: string)
:-  Big(k, price),
    tag <- $"big $(k)"
.
"""

  private def runNs(s: SparkSession, d: String): DataFrame =
    HeroQL.compile(s, nsProgram, "Report", Catalog.lazily(s"HeroQueries.nsCatalog@$d")(
      "Sales::Orders" -> (() => t(s, d, "orders").select(
        col("o_orderkey").as("k"), col("o_totalprice").as("price")))))

  /** hq18 — the 100 TB dedup shape (pipe2/st5b's fingerprint key)
    * reachable from the LANGUAGE surface: the `fingerprint` builtin
    * computes the ~60-bit key map-side inside a parsed HeroQL
    * collection query, and the group_by keeper aggregation shuffles
    * 8-byte longs, never raw text — the same one-exchange plan the
    * Scala API produces. */
  private val dedupProgram = """
data Docs(id: int64, text: string).

query DocStats(id: int64) -> (toks: int64, chars: int64)
:-  Docs(id, text),
    toks <- token_count(text),
    chars <- char_count(text)
.
"""

  private def docsCatalog(s: SparkSession, d: String): Catalog =
    Catalog.lazily(s"HeroQueries.docsCatalog@$d")(
      "Docs" -> (() => t(s, d, "documents").select(col("doc_id").as("id"), col("text"))))

  /** hq19 — the remaining builtins (token_count / char_count) through a
    * classic rule body: ECall in binding position, map-only plan. */
  private def runDocStats(s: SparkSession, d: String): DataFrame =
    HeroQL.compile(s, dedupProgram, "DocStats", docsCatalog(s, d))

  private val scrubProgram = """
data Docs(id: int64, text: string).

query Scrubbed(id: int64) -> (sh: int64, rfp: int64)
:-  Docs(id, text),
    sh <- simhash(text),
    red <- redact(text),
    rfp <- fingerprint(red)
.
"""

  /** hq20 — the r9 scrub builtins from parsed text: `simhash` (dd4's
    * near-dup signature) and `redact` (tx7's PII chain) compose with
    * `fingerprint` in one map-only rule body — the
    * redact-then-fingerprint chain IS pipe3's dedup key, reached from
    * the language. The catalog feeds the planted-PII text (tx7's
    * fixture augmentation) so the redaction has real positives. */
  private def runScrubbed(s: SparkSession, d: String): DataFrame =
    HeroQL.compile(s, scrubProgram, "Scrubbed",
      Catalog.lazily(s"HeroQueries.scrubCatalog@$d")(
        "Docs" -> (() => graft.queries.TextAnalysis
          .redacted(t(s, d, "documents"))
          .select(col("doc_id").as("id"), col("aug").as("text")))))

  private def runDedup(s: SparkSession, d: String): DataFrame =
    HeroQL.compileCollection(s, dedupProgram,
      """collection_query(id, text) :-
           Docs(id, text),
           fp <- fingerprint(text)
         group_by fp(fp, keeper = Min(id), copies = Count(id))
         ;""",
      docsCatalog(s, d))

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hq1_top10_global" -> (run("Top10") _),
    "hq2_top3_per_partition" -> (run("Top3PerStudent") _),
    "hq3_aggregate_average" -> (run("AvgTop3") _),
    "hq25_approx_distinct" -> (run("ApproxParts") _),
    "hq26_approx_sum_distinct" -> (run("ApproxQtyOverParts") _),
    "hq27_approx_median" -> (run("ApproxMedianPrice") _),
    "hq28_approx_quantile" -> (run("ApproxP95Price") _),
    "hq4_union_rule" -> (run("Parents") _),
    "hq5_join_rule" -> (run("GrandParents") _),
    "hq6_subrule" -> (run("GrandParentsSub") _),
    "hq7_moded_expressions" -> (run("Quad") _),
    "hq8_negation" -> (run("Childless") _),
    "hq9_func_cases" -> (run("Graded") _),
    "hq10_union_dispatch" -> (run("ShapeAreas") _),
    "hq11_recursive_func" -> (run("FibOf") _),
    "hq12_recursive_multiarg" -> (run("ChooseOf") _),
    "hq13_union_construct" -> (run("BoxedAreas") _),
    "hq14_bool_grammar" -> (run("BoolSieve") _),
    "hq14b_bool_dnf" -> (run("EitherParent") _),
    "hq15_ensure" -> (run("EnsuredScores") _),
    "hq16_interpolation" -> (run("Described") _),
    "hq17_namespaces" -> (runNs _),
    "hq18_fingerprint_dedup" -> (runDedup _),
    "hq19_builtin_textstats" -> (runDocStats _),
    "hq20_builtin_scrub" -> (runScrubbed _),
    "hq21_recursive_rule" -> (run("Anc") _),
    "hq22_recursive_aggregate" -> (run("AncCount") _),
    "hq23_demand_recursion" -> (run("DescOf") _),
    "hq24_magic_sets" -> (run("AncestorsOf") _),
  )

  private val examsSql =
    """SELECT CAST(o_custkey AS VARCHAR) AS student,
              CAST(floor(o_totalprice) AS INTEGER) AS score FROM orders"""
  private val fatherSql =
    """SELECT p_partkey // 2 AS father, p_partkey AS child FROM part
       WHERE p_partkey // 2 >= 1 AND p_partkey % 2 = 0"""
  private val motherSql =
    """SELECT p_partkey // 2 AS mother, p_partkey AS child FROM part
       WHERE p_partkey // 2 >= 1 AND p_partkey % 2 = 1"""
  private val parentsSql =
    s"""SELECT father AS parent, child FROM ($fatherSql)
       UNION ALL SELECT mother AS parent, child FROM ($motherSql)"""

  override val oracles: Map[String, String] = Map(
    "hq1_top10_global" ->
      s"""SELECT student, score FROM (
           SELECT student, score,
             row_number() OVER (ORDER BY score DESC, student ASC) AS ord
           FROM ($examsSql)) WHERE ord < 10""",
    "hq2_top3_per_partition" ->
      s"""SELECT student, score, CAST(ord AS INTEGER) AS "order" FROM (
           SELECT student, score,
             row_number() OVER (PARTITION BY student ORDER BY score DESC) AS ord
           FROM ($examsSql)) WHERE ord < 3""",
    "hq3_aggregate_average" ->
      s"""SELECT student, CAST(trunc(avg(score)) AS INTEGER) AS average FROM (
           SELECT student, score,
             row_number() OVER (PARTITION BY student ORDER BY score DESC) AS ord
           FROM ($examsSql)) WHERE ord < 3 GROUP BY student""",
    // the language-surface KMV sketch: same md5/order-statistics
    // algebra as a18's oracle, emitted as a BIGINT count
    "hq25_approx_distinct" ->
      """WITH hashed AS (
           SELECT DISTINCT l_returnflag AS flag,
             CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
           FROM lineitem),
         topk AS (
           SELECT flag, h FROM (
             SELECT flag, h, row_number() OVER (
               PARTITION BY flag ORDER BY h) AS rn
             FROM hashed) WHERE rn <= 256),
         sk AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_k, max(h) AS kth
                FROM topk GROUP BY flag)
         SELECT flag,
           CASE WHEN n_k < 256 THEN n_k
                ELSE CAST(floor(255.0 * 1152921504606846976.0 /
                  CAST(kth AS DOUBLE)) AS BIGINT)
           END AS approx_parts
         FROM sk""",
    // the language-surface TUPLE sketch: a20's per-(flag, hash) max
    // summaries and retained-sample algebra, emitted as a plain BIGINT
    // estimate of sum-over-distinct-parts-of-max-quantity
    "hq26_approx_sum_distinct" ->
      """WITH per AS (
           SELECT l_returnflag AS flag,
             CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
             CAST(max(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS mv
           FROM lineitem GROUP BY 1, 2),
         rk AS (SELECT flag, h, mv, row_number() OVER (
                  PARTITION BY flag ORDER BY h) AS rn FROM per),
         sk AS (
           SELECT flag,
             CAST(count(*) FILTER (rn <= 256) AS BIGINT) AS n_k,
             max(CASE WHEN rn = 256 THEN h END) AS kth,
             CAST(sum(mv) FILTER (rn <= 255) AS BIGINT) AS s_below_full,
             CAST(sum(mv) FILTER (rn <= 256) AS BIGINT) AS s_all_cap
           FROM rk GROUP BY flag)
         SELECT flag,
           CASE WHEN n_k < 256 THEN s_all_cap
                ELSE CAST(floor(CAST(s_below_full AS DOUBLE) *
                  1152921504606846976.0 / CAST(kth AS DOUBLE)) AS BIGINT)
           END AS approx_qty
         FROM sk""",
    // the language-surface QUANTILE sketch: a21's bottom-k row sample
    // (row identity = orderkey*10+linenumber), nearest-rank p50 of the
    // retained ascending values — exact below k, same integers both
    // engines
    "hq27_approx_median" ->
      """WITH per AS (
           SELECT l_returnflag AS flag,
             CAST(('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
               AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
             CAST(max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS v
           FROM lineitem GROUP BY 1, 2),
         rk AS (SELECT flag, h, v, row_number() OVER (
                  PARTITION BY flag ORDER BY h) AS rn FROM per),
         smp AS (SELECT flag, list_sort(list(v)) AS sample
                 FROM rk WHERE rn <= 256 GROUP BY flag)
         SELECT flag,
           sample[greatest(1, (len(sample) + 1) // 2)] AS approx_med
         FROM smp""",
    "hq28_approx_quantile" ->
      """WITH per AS (
           SELECT l_returnflag AS flag,
             CAST(('0x' || substr(md5(CAST(l_orderkey * 10 + l_linenumber
               AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
             CAST(max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS v
           FROM lineitem GROUP BY 1, 2),
         rk AS (SELECT flag, h, v, row_number() OVER (
                  PARTITION BY flag ORDER BY h) AS rn FROM per),
         smp AS (SELECT flag, list_sort(list(v)) AS sample
                 FROM rk WHERE rn <= 256 GROUP BY flag)
         SELECT flag,
           sample[greatest(1, CAST(ceil(0.95 * len(sample)) AS BIGINT))]
             AS approx_p95
         FROM smp""",
    "hq4_union_rule" ->
      s"""SELECT parent, child FROM ($parentsSql)""",
    "hq5_join_rule" ->
      s"""SELECT a.parent AS grandParent, b.child AS grandChild
         FROM ($parentsSql) a JOIN ($parentsSql) b ON a.child = b.parent""",
    "hq6_subrule" ->
      s"""SELECT a.parent AS grandParent, b.child AS grandChild
         FROM ($parentsSql) a JOIN ($parentsSql) b ON a.child = b.parent""",
    "hq7_moded_expressions" ->
      """SELECT pk, delta, (-b + delta) / (2 * a) AS x1, (-b - delta) / (2 * a) AS x2
         FROM (
           SELECT pk, a, b, c, b*b - 4*a*c AS delta FROM (
             SELECT p_partkey AS pk, CAST(p_size AS DOUBLE) AS a,
                    p_retailprice / 100.0 AS b, 1.0 AS c FROM part))
         WHERE delta > 0""",
    "hq8_negation" ->
      s"""SELECT p_partkey AS id FROM part
         WHERE NOT EXISTS (SELECT 1 FROM ($fatherSql) f WHERE f.father = p_partkey)
           AND NOT EXISTS (SELECT 1 FROM ($motherSql) m WHERE m.mother = p_partkey)""",
    "hq9_func_cases" ->
      s"""SELECT student, score,
                CASE WHEN score >= 40 THEN 'high'
                     WHEN score >= 20 THEN 'mid'
                     ELSE 'low' END AS label
         FROM ($examsSql)""",
    // runtime-type dispatch lowered relationally: the variant tag is the
    // CASE discriminant, each branch is one func clause's arithmetic
    // (same operator order as the Spark plan, so doubles are bit-equal)
    "hq10_union_dispatch" ->
      """SELECT p_partkey AS pk,
                CASE WHEN p_partkey % 3 = 0 THEN 3.14 * CAST(p_size AS DOUBLE) * CAST(p_size AS DOUBLE)
                     WHEN p_partkey % 3 = 1 THEN CAST(p_size AS DOUBLE) * (p_retailprice / 100.0)
                     ELSE 0.0 END AS area
         FROM part""",
    "hq11_recursive_func" ->
      """WITH RECURSIVE fib(n, a, b) AS (
           SELECT 0, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
           UNION ALL
           SELECT n + 1, b, a + b FROM fib WHERE n < 20)
         SELECT p_partkey AS pk, CAST(p_partkey % 21 AS BIGINT) AS n, a AS fib
         FROM part JOIN fib ON fib.n = p_partkey % 21""",
    // constructed Rect{w=a, h=b} dispatched through Area's Rect clause:
    // area = a*b with the same operand order as the Spark plan
    "hq13_union_construct" ->
      """SELECT p_partkey AS pk,
                CAST(p_size AS DOUBLE) * (p_retailprice / 100.0) AS area
         FROM part""",
    // Pascal recursion C(n,k) = C(n-1,k-1) + C(n-1,k) vs the closed
    // factorial form (exact in HUGEINT for n <= 17, cast back down)
    "hq12_recursive_multiarg" ->
      """SELECT p_partkey AS pk,
                CAST(p_partkey % 18 AS BIGINT) AS n,
                CAST((p_partkey // 7) % (p_partkey % 18 + 1) AS BIGINT) AS k,
                CAST(factorial(CAST(p_partkey % 18 AS INTEGER)) //
                     (factorial(CAST((p_partkey // 7) % (p_partkey % 18 + 1) AS INTEGER)) *
                      factorial(CAST(p_partkey % 18 - (p_partkey // 7) % (p_partkey % 18 + 1) AS INTEGER)))
                     AS BIGINT) AS c
         FROM part""",
    // full <BOOLEAN> grammar (draft:104-112): and/or/not + the boolean
    // if-then-else, lowered to one scalar filter
    "hq14_bool_grammar" ->
      s"""SELECT student, score FROM ($examsSql)
         WHERE (score > 150000 OR score < 50000) AND NOT (score = 100000)
           AND (CASE WHEN score > 150000 THEN score > 160000
                     ELSE score < 40000 END)""",
    // `or` over relation atoms: DNF-expanded onto the `;` union path
    "hq14b_bool_dnf" ->
      s"""SELECT parent, child FROM (
           SELECT father AS parent, child FROM ($fatherSql) WHERE child > 100
           UNION ALL
           SELECT mother AS parent, child FROM ($motherSql) WHERE child > 100)""",
    // ensure holds for every row, so it passes rows through unchanged
    "hq15_ensure" ->
      s"""SELECT student, score FROM ($examsSql) WHERE score > 100000""",
    // $"... $(x) ..." interpolation → concat with string casts
    "hq16_interpolation" ->
      s"""SELECT student, score,
                'student ' || student || ' scored ' ||
                CAST(score + 1 AS VARCHAR) || ' points' AS msg
         FROM ($examsSql)""",
    // namespaced query + using-directive + global constant threshold
    "hq17_namespaces" ->
      """SELECT o_orderkey AS k, o_totalprice AS price,
                'big ' || CAST(o_orderkey AS VARCHAR) AS tag
         FROM orders WHERE o_totalprice > 150000.0""",
    // fingerprint builtin through the parsed language — same two-fold
    // CRT expression as the tx4 oracle, keeper = min id per fp
    "hq18_fingerprint_dedup" ->
      ("""SELECT """ + graft.operators.TextFns.fingerprintDuckSql("text") +
        """ AS fp, min(doc_id) AS keeper, count(*) AS copies
         FROM documents GROUP BY 1"""),
    // builtin token/char counters — same formulas as the tx1 oracle
    "hq19_builtin_textstats" ->
      """SELECT doc_id AS id,
         CAST(length(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks,
         CAST(length(text) AS BIGINT) AS chars
         FROM documents""",
    // the scrub builtins — tx7's augmentation, dd4's simhash folds,
    // the redaction chain, and the fingerprint mirror, all shared
    // fragments so none can drift from their operator-form oracles
    "hq20_builtin_scrub" ->
      (s"""WITH a AS (
           SELECT doc_id AS id, ${graft.queries.TextAnalysis.augDuckSql} AS text
           FROM documents),
         s AS (
           SELECT id, text,
             [${graft.operators.TextFns.tokenHashDuckSql("tk")}
              for tk in regexp_split_to_array(trim(text), '\\s+')] AS hs,
             ${graft.operators.TextFns.redactPiiDuckSql("text")} AS red
           FROM a)
         SELECT id, ${graft.operators.TextFns.simhashOfHashesDuckSql("hs")} AS sh, """
        + graft.operators.TextFns.fingerprintDuckSql("red") + """ AS rfp
         FROM s"""),
    // recursive rule from parsed text (J7 on the language surface):
    // same WITH RECURSIVE + UNION (set semantics) shape the planner's
    // semi-naïve fixpoint converges to
    "hq21_recursive_rule" ->
      s"""WITH RECURSIVE anc AS (
           SELECT child, parent AS anc FROM ($parentsSql)
           UNION
           SELECT p.child, a.anc
           FROM ($parentsSql) p JOIN anc a ON p.parent = a.child)
         SELECT child, anc FROM anc""",
    // stratification's POSITIVE case: aggregation over a recursion's
    // RESULT is well-defined (the loop converges first, the aggregate
    // runs once on the fixed point) — only aggregation INSIDE a
    // recursive alternative is rejected
    "hq22_recursive_aggregate" ->
      s"""WITH RECURSIVE anc AS (
           SELECT child, parent AS anc FROM ($parentsSql)
           UNION
           SELECT p.child, a.anc
           FROM ($parentsSql) p JOIN anc a ON p.parent = a.child)
         SELECT child, count(anc) AS n_anc FROM anc GROUP BY child""",
    // demand-seeded recursion: Anc invoked with a constant at its
    // invariant position evaluates only the descendants-of-5 slice
    // (Planner.invariantPositions); the oracle computes the same slice
    // from the full closure — results must coincide exactly
    "hq23_demand_recursion" ->
      s"""WITH RECURSIVE anc AS (
           SELECT child, parent AS anc FROM ($parentsSql)
           UNION
           SELECT p.child, a.anc
           FROM ($parentsSql) p JOIN anc a ON p.parent = a.child)
         SELECT child AS d FROM anc WHERE anc = 5""",
    // magic-sets demand: Anc invoked with a constant at its
    // NON-invariant position (the child) — the magic restriction
    // evaluates only node 150's ancestor chain (O(depth²) tuples, vs
    // the 17,954-row full closure); the oracle computes the same rows
    // from the full closure — results must coincide exactly
    "hq24_magic_sets" ->
      s"""WITH RECURSIVE anc AS (
           SELECT child, parent AS anc FROM ($parentsSql)
           UNION
           SELECT p.child, a.anc
           FROM ($parentsSql) p JOIN anc a ON p.parent = a.child)
         SELECT anc AS a FROM anc WHERE child = 150""",
  )
}
