package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.store.{MaterializedView, TableStore}
import graft.store.MaterializedView.MvSpec

/** Incremental materialized-view maintenance ([[graft.store
  * .MaterializedView]]): parity with full recompute after every batch,
  * group-liveness under deletes, and the no-rescan guarantee proved the
  * strong way — the base files are DELETED between build and refresh,
  * so any hidden re-read of the base would throw, not just be slow. */
class MatViewSpec extends SparkSpec {

  private def scratch(): TableStore =
    new TableStore(spark, Files.createTempDirectory("graft-mv-spec-").toString)

  private val mvSpec = MvSpec(Seq("l_returnflag", "l_linestatus"),
    Seq("__qty" -> expr("CAST(l_quantity AS BIGINT)"),
      "__cents" -> expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")))

  private def li: DataFrame = spark.read.parquet(s"$sf/lineitem.parquet")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("insert refresh converges on the full recompute after every batch") {
    val st = scratch()
    val base = li.filter(col("l_orderkey") % 4 =!= 3)
    MaterializedView.build(st, "mv", base, mvSpec)
    var applied = base
    (0 until 3).foreach { r =>
      val batch = li.filter(col("l_orderkey") % 4 === 3 &&
        col("l_linenumber") % 3 === r)
      MaterializedView.refreshInsert(st, "mv", batch, mvSpec)
      applied = applied.unionByName(batch)
      assert(sortedRows(st.read("mv")) ===
        sortedRows(MaterializedView.aggregate(applied, mvSpec)),
        s"diverged from recompute after insert batch $r")
    }
  }

  test("delete refresh subtracts exactly and drops emptied groups") {
    val st = scratch()
    val spec2 = MvSpec(Seq("l_orderkey"),
      Seq("__qty" -> expr("CAST(l_quantity AS BIGINT)")))
    MaterializedView.build(st, "mv", li, spec2)
    val doomed = li.filter(col("l_orderkey") % 7 === 0)
    assert(doomed.count() > 0, "fixture premise: some orders are deleted")
    MaterializedView.refreshDelete(st, "mv", doomed, spec2)
    val survivors = li.filter(col("l_orderkey") % 7 =!= 0)
    assert(sortedRows(st.read("mv")) ===
      sortedRows(MaterializedView.aggregate(survivors, spec2)))
    // group liveness: every %7 == 0 order left the view entirely
    assert(st.read("mv").filter(col("l_orderkey") % 7 === 0).count() === 0)
  }

  test("refresh never re-reads the base: base files deleted after build") {
    // stage a private copy of the base so deleting it is safe
    val stage = Files.createTempDirectory("graft-mv-base-")
    li.filter(col("l_orderkey") % 4 =!= 3)
      .write.mode("overwrite").parquet(stage.toString)
    val st = scratch()
    MaterializedView.build(st, "mv",
      spark.read.parquet(stage.toString), mvSpec)
    // burn the base — a refresh that rescans it now throws
    Tables.rmTree(stage.toString)
    assert(!Files.exists(stage))
    val batch = li.filter(col("l_orderkey") % 4 === 3).localCheckpoint()
    MaterializedView.refreshInsert(st, "mv", batch, mvSpec)
    assert(sortedRows(st.read("mv")) ===
      sortedRows(MaterializedView.aggregate(li, mvSpec)))
  }

  test("kmv sketch column: batch-path independence, no base rescan, delete rejects") {
    val hash = expr(
      "CAST(conv(substring(md5(CAST(l_partkey AS STRING)), 1, 15), 16, 10) AS BIGINT)")
    // small k so the fixture exercises the capped (not exact) regime
    val spec = MvSpec(Seq("l_returnflag"),
      Seq("__qty" -> expr("CAST(floor(l_quantity) AS BIGINT)")),
      kmvs = Seq("__sk" -> hash), kmvK = 16)
    // no-rescan, the strong way: burn the base between build and refresh
    val stage = Files.createTempDirectory("graft-mv-kmv-")
    li.filter(col("l_orderkey") % 4 =!= 3)
      .write.mode("overwrite").parquet(stage.toString)
    val st = scratch()
    MaterializedView.build(st, "mv", spark.read.parquet(stage.toString), spec)
    Tables.rmTree(stage.toString)
    assert(!Files.exists(stage))
    (0 until 3).foreach { r =>
      MaterializedView.refreshInsert(st, "mv",
        li.filter(col("l_orderkey") % 4 === 3 &&
          col("l_linenumber") % 3 === r).localCheckpoint(), spec)
    }
    // path independence: the maintained sketch equals the one-shot
    // sketch over the full base (KMV merge = sketch of the union)
    assert(sortedRows(st.read("mv")) ===
      sortedRows(MaterializedView.aggregate(li, spec)))
    // the capped regime is actually exercised (k smaller than distincts)
    assert(st.read("mv").filter(size(col("__sk")) === 16).count() > 0,
      "fixture premise: some group has >= 16 distinct parts")
    // sketches cannot subtract: delete refresh must reject loudly
    val ex = intercept[IllegalArgumentException] {
      MaterializedView.refreshDelete(st, "mv",
        li.filter(col("l_orderkey") % 7 === 0), spec)
    }
    assert(ex.getMessage.contains("sketch"))
  }

  test("marked refresh is exactly-once: a replayed batch changes nothing") {
    val st = scratch()
    val b0 = li.filter(col("l_orderkey") % 2 === 0)
    val b1 = li.filter(col("l_orderkey") % 2 === 1)
    // both batches through the MARKED path (batch 0 folds into an
    // empty MV — the streaming caller's shape)
    MaterializedView.refreshInsert(st, "mv", b0, mvSpec, Some(0L))
    MaterializedView.refreshInsert(st, "mv", b1, mvSpec, Some(1L))
    val after = sortedRows(st.read("mv"))
    val commits = st.commitCount()
    // replay both batch ids — a restart re-delivering committed work
    MaterializedView.refreshInsert(st, "mv", b0, mvSpec, Some(0L))
    MaterializedView.refreshInsert(st, "mv", b1, mvSpec, Some(1L))
    assert(sortedRows(st.read("mv")) === after,
      "replayed batches must not double-count")
    assert(st.commitCount() === commits,
      "a replayed batch must not commit anything")
    assert(after === sortedRows(MaterializedView.aggregate(li, mvSpec)))
  }

  test("write-through insert commits base and view atomically, versions pair") {
    val st = scratch()
    val base = li.filter(col("l_orderkey") % 4 =!= 3)
    st.create("li_base", base)
    MaterializedView.register(st, "mv", "li_base",
      MaterializedView.MvDef(Seq("l_returnflag", "l_linestatus"),
        Seq("__qty" -> "CAST(l_quantity AS BIGINT)",
          "__cents" -> "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")))
    val batches = (0 until 3).map(r => li.filter(
      col("l_orderkey") % 4 === 3 && col("l_linenumber") % 3 === r))
    batches.foreach { b =>
      val commits = st.commitCount()
      MaterializedView.insertInto(st, "li_base", b)
      // base append + view refresh = ONE commit, not two
      assert(st.commitCount() === commits + 1,
        "write-through must commit base and view together")
      // consistency invariant: the view IS its definition over the base
      assert(sortedRows(st.read("mv")) ===
        sortedRows(MaterializedView.aggregate(st.read("li_base"), mvSpec)))
    }
    // time travel pairs version k of the base with version k of the
    // view: one step back, both exclude exactly the last batch
    assert(sortedRows(st.readVersion("mv", 1)) ===
      sortedRows(MaterializedView.aggregate(st.readVersion("li_base", 1), mvSpec)))
  }

  test("language @insert refreshes registered views in the same commit") {
    import graft.store.TableStore
    val st = new TableStore(spark,
      Files.createTempDirectory("graft-mv-hql-spec-").toString)
    val seed = spark.range(10).select(
      concat(lit("s"), (col("id") % 3)).as("student"),
      col("id").cast("int").as("score"))
    st.create("Exams", seed)
    MaterializedView.register(st, "mv", "Exams",
      MaterializedView.MvDef(Seq("student"),
        Seq("__score" -> "CAST(score AS BIGINT)")))
    val program = """
data Exams(student: string, score: int).
query AddExam(student: string, score: int)
:-  @insert Exams(student, score)
.
"""
    val batch = spark.range(5).select(
      concat(lit("s"), (col("id") % 4)).as("student"),
      (col("id") + 100).cast("int").as("score"))
    val commits = st.commitCount()
    graft.heroql.HeroQL.executeMutation(program, "AddExam", batch, st)
    assert(st.commitCount() === commits + 1,
      "base insert + view refresh must be one commit")
    val spec5 = MvSpec(Seq("student"),
      Seq("__score" -> expr("CAST(score AS BIGINT)")))
    assert(sortedRows(st.read("mv")) ===
      sortedRows(MaterializedView.aggregate(st.read("Exams"), spec5)))
  }

  test("language @remove and @update maintain registered views") {
    import graft.store.TableStore
    val st = new TableStore(spark,
      Files.createTempDirectory("graft-mv-del-spec-").toString)
    val seed = spark.range(12).select(
      concat(lit("s"), (col("id") % 3)).as("student"),
      col("id").cast("int").as("score"))
    st.create("Exams", seed)
    MaterializedView.register(st, "mv", "Exams",
      MaterializedView.MvDef(Seq("student"),
        Seq("__score" -> "CAST(score AS BIGINT)")))
    val spec5 = MvSpec(Seq("student"),
      Seq("__score" -> expr("CAST(score AS BIGINT)")))
    val program = """
data Exams(student: string, score: int).
query Drop(student: string) :- @remove Exams(student, _).
query Boost(student: string, score: int) :- @update Exams(student, @score)
.
"""
    // @remove s2 entirely: its group must LEAVE the view (liveness)
    import spark.implicits._
    val commits = st.commitCount()
    graft.heroql.HeroQL.executeMutation(program, "Drop",
      Seq("s2").toDF("student"), st)
    assert(st.commitCount() === commits + 1,
      "base delete + view maintenance must be one commit")
    assert(sortedRows(st.read("mv")) ===
      sortedRows(MaterializedView.aggregate(st.read("Exams"), spec5)))
    assert(st.read("mv").filter(col("student") === "s2").count() === 0,
      "emptied group must leave the registered view")
    // @update s0's scores: view folds delete(old)+insert(new) exactly
    val commits2 = st.commitCount()
    graft.heroql.HeroQL.executeMutation(program, "Boost",
      Seq(("s0", 1000)).toDF("student", "score"), st)
    assert(st.commitCount() === commits2 + 1)
    assert(sortedRows(st.read("mv")) ===
      sortedRows(MaterializedView.aggregate(st.read("Exams"), spec5)))
  }

  test("every insert front door runs constraints AND view maintenance") {
    import graft.store.{CheckConstraints, TableStore}
    val st = new TableStore(spark,
      Files.createTempDirectory("graft-mv-wp-spec-").toString)
    val seed = spark.range(6).select(
      concat(lit("s"), (col("id") % 2)).as("student"),
      col("id").cast("int").as("score"))
    st.create("Exams", seed)
    CheckConstraints.declare(st, "Exams", "nonneg", "score >= 0")
    MaterializedView.register(st, "mv", "Exams",
      MaterializedView.MvDef(Seq("student"),
        Seq("__score" -> "CAST(score AS BIGINT)")))
    val spec5 = MvSpec(Seq("student"),
      Seq("__score" -> expr("CAST(score AS BIGINT)")))
    // front door 1: the constraint-checked insert refreshes the view
    val ok = spark.range(3).select(
      concat(lit("s"), (col("id") % 2)).as("student"),
      (col("id") + 50).cast("int").as("score"))
    CheckConstraints.insert(st, "Exams", ok)
    assert(sortedRows(st.read("mv")) ===
      sortedRows(MaterializedView.aggregate(st.read("Exams"), spec5)),
      "CheckConstraints.insert must maintain registered views")
    // front door 2: insertInto enforces declared constraints
    val bad = spark.range(2).select(
      lit("s9").as("student"), lit(-1).cast("int").as("score"))
    val commits = st.commitCount()
    intercept[CheckConstraints.CheckViolation] {
      MaterializedView.insertInto(st, "Exams", bad)
    }
    assert(st.commitCount() === commits,
      "rejected batch must commit nothing on any front door")
    assert(sortedRows(st.read("mv")) ===
      sortedRows(MaterializedView.aggregate(st.read("Exams"), spec5)))
  }

  test("min/max fold through insert merges; delete with extrema rejects") {
    val st = scratch()
    val spec4 = MvSpec(Seq("l_linestatus"),
      sums = Seq("__qty" -> expr("CAST(l_quantity AS BIGINT)")),
      mins = Seq("min_price" -> col("l_extendedprice")),
      maxs = Seq("max_price" -> col("l_extendedprice")))
    MaterializedView.build(st, "mv", li.filter(col("l_orderkey") % 2 === 0), spec4)
    MaterializedView.refreshInsert(st, "mv",
      li.filter(col("l_orderkey") % 2 === 1), spec4)
    assert(sortedRows(st.read("mv")) ===
      sortedRows(MaterializedView.aggregate(li, spec4)))
    // deletes with extrema declared must reject loudly, not corrupt
    val e = intercept[IllegalArgumentException] {
      MaterializedView.refreshDelete(st, "mv",
        li.filter(col("l_orderkey") % 3 === 0), spec4)
    }
    assert(e.getMessage.contains("not self-maintainable"))
  }

  test("mixed schedule lands on the view definition over the net content") {
    val st = scratch()
    val spec2 = MvSpec(Seq("l_linestatus"),
      Seq("__qty" -> expr("CAST(l_quantity AS BIGINT)")))
    val base = li.filter(col("l_orderkey") % 2 === 0)
    MaterializedView.build(st, "mv", base, spec2)
    val ins = li.filter(col("l_orderkey") % 2 === 1)
    MaterializedView.refreshInsert(st, "mv", ins, spec2)
    val del = li.filter(col("l_orderkey") % 3 === 0)
    MaterializedView.refreshDelete(st, "mv", del, spec2)
    val net = li.filter(col("l_orderkey") % 3 =!= 0)
    assert(sortedRows(st.read("mv")) ===
      sortedRows(MaterializedView.aggregate(net, spec2)))
  }
}
