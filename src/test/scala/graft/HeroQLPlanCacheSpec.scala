package graft

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.heroql.{Catalog, HeroQL, PlanCache}
import graft.queries.HeroQueries
import org.scalatest.BeforeAndAfterAll

/** Prepared HeroQL plans: a catalog forces only the bindings a query
  * reaches, and a repeated compile over an unchanged input snapshot
  * reuses the analyzed plan — no binding forced, no job — while a
  * rewritten input, a changed SQL conf, another session or a recursive
  * query compiles afresh. */
class HeroQLPlanCacheSpec extends SparkSpec with JobWatch with BeforeAndAfterAll {

  private val dirs = mutable.ArrayBuffer.empty[java.io.File]
  override def afterAll(): Unit = dirs.foreach(FileUtils.deleteDirectory)

  /** A private copy of `part` and `orders` (no `lineitem`, so building an
    * unreached lineitem binding would fail). Their schemas are inferred
    * here, so a compile over the copy runs no schema job. */
  private def warehouse(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-plancache-wh-").toString
    dirs += new java.io.File(dir)
    Seq("part", "orders").foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").write.parquet(s"$dir/$t.parquet")
      Tables.t(spark, dir, t)
    }
    dir
  }

  /** `HeroQueries.catalog` under its own id, recording each binding it
    * builds. */
  private def tracked(dir: String, s: SparkSession = spark): (Catalog, mutable.Buffer[String]) = {
    val forced = mutable.ArrayBuffer.empty[String]
    val c = HeroQueries.catalog(s, dir)
    (c.copy(bindings = c.bindings.map { case (name, build) =>
      name -> (() => { forced.synchronized(forced += name); build() })
    }), forced)
  }

  private def hq(dir: String, query: String, s: SparkSession = spark): DataFrame =
    HeroQL.compile(s, HeroQueries.program, query, HeroQueries.catalog(s, dir))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("a repeated hq4 or hq9 compile forces no binding, runs no job, returns the same rows") {
    val dir = warehouse()
    Seq("Parents", "Graded").foreach { q =>
      val (c1, forced1) = tracked(dir)
      val first = HeroQL.compile(spark, HeroQueries.program, q, c1)
      assert(forced1.nonEmpty)
      val h0 = PlanCache.hits
      val (c2, forced2) = tracked(dir)
      val (second, jobs) = jobsDuring(HeroQL.compile(spark, HeroQueries.program, q, c2))
      assert(forced2.isEmpty, s"$q: a cached plan must build no binding")
      assert(jobs.size === 0, s"$q: a cached plan must launch no job")
      assert(PlanCache.hits === h0 + 1)
      assert(rows(second) === rows(first))
    }
  }

  test("the first hq4 compile builds only the part-derived bindings it reaches") {
    val dir = warehouse()
    val (parents, forcedParents) = tracked(dir)
    HeroQL.compile(spark, HeroQueries.program, "Parents", parents).collect()
    assert(forcedParents.toSet === Set("Father", "Mother"))
    val (graded, forcedGraded) = tracked(dir)
    HeroQL.compile(spark, HeroQueries.program, "Graded", graded).collect()
    assert(forcedGraded.toSet === Set("Exams"))
  }

  test("rewriting part.parquet in place misses and returns the new rows") {
    val dir = warehouse()
    val part = s"$dir/part.parquet"
    val before = rows(hq(dir, "Parents"))
    hq(dir, "Parents") // now served from the cache
    // the WarehouseDriftSpec pattern: the same path, new files
    val src = spark.read.parquet(part)
    val kept = src.filter(col("p_partkey") % 3 =!= 0).collect()
    spark.createDataFrame(java.util.Arrays.asList(kept: _*), src.schema)
      .coalesce(1).write.mode("overwrite").parquet(part)
    val m0 = PlanCache.misses
    val after = rows(hq(dir, "Parents"))
    assert(PlanCache.misses === m0 + 1)
    val expected = kept.map(_.getAs[Number]("p_partkey").longValue)
      .filter(_ / 2 >= 1).map(k => s"[${k / 2},$k]").sorted.toSeq
    assert(after === expected)
    assert(after !== before)
  }

  test("changing spark.sql.caseSensitive misses; restoring it hits the first entry") {
    val dir = warehouse()
    val first = rows(hq(dir, "Graded"))
    val key = "spark.sql.caseSensitive"
    val was = spark.conf.getAll.get(key) // set explicitly, not its default
    val m0 = PlanCache.misses
    spark.conf.set(key, "true")
    try assert(rows(hq(dir, "Graded")) === first)
    finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(PlanCache.misses === m0 + 1)
    val h0 = PlanCache.hits
    assert(rows(hq(dir, "Graded")) === first)
    assert(PlanCache.hits === h0 + 1)
  }

  test("a recursive query (hq21's Anc) is never cached and survives unpersisting") {
    val dir = warehouse()
    val (h0, m0) = (PlanCache.hits, PlanCache.misses)
    val first = rows(hq(dir, "Anc"))
    // what the benchmark harness does after every op: the fixpoint's
    // checkpointed deltas are gone, so a reused plan could not run
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val second = rows(hq(dir, "Anc"))
    assert(PlanCache.hits === h0)
    assert(PlanCache.misses === m0 + 2)
    assert(second === first)
  }

  test("two sessions never share an entry") {
    val dir = warehouse()
    hq(dir, "Graded")
    val h0 = PlanCache.hits
    val mine = hq(dir, "Graded")
    assert(PlanCache.hits === h0 + 1)
    assert(mine.sparkSession eq spark)
    val other = spark.newSession()
    val m0 = PlanCache.misses
    val first = hq(dir, "Graded", other)
    assert(PlanCache.misses === m0 + 1, "another session must not reuse this one's plan")
    assert(first.sparkSession eq other)
    val h1 = PlanCache.hits
    val again = hq(dir, "Graded", other)
    assert(PlanCache.hits === h1 + 1)
    assert(again.sparkSession eq other)
    assert(rows(again) === rows(mine))
  }
}
