package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.store.TableStore

/** The schema cache behind [[Tables.scan]]: a cached schema must equal
  * what Spark's own inference gives for the same files, whatever was
  * rewritten in between, and a repeated read of unchanged files must
  * launch no Spark job at all (the inference job it replaces). */
class ParquetSchemaCacheSpec extends SparkSpec with JobWatch {

  private def fresh(path: String) = spark.read.parquet(path).schema
  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix).toString

  test("all ten warehouse tables: cached schemas equal Spark's inference") {
    Tables.all.foreach { t =>
      val want = fresh(s"$sf/$t.parquet")
      assert(Tables.t(spark, sf, t).schema === want, t) // miss or earlier hit
      assert(Tables.t(spark, sf, t).schema === want, t) // hit
      assert(Tables.schemaOf(spark, s"$sf/$t.parquet") === want, t)
    }
  }

  test("the narrowed drift warehouse keys apart from the original") {
    val dir = tmpDir("graft-schema-drift-")
    Tables.all.foreach { t =>
      Tables.t(spark, sf, t) // the original's schema is cached first
      val src = spark.read.parquet(s"$sf/$t.parquet")
      val narrowed = src.schema.fields.foldLeft(src) { (df, f) =>
        if (f.dataType == LongType) df.withColumn(f.name, col(f.name).cast(IntegerType))
        else df
      }
      narrowed.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
      val want = fresh(s"$dir/$t.parquet")
      assert(Tables.t(spark, dir, t).schema === want, t)
      assert(Tables.t(spark, dir, t).schema === want, t)
    }
    assert(Tables.t(spark, dir, "orders").schema("o_orderkey").dataType === IntegerType)
  }

  test("a path overwritten in place with a new column type reads the new type") {
    val p = tmpDir("graft-schema-overwrite-") + "/t.parquet"
    spark.range(10).toDF("x").write.parquet(p)
    assert(Tables.scan(spark, p).schema("x").dataType === LongType)
    assert(Tables.scan(spark, p).schema("x").dataType === LongType)
    spark.range(10).select(col("id").cast(StringType).as("x"))
      .write.mode("overwrite").parquet(p)
    val again = Tables.scan(spark, p)
    assert(again.schema === fresh(p))
    assert(again.schema("x").dataType === StringType)
    assert(again.orderBy(col("x").cast(LongType)).collect().map(_.getString(0)).toSeq
      === (0 until 10).map(_.toString))
  }

  /** The store read's schema and rows through a warm cache equal those
    * of a read whose every inference is fresh. */
  private def assertStoreReadExact(st: TableStore, table: String): Unit = {
    def snap(df: DataFrame) = (df.schema, df.collect().map(_.toString).sorted.toSeq)
    st.read(table) // warm
    val hit = snap(st.read(table))
    Tables.clearSchemaCache()
    val inferred = snap(st.read(table))
    assert(hit === inferred, table)
  }

  test("store reads: unpartitioned, partitioned, schema ops, compact and vacuum") {
    val st = new TableStore(spark, tmpDir("graft-schema-store-"))
    val orders = Tables.t(spark, sf, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    def part(r: Int) = orders.filter(col("o_orderkey") % 4 === r)

    st.create("u", part(0))
    (1 to 3).foreach(r => st.insert("u", part(r)))
    assertStoreReadExact(st, "u")

    st.createPartitioned("p", part(0), Seq("o_orderstatus"))
    st.insert("p", part(1))
    assertStoreReadExact(st, "p")

    st.addColumn("u", "note", "STRING", Some("'n/a'"))
    st.renameColumn("u", "o_custkey", "cust")
    st.insert("u", part(0).withColumnRenamed("o_custkey", "cust")
      .withColumn("note", lit("new")))
    assertStoreReadExact(st, "u")
    assert(st.read("u").columns.toSet === Set("o_orderkey", "cust", "o_totalprice",
      "o_orderstatus", "note"))

    st.addColumn("p", "flag", "INT", Some("1"))
    assertStoreReadExact(st, "p")

    st.migrate("u")
    st.compact("u")
    st.compact("p")
    st.vacuum(retainVersions = 1, graceMillis = 0)
    assertStoreReadExact(st, "u")
    assertStoreReadExact(st, "p")
  }

  test("a repeated read of unchanged files launches no Spark job") {
    Tables.t(spark, sf, "lineitem")
    val (_, tJobs) = jobsDuring(Tables.t(spark, sf, "lineitem"))
    assert(tJobs.size === 0, "second Tables.t on one path")

    val st = new TableStore(spark, tmpDir("graft-schema-jobs-"))
    val orders = Tables.t(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    st.create("u", orders.filter(col("o_orderkey") % 2 === 0))
    st.insert("u", orders.filter(col("o_orderkey") % 2 === 1))
    st.createPartitioned("p", orders, Seq("o_orderstatus"))
    Seq("u", "p").foreach { t =>
      st.read(t)
      val (_, n) = jobsDuring(st.read(t))
      assert(n.size === 0, s"second read of unchanged store table $t")
    }
  }

  test("mergeSchema, as conf or read option, bypasses the cache") {
    val p = s"$sf/nation.parquet"
    Tables.t(spark, sf, "nation")
    val (_, opt) = jobsDuring(Tables.scan(spark, Map("mergeSchema" -> "true"), p))
    assert(opt.size === 1)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    val (_, conf) = try jobsDuring(Tables.t(spark, sf, "nation"))
      finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert(conf.size === 1)
    assert(Tables.t(spark, sf, "nation").schema === fresh(p))
  }
}
