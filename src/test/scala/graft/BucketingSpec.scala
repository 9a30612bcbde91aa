package graft

import org.apache.spark.sql.functions._

/** O3 / `Hash(col)`+`Ordered(col)` index kinds (`Kernel/README.md:64-74`):
  * bucketed sorted tables are the Spark materialization — co-located,
  * pre-sorted data that lets Catalyst drop the shuffle (and sort) from
  * joins on the bucket key. */
class BucketingSpec extends SparkSpec {

  test("join of two tables bucketed on the key is shuffle-free") {
    val o = Tables.t(spark, sf, "orders")
    val c = Tables.t(spark, sf, "customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    // the in-memory catalog forgets tables between sessions but leaves
    // their managed locations on disk — clear them or saveAsTable refuses
    Seq("b_orders", "b_customer").foreach(t => Tables.rmTree(s"spark-warehouse/$t"))
    o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("b_orders")
    c.withColumn("k", col("c_custkey")).write.bucketBy(8, "k").sortBy("k")
      .mode("overwrite").saveAsTable("b_customer")
    val joined = spark.table("b_orders")
      .join(spark.table("b_customer"),
        col("o_custkey") === col("k"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() > 0)
  }
}
