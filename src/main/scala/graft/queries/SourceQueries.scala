package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** File-format sources and sinks beyond Parquet (the reference's
  * source layer: a storage engine fronted by pluggable page sources —
  * `Kernel/Source/Utility/FileBuffer.cpp`, `InMemoryBuffer.cpp`; the
  * Spark re-expression is `spark.read`/`write` over columnar and
  * text formats). Each query round-trips a warehouse table through the
  * format under test and aggregates the re-read data, so schema fidelity
  * of the full write→read cycle is what the oracle checks.
  */
object SourceQueries extends QueryPack {

  private def tmp(prefix: String) =
    Files.createTempDirectory(prefix).toString

  /** src1 — CSV round-trip with an explicit schema (header on; explicit
    * schema rather than inference — inference is a full extra pass at
    * scale). */
  private def src1(s: SparkSession, d: String): DataFrame = {
    val dir = tmp("graft-csv-") + "/customer"
    t(s, d, "customer")
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").option("header", "true").csv(dir)
    s.read
      .schema("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
      .option("header", "true").csv(dir)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum("c_acctbal"), 2).as("sum_bal"))
  }

  /** src2 — JSON-lines round-trip (schema-on-read with an explicit
    * schema; nested quoting/escaping fidelity included). */
  private def src2(s: SparkSession, d: String): DataFrame = {
    val dir = tmp("graft-json-") + "/orders"
    t(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").json(dir)
    s.read
      .schema("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
      .json(dir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 4).as("avg_price"))
  }

  /** src3 — hive-partitioned parquet: write orders partitioned by
    * status, read back with a partition filter and PRUNE — at scale the
    * pruned partitions are never listed, let alone read (the partition
    * filter shows up as `PartitionFilters` in the scan, asserted in
    * SourceSpec). */
  private def src3(s: SparkSession, d: String): DataFrame = {
    val dir = tmp("graft-part-") + "/orders"
    t(s, d, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
    graft.Tables.scan(s, dir)
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_f_orders"), round(sum("o_totalprice"), 2).as("spend"))
  }

  /** src4 — ORC round-trip (the second columnar format Spark ships
    * in-box): write lineitem as ORC, read back with a predicate that
    * must reach the ORC reader as a pushed filter (`PushedFilters` in
    * the scan — asserted in SourceSpec; ORC carries min/max stripe
    * statistics, so at scale the pushed predicate skips whole stripes
    * the way parquet row-groups are skipped). The aggregate runs on
    * exact cents (order-free integer sum), so ANY precision loss in
    * the write→read cycle — not just losses above a rounding bucket —
    * fails the hash. */
  private def src4(s: SparkSession, d: String): DataFrame = {
    val dir = tmp("graft-orc-") + "/lineitem"
    t(s, d, "lineitem")
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag")
      .write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .filter(col("l_quantity") > 25.0)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("__c"))
      .select(col("l_returnflag"), col("n"),
        expr("CAST(__c AS DOUBLE) / 100.0").as("sum_price"))
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "src1_csv_roundtrip" -> (src1 _),
    "src2_json_roundtrip" -> (src2 _),
    "src3_partitioned_parquet" -> (src3 _),
    "src4_orc_roundtrip" -> (src4 _),
  )

  override val oracles: Map[String, String] = Map(
    "src1_csv_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
         FROM customer GROUP BY c_mktsegment""",
    "src2_json_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
         FROM orders GROUP BY o_orderstatus""",
    "src3_partitioned_parquet" ->
      """SELECT o_custkey, count(*) AS n_f_orders, round(sum(o_totalprice), 2) AS spend
         FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey""",
    "src4_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
         CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
           / 100.0 AS sum_price
         FROM lineitem WHERE l_quantity > 25.0 GROUP BY l_returnflag""",
  )
}
