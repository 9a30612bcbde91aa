package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built. Bench, Verify, Repl,
  * PlanDump, the scale tools and the test suites all run the engine
  * under [[conf]], so the benched engine is the verified one: same
  * timestamp encoding, same time zone, same adaptive planning.
  * `perfbench/session.conf` carries the same keys (SessionsSpec pins
  * the agreement). */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS`, else the machine's available
    * processors. */
  def cpus(): Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The shared session conf for a local engine on `cpus` cores. */
  def conf(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  /** The session over [[conf]]. `master`, a deployment address (the
    * REPL's `SPARK_GRAFT_MASTER`), replaces the local master. */
  def getOrCreate(cpus: Int, master: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
    (conf(cpus) ++ master.map("spark.master" -> _)).foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }
}
