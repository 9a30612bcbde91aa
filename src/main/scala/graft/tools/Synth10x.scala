package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize an N× warehouse from a driver sf dir by key-shifted
  * replication, preserving every cross-table correspondence the gate
  * fixtures rely on (doc k ↔ vec k shares one shift base; lineitem and
  * orders share the orderkey base; events get N× users so stateful
  * probes carry N× state, timestamps untouched so windows/sessions keep
  * their density). Small dimension tables copy as-is.
  *
  * Usage: `runMain graft.tools.Synth10x <srcSfDir> <dstDir> [factor]`
  *
  * This exists for LOCAL scale probes only (SURVEY §12): the driver
  * ships sf0.001–0.1, and flat-cost claims about the round-11/12
  * operators need at least one measured decade above the gate size.
  */
object Synth10x {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Sessions.getOrCreate(graft.Sessions.cpus())
    spark.sparkContext.setLogLevel("WARN")

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def base(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head.getLong(0) + 1
    /** Union of n copies with `cols` shifted by k·base each. */
    def rep(df: DataFrame, shifts: Map[String, Long]): DataFrame =
      (0 until n).map { k =>
        shifts.foldLeft(df) { case (d, (c, b)) =>
          d.withColumn(c, col(c) + lit(k * b))
        }
      }.reduce(_ unionByName _)

    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      wr(rd(t), t)

    // doc k ↔ vec k is a gate-fixture correspondence (ann8): one shared
    // shift base keeps replica k's docs aligned with replica k's vectors
    val docs = rd("documents")
    val vecs = rd("embeddings")
    val docBase = math.max(base(docs, "doc_id"), base(vecs, "vec_id"))
    wr(rep(docs, Map("doc_id" -> docBase)), "documents")
    wr(rep(vecs, Map("vec_id" -> docBase)), "embeddings")

    // optional 4th arg "stretch": shift each events replica k by
    // k·31 days so TIME DENSITY stays flat while volume grows N× —
    // the realistic 100×-corpus shape (more history, same traffic).
    // The default (timestamps untouched) multiplies per-window density
    // instead, which is the right adversarial shape for windows and
    // sessions but makes every time-banded pair count grow ∝ N².
    val stretch = args.lift(3).contains("stretch")
    val events = rd("events")
    val evShift = Map(
      "event_id" -> base(events, "event_id"),
      "user_id" -> base(events, "user_id"))
    val evRep =
      if (!stretch) rep(events, evShift)
      else (0 until n).map { k =>
        // nanosAsLong fixtures read ts as BIGINT nanos — bigint +
        // interval fails analysis, so mirror EventStreams.heartbeat's
        // type dispatch and add raw nanos on the Long shape
        val shiftTs = events.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            col("ts") + lit(k * 31L * 86400L * 1000000000L)
          case _ => col("ts") + expr(s"INTERVAL '${k * 31}' DAY")
        }
        evShift.foldLeft(events) { case (df, (c, b)) =>
          df.withColumn(c, col(c) + lit(k * b))
        }.withColumn("ts", shiftTs)
      }.reduce(_ unionByName _)
    wr(evRep, "events")

    val orders = rd("orders")
    val li = rd("lineitem")
    val okBase = math.max(base(orders, "o_orderkey"), base(li, "l_orderkey"))
    wr(rep(orders, Map("o_orderkey" -> okBase)), "orders")
    wr(rep(li, Map("l_orderkey" -> okBase)), "lineitem")

    println(s"""{"synth":"$dst","factor":$n,"docs":${spark.read.parquet(s"$dst/documents.parquet").count()},"events":${spark.read.parquet(s"$dst/events.parquet").count()},"lineitem":${spark.read.parquet(s"$dst/lineitem.parquet").count()}}""")
    spark.stop()
  }
}
