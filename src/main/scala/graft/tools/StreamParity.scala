package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Value-parity probe for the streaming drains at ARBITRARY corpus
  * scale (the r21 parallel-staging validation): drains
  * st19/st15/st18's streaming frames over the given dir and compares
  * row sets against their BATCH twins computed from the same parquet —
  * the check the sf-scale StreamingSpec pins, runnable against the
  * 100× synth corpus where the multi-file staging path actually
  * engages. Exits non-zero on any mismatch.
  *
  * Usage: runMain graft.tools.StreamParity <dir> [st19|st15|st18 ...]
  *
  * The memory sink collects every micro-batch to the driver; at 100×
  * that can pass Spark's default driver result cap, so lift it from the
  * command line: `SPARK_GRAFT_EXTRA_OPTS=-Dspark.driver.maxResultSize=4g`.
  */
object StreamParity {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/synth100")
    val which = if (args.length > 1) args.drop(1).toSet else Set("st19", "st15", "st18")
    val spark = graft.Sessions.getOrCreate(graft.Sessions.cpus())
    spark.sparkContext.setLogLevel("WARN")
    var failed = false

    def drain(name: String, sdf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val q = sdf.writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory(s"graft-parity-$name-").toString)
        .start()
      q.awaitTermination()
      spark.table(name)
    }

    def compare(name: String, streamed: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame): Unit = {
      val sc = streamed.count(); val bc = batch.count()
      val extra = streamed.exceptAll(batch).count()
      val missing = batch.exceptAll(streamed).count()
      val ok = sc == bc && extra == 0 && missing == 0
      if (!ok) failed = true
      println(s"PARITY $name streamed=$sc batch=$bc extra=$extra missing=$missing " +
        (if (ok) "OK" else "MISMATCH"))
    }

    if (which("st19")) {
      val t0 = System.nanoTime()
      val streamed = drain("p_st19",
        graft.streaming.EventStreams.streamWindowedKmvDistinct(spark, dir))
      println(f"st19 drain ${(System.nanoTime() - t0) / 1e9}%.1f s")
      // batch twin: identical projections/aggregates over the same rows
      // (KMV order statistics are order-insensitive and deterministic)
      val k = 256
      val kmv = udaf(new graft.functions.KmvSketchAgg(k))
      val ev = graft.streaming.EventStreams.tsInstant(
        spark.read.parquet(s"$dir/events.parquet"))
      val batch = ev
        .withColumn("h", expr(
          "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(kmv(col("h")).as("sk"), count(lit(1)).as("n_events"))
        .select(col("w.start")
            .cast(org.apache.spark.sql.types.TimestampNTZType).as("win_start"),
          col("event_type"), col("n_events"), col("sk.n_k").as("n_distinct_capped"),
          when(col("sk.n_k") < k, col("sk.n_k") * lit(1000000L))
            .otherwise(expr(
              s"CAST(floor((${k - 1}.0 * 1152921504606846976.0 / CAST(sk.kth AS DOUBLE)) * 1000000.0) AS BIGINT)"))
            .as("est_distinct_micro"))
      compare("st19", streamed, batch)
    }

    Seq("st15" -> "leftOuter", "st18" -> "fullOuter").foreach { case (nm, jt) =>
      if (which(nm)) {
        val t0 = System.nanoTime()
        val streamed = drain(s"p_$nm",
          if (jt == "leftOuter")
            graft.streaming.EventStreams.streamStreamSignupLeftJoin(spark, dir)
          else graft.streaming.EventStreams.streamStreamSignupFullJoin(spark, dir))
        println(f"$nm drain ${(System.nanoTime() - t0) / 1e9}%.1f s")
        val ev = graft.streaming.EventStreams.tsInstant(
          spark.read.parquet(s"$dir/events.parquet"))
        val maxTs = ev.agg(max(expr("unix_micros(ts)"))).head.getLong(0)
        val closable = maxTs - (7L * 24 + 2) * 3600L * 1000000L
        val signups = ev.filter(col("event_type") === "signup" &&
            expr("unix_micros(ts)") <= lit(closable))
          .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
            col("ts").as("ts0"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("p_ts"),
            col("event_id").as("p_id"), col("value"))
        val batch = signups.join(purchases, expr(
          "s_user = user_id AND p_ts >= ts0 AND p_ts < ts0 + INTERVAL 7 DAYS"), jt)
          .select(col("signup_id"), col("s_user"), col("p_id"), col("value"))
        compare(nm, streamed, batch)
      }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
