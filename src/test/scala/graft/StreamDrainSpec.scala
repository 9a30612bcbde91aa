package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.operators.{Fixpoint, GraphOps}
import graft.streaming.EventStreams

/** The one streaming drain ([[EventStreams.drain]]), the one chunk
  * stager ([[EventStreams.stageChunks]]) and the one temporary-conf
  * scope ([[Sessions.withConf]]): the session's conf comes back exactly
  * as it was, the stateful stream still runs on its state fan, a memory
  * drain leaves no view behind, and the chunks arrive in order. */
class StreamDrainSpec extends SparkSpec {

  private def st19() = SparkEntry.queries("st19_stream_kmv_distinct")(spark, sf)

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("iterative operators and the st19 drain leave the session conf unchanged") {
    val before = spark.conf.getAll
    val edges = spark.range(1, 40).select(col("id").as("child"), (col("id") / 2).cast("long").as("parent"))
    Fixpoint.bfsDistances(edges, 0L).collect()
    Fixpoint.transitiveClosureDoubling(edges).collect()
    GraphOps.connectedComponentsDF(spark,
      edges.select(col("child").as("src"), col("parent").as("dst"))).collect()
    st19().collect()
    assert(spark.conf.getAll === before)
  }

  test("withConf unsets a key that was unset and restores one that was set") {
    val unsetKey = "spark.sql.codegen.wholeStage"
    val setKey = "spark.sql.shuffle.partitions"
    assume(!spark.conf.getAll.contains(unsetKey))
    val was = spark.conf.get(setKey)
    intercept[IllegalStateException] {
      Sessions.withConf(spark, Map(unsetKey -> "false", setKey -> "3")) {
        assert(spark.conf.get(unsetKey) === "false" && spark.conf.get(setKey) === "3")
        throw new IllegalStateException("body fails")
      }
    }
    assert(!spark.conf.getAll.contains(unsetKey))
    assert(spark.conf.get(setKey) === was)
  }

  test("st19's state operator runs the events state fan in every progress event") {
    val fan = EventStreams.eventsFan(spark, sf)
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val terminated = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.countDown()
    }
    spark.streams.addListener(listener)
    // a session fan unlike the state fan, so only the drain's scope
    // can explain the state operator's partition count
    try Sessions.withConf(spark, Map("spark.sql.shuffle.partitions" -> (fan + 3).toString)) {
      st19().collect()
      // the terminated event follows the query's last progress event
      assert(terminated.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.streams.removeListener(listener)
    val events = progress.asScala.toSeq
    assert(events.nonEmpty)
    events.foreach { p =>
      assert(p.stateOperators.nonEmpty, s"batch ${p.batchId} has no state operator")
      assert(p.stateOperators.forall(_.numShufflePartitions == fan),
        s"batch ${p.batchId}: ${p.stateOperators.map(_.numShufflePartitions).mkString(",")} != $fan")
    }
  }

  test("a memory drain leaves no temp view behind and its frame still collects") {
    val views = tempViews()
    val out = st19()
    assert(tempViews() === views)
    val rows = out.collect()
    assert(rows.nonEmpty && rows.length === out.count())
  }

  private def chunkFiles(stage: String): Seq[Path] = {
    val s = Files.list(Paths.get(stage))
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** The stage holds exactly `n` chunk files, which list in chunk
    * order by mtime, all in the past; returns them in that order. */
  private def assertChunkOrder(stage: String, n: Int): Seq[Path] = {
    val files = chunkFiles(stage)
    assert(files.map(_.getFileName.toString).sorted ===
      (0 until n).map(k => f"chunk-$k%04d.parquet"))
    val byMtime = files.sortBy(Files.getLastModifiedTime(_).toMillis)
    assert(byMtime === files.sortBy(_.getFileName.toString))
    val mtimes = byMtime.map(Files.getLastModifiedTime(_).toMillis)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b })
    assert(mtimes.last < System.currentTimeMillis())
    byMtime
  }

  test("id-range chunks: chunk k holds exactly the k-th id range, in order") {
    val rows = Tables.t(spark, sf, "events")
    val stage = EventStreams.stageChunks(rows, "event_id", 4)
    val files = assertChunkOrder(stage, 4)
    val step = rows.agg(max("event_id")).head.getLong(0) / 4 + 1
    files.zipWithIndex.foreach { case (f, k) =>
      val chunk = spark.read.parquet(f.toString)
      val want = rows.filter(col("event_id") >= k * step && col("event_id") < (k + 1) * step)
      assert(chunk.count() === want.count())
      assert(chunk.exceptAll(want).isEmpty && want.exceptAll(chunk).isEmpty)
    }
    Tables.rmTree(stage)
  }

  test("ts-ntile chunks: chunk k holds exactly the k-th event-time ntile, in order") {
    val rows = Tables.t(spark, sf, "events")
    val stage = EventStreams.stageChunks(rows, "ts", 4, ntiles = true)
    val files = assertChunkOrder(stage, 4)
    val tiled = rows.withColumn("__t",
      ntile(4).over(org.apache.spark.sql.expressions.Window.orderBy(col("ts"))) - 1)
    val chunks = files.map(f => spark.read.parquet(f.toString))
    chunks.zipWithIndex.foreach { case (chunk, k) =>
      val want = tiled.filter(col("__t") === k).drop("__t")
      assert(chunk.count() === want.count())
    }
    // ntile boundaries may split equal timestamps, so the exact check is
    // on the ordered bounds and on the union
    val bounds = chunks.map { c =>
      val r = EventStreams.tsNanos(c).agg(min("tns"), max("tns")).head
      (r.getLong(0), r.getLong(1))
    }
    bounds.zip(bounds.tail).foreach { case ((_, hi), (lo, _)) => assert(hi <= lo) }
    val all = chunks.reduce(_ unionByName _)
    assert(all.count() === rows.count())
    assert(all.exceptAll(rows).isEmpty && rows.exceptAll(all).isEmpty)
    Tables.rmTree(stage)
  }
}
