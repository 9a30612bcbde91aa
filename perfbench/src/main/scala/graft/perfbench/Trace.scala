package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed interval on one clock (epoch microseconds). `parent` is the
  * id of the enclosing span, 0 for an op's root span; `op` is the id of
  * that root span, shared by every span of one op execution. */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, op: Long) {
  def dur: Long = end - start
}

/** One Spark job as the listener saw it, attributed to the harness span
  * that was open on the submitting thread (a local property Spark hands
  * to the job and to the threads AQE and streaming start from it). */
final class JobRec(val id: Int, val site: String, val start: Long, val span: Long) {
  var end: Long = -1L
  var stages, tasks = 0
  var taskRunMs, taskCpuNs, shuffleRead, shuffleWrite, spill, gcMs = 0L

  /** Call-site file: "localCheckpoint at Fixpoint.scala:127" -> "Fixpoint". */
  def file: String = {
    val at = site.lastIndexOf(" at ")
    val f = if (at < 0) site else site.substring(at + 4)
    f.takeWhile(_ != '.')
  }
}

/** Per-micro-batch figures folded from streaming progress events. */
final class StreamTotals {
  var batches = 0L
  var batchMsSum, batchMsMax, stateRowsMax = 0L
}

/** Spans recorded in memory around the harness's calls into the engine,
  * plus the jobs and streaming progress the listeners report. Nothing is
  * recorded when `on` is false: an untraced run only registers nothing. */
final class Tracer(val on: Boolean) {
  val SpanKey = "perfbench.span"
  private var nextId = 0L
  private var open: List[Span] = Nil
  private val t0Nanos = System.nanoTime()
  private val t0Micros = System.currentTimeMillis() * 1000L
  private var sc: SparkContext = _
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stream = new StreamTotals
  @volatile private var events = 0L

  def nowMicros: Long = t0Micros + (System.nanoTime() - t0Nanos) / 1000L

  /** Time `body` as a span named `name`, nested in the open span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption
      val op = parent.map(_.op).getOrElse(id)
      val s0 = Span(id, name, nowMicros, -1L, parent.map(_.id).getOrElse(0L), op)
      open = s0 :: open
      if (sc != null) sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        open = open.tail
        if (sc != null)
          sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
        spans += s0.copy(end = nowMicros)
      }
    }

  /** Register the job and streaming listeners on a session's context. */
  def attach(session: org.apache.spark.sql.SparkSession): Unit = if (on) {
    sc = session.sparkContext
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        events += 1
        val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse("")
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
          .map(_.toLong).getOrElse(0L)
        val j = new JobRec(e.jobId, site, e.time * 1000L, span)
        e.stageIds.foreach(stageJob.put(_, j))
        jobs.put(e.jobId, j)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        events += 1
        Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000L)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        events += 1
        Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        events += 1
        val m = e.taskMetrics
        Option(stageJob.get(e.stageId)).filter(_ => m != null).foreach { j =>
          j.synchronized {
            j.tasks += 1
            j.taskRunMs += m.executorRunTime
            j.taskCpuNs += m.executorCpuTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.gcMs += m.jvmGCTime
          }
        }
      }
    })
    session.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        stream.synchronized {
          events += 1
          val p = e.progress
          stream.batches += 1
          stream.batchMsSum += p.batchDuration
          stream.batchMsMax = math.max(stream.batchMsMax, p.batchDuration)
          stream.stateRowsMax = math.max(stream.stateRowsMax,
            p.stateOperators.map(_.numRowsTotal).sum)
        }
    })
  }

  /** Wait until the asynchronous listener bus has delivered every event:
    * no job left open and no new event for 300 ms (at most 10 s). */
  def drain(): Unit = if (on) {
    import scala.jdk.CollectionConverters._
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    while (System.nanoTime() < deadline &&
        (last != events || jobs.values.asScala.exists(_.end < 0))) {
      last = events
      Thread.sleep(300)
    }
  }

  /** Forget everything recorded so far (the warm-up's spans and jobs). */
  def reset(): Unit = {
    drain()
    spans.clear(); jobs.clear(); stageJob.clear()
    stream.synchronized {
      stream.batches = 0; stream.batchMsSum = 0; stream.batchMsMax = 0; stream.stateRowsMax = 0
    }
  }
}

/** Length of the union of `ivs`, each clipped to [lo, hi). */
object Intervals {
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, reach = 0L
    reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}
