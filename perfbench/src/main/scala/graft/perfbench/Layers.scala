package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer figures of the timed window, from the tracer's spans and
  * jobs. Times are self times in seconds and counts are totals, both per
  * pass; a layer a workload never enters reads 0.
  *
  * Each Spark job is charged to the module named by its call site when
  * that is `Tables` (schema inference) or one of [[OperatorFiles]], and
  * otherwise to the harness span it ran under. A harness span's own
  * share is its duration less its child spans and jobs.
  */
object Layers {
  /** Call-site files whose jobs count as operator work. `Streaming` is
    * the query pack whose drains start micro-batch jobs; `GraphX` stands
    * for GraphX's own files, which GraphOps' PageRank runs jobs from. */
  val OperatorFiles: Seq[String] = Seq(
    "Fixpoint", "GraphOps", "GraphX", "MinHashLSH", "RangeCount", "EventStreams", "Streaming")
  private val GraphXFiles = Set("VertexRDD", "VertexRDDImpl", "EdgeRDD", "EdgeRDDImpl",
    "GraphImpl", "Pregel", "ReplicatedVertexView", "PageRank")

  /** Harness span name -> the layer metric its self time goes to. */
  val SpanLayer: Map[String, String] = Map(
    "queries.build" -> "queries.build_s",
    "heroql.compile" -> "heroql.compile_s",
    "heroql.txn" -> "heroql.txn_s",
    "catalyst.optimize" -> "catalyst.optimize_s",
    "catalyst.physical" -> "catalyst.physical_s",
    "exec" -> "exec.run_s",
    "store.read" -> "store.read_s",
    "store.write" -> "store.write_s",
    "store.compact" -> "store.compact_s",
    "store.vacuum" -> "store.vacuum_s")

  def apply(tr: Tracer, timed: Seq[Sample], passes: Int, cores: Int): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    SpanLayer.values.foreach(out(_) = 0.0)
    Seq("tables.schema_jobs", "tables.schema_job_s", "queries.build_jobs", "heroql.build_jobs",
      "plans.read_optimize_s")
      .foreach(out(_) = 0.0)
    (OperatorFiles :+ "other").foreach { f =>
      out(s"operators.$f.jobs") = 0.0; out(s"operators.$f.job_s") = 0.0
    }

    val byId = tr.spans.map(s => s.id -> s).toMap
    val children = tr.spans.groupBy(_.parent)
    // jobs of the timed ops only: tagged with one of their spans, or
    // untagged but started while an op ran; the rest are the harness's
    val roots = tr.spans.filter(_.parent == 0)
    val jobs = tr.jobs.values.asScala.toSeq.filter(j => j.end >= 0 &&
      (byId.contains(j.span) || roots.exists(r => j.start >= r.start && j.start < r.end)))
    val jobsUnder = jobs.groupBy(_.span)
    val kindOf = timed.map(s => s.cls -> s.kind).toMap
    def opOf(s: Span): Span = byId.getOrElse(s.op, s)

    // harness spans: self time = duration less children and child jobs
    var minCoverage = 1.0
    tr.spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq ++
        jobsUnder.getOrElse(s.id, Nil).map(j => (j.start, j.end))
      val self = (s.dur - Intervals.covered(kids, s.start, s.end)) / 1e6
      if (s.parent == 0) {
        // an op's root: what its children leave uncovered is harness time
        if (s.dur > 0) minCoverage = math.min(minCoverage, 1.0 - self * 1e6 / s.dur)
      } else SpanLayer.get(s.name).foreach { layer =>
        add(layer, self)
        if (s.name == "catalyst.optimize" && kindOf.get(opOf(s).name).contains("read"))
          add("plans.read_optimize_s", self)
      }
    }
    // jobs: by call site first, else by the span they ran under
    jobs.foreach { j =>
      val secs = (j.end - j.start) / 1e6
      val under = byId.get(j.span)
      val file = if (GraphXFiles(j.file)) "GraphX" else j.file
      if (under.exists(_.name == "queries.build")) add("queries.build_jobs", 1)
      if (under.exists(_.name == "heroql.compile")) add("heroql.build_jobs", 1)
      if (file == "Tables") { add("tables.schema_jobs", 1); add("tables.schema_job_s", secs) }
      else if (OperatorFiles.contains(file)) {
        add(s"operators.$file.jobs", 1); add(s"operators.$file.job_s", secs)
      } else under.flatMap(s => SpanLayer.get(s.name)) match {
        case Some(layer) => add(layer, secs)
        case None => add("operators.other.jobs", 1); add("operators.other.job_s", secs)
      }
    }

    val opWall = roots.map(_.dur).sum / 1e6
    val taskRun = jobs.map(_.taskRunMs).sum / 1e3
    val mb = 1048576.0
    Seq(
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> jobs.map(_.stages).sum.toDouble,
      "exec.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "exec.task_run_s" -> taskRun,
      "exec.task_cpu_s" -> jobs.map(_.taskCpuNs).sum / 1e9,
      "exec.shuffle_read_mb" -> jobs.map(_.shuffleRead).sum / mb,
      "exec.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / mb,
      "exec.spill_mb" -> jobs.map(_.spill).sum / mb,
      "exec.gc_s" -> jobs.map(_.gcMs).sum / 1e3,
      "streaming.batches" -> tr.stream.batches.toDouble,
      "streaming.batch_ms_sum" -> tr.stream.batchMsSum.toDouble
    ).foreach { case (k, v) => add(k, v) }
    val perPass = out.map { case (k, v) => k -> v / math.max(1, passes) }.toMap
    perPass ++ Map(
      "exec.parallel_eff" -> (if (opWall > 0) taskRun / (opWall * cores) else 0.0),
      "streaming.batch_ms_max" -> tr.stream.batchMsMax.toDouble,
      "streaming.state_rows_max" -> tr.stream.stateRowsMax.toDouble,
      "trace.coverage_min" -> minCoverage)
  }
}
