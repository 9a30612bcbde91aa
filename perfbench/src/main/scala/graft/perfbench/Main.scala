package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One op execution: its class, kind, pass, wall seconds, CPU seconds
  * (see [[Cpu]]) and failure, if any. */
final case class Sample(cls: String, kind: String, pass: Int, secs: Double, cpu: Double,
    error: Option[String])

/** The benchmark's JVM side. Started by perfbench/run.py as
  * {{{
  *   graft.perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --data <inputs dir> --run <run dir> --conf perfbench/session.conf
  * }}}
  * it builds the session and sets the workload up once, warms up with
  * one pass, runs passes in a closed loop with one client thread until
  * `--seconds` and the workload's `minPasses` have been measured, checks
  * every result, and writes `<run dir>/result.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val jvmToMain = (System.currentTimeMillis() - jvmStart) / 1000.0
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val runDir = opt("run")
    val tracer = new Tracer(opt("trace") == "1")
    val ctx = new Ctx(opt("data"), runDir, tracer)
    val sessionConf = readConf(opt("conf")) ++ Map(
      "spark.sql.warehouse.dir" -> s"$runDir/warehouse",
      "spark.sql.streaming.checkpointLocation" -> s"$runDir/checkpoints") ++ workload.conf(ctx)

    // set-up, once and cold: a second round in this JVM would be warm and
    // hide the class loading and static initialisation the first one pays
    val s0 = System.nanoTime()
    val b = SparkSession.builder()
    sessionConf.foreach { case (k, v) => b.config(k, v) }
    ctx.spark = b.getOrCreate()
    ctx.spark.sparkContext.setLogLevel("ERROR")
    workload.setUp(ctx)
    val sessionS = (System.nanoTime() - s0) / 1e9
    tracer.attach(ctx.spark)
    workload match {
      case s: StoreMixed => s.loadModel(ctx)
      case _ =>
    }

    val rng = new Random(seed)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val expected = mutable.HashMap.empty[String, String]
    val firstRows = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

    def execute(op: Op, pass: Int): Sample = {
      val sc = ctx.spark.sparkContext
      val pre = sc.getPersistentRDDs.keySet
      val c0 = Cpu.seconds()
      val t0 = System.nanoTime()
      val out = try Right(tracer.span(op.cls)(op.run())) catch { case NonFatal(e) => Left(e) }
      val dt = (System.nanoTime() - t0) / 1e9
      val cpu = Cpu.seconds() - c0
      // untimed from here on: check the result, then release what the op
      // pinned so blocks do not pile up and tax later ops (as graft.Bench)
      val error = out match {
        case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(done) =>
          val fromCheck = try done.check() catch { case NonFatal(e) => Some(s"check threw $e") }
          fromCheck.orElse(if (op.kind != "query") None else {
            val fp = Fingerprint(done.rows)
            expected.get(op.cls) match {
              case None =>
                expected(op.cls) = fp
                firstRows(op.cls) = (done.rows, done.schema)
                None
              case Some(want) if want == fp => None
              case Some(want) => Some(s"result fingerprint $fp differs from the first execution's $want")
            }
          })
      }
      sc.getPersistentRDDs.foreach { case (id, r) => if (!pre.contains(id)) r.unpersist(true) }
      ctx.spark.catalog.clearCache()
      Sample(op.cls, op.kind, pass, dt, cpu, error)
    }

    // warm-up: one pass, so class loading, codegen and most of the JIT
    // are paid before timing (see README.md)
    val w0 = System.nanoTime()
    samples ++= workload.pass(ctx, rng).map(execute(_, 0))
    val warmup = (System.nanoTime() - w0) / 1e9
    tracer.reset()
    workload.startWindow(ctx)
    // JVM start to the first timed op: JVM, session, set-up, warm-up;
    // in CPU time, the JIT's included, since compiling the hot code is
    // part of getting ready
    val setupCpu = Cpu.process()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

    // timed window: whole passes, at least the workload's minimum, and a
    // new one only while time remains
    val passTimes = mutable.ArrayBuffer.empty[Double]
    var measured = 0.0
    while (measured < seconds || passTimes.size < workload.minPasses) {
      val ops = workload.pass(ctx, rng)
      val s = ops.map(execute(_, passTimes.size + 1))
      samples ++= s
      passTimes += s.map(_.secs).sum
      measured += passTimes.last
    }
    tracer.drain()
    val timed = samples.filter(_.pass > 0).toSeq
    val layers = if (!tracer.on) Map.empty[String, Double]
      else Layers(tracer, timed, passTimes.size, ctx.spark.sparkContext.defaultParallelism) ++
        StoreMixed.LayerKeys.map(_ -> 0.0) ++ workload.layerMetrics(ctx, timed, passTimes.size) ++
        Workload.allClasses.map(c => s"op.${c}_s" -> median(timed.filter(_.cls == c).map(_.secs))) ++
        Map("heroql.parse_s" -> parseSeconds(workload.heroqlPrograms))

    if (tracer.on) {
      import scala.jdk.CollectionConverters._
      val sites = tracer.jobs.values.asScala.groupBy(_.site).map { case (k, v) => k -> v.size }
      System.err.println("perfbench: jobs by call site: " +
        sites.toSeq.sortBy(-_._2).map { case (k, n) => s"$n× $k" }.mkString("; "))
    }
    val heapMb = liveHeapMb()
    val failures = samples.collect { case Sample(c, _, p, _, _, Some(e)) => s"$c (pass $p): $e" } ++
      (try workload.finish(ctx) catch { case NonFatal(e) => Seq(s"final check threw $e") })
    val fg = timed.filter(_.kind != "background")
    // geometric mean over the foreground op classes of each class's
    // median, as TPC-H's power metric summarises its queries: every class
    // moves it, and it does not jump between classes the way the p50 of a
    // few dozen samples over a handful of classes does
    def geomean(f: Sample => Double): Double = {
      val classMedians = fg.groupBy(_.cls).values.map(s => median(s.map(f))).toSeq
      math.exp(classMedians.map(math.log).sum / classMedians.size)
    }
    // end to end, the ops in CPU seconds outside the JIT compiler (see Cpu)
    val e2e = Map(
      "setup_s" -> setupCpu,
      "cpu_per_op_s" -> timed.map(_.cpu).sum / timed.size,
      "cpu_geomean_s" -> geomean(_.cpu),
      "live_heap_mb" -> heapMb)
    // the traced run reports its own end-to-end figures too: less the
    // untraced run's, they are the tracing overhead. The wall-clock twins
    // and percentiles are reported here, with the pass time: wall time
    // follows the shared host's load too closely to bound a change by.
    val fgSecs = fg.map(_.secs)
    val metrics = if (!tracer.on) e2e else layers ++ e2e.map { case (k, v) => s"trace.$k" -> v } ++
      Map("wall.setup_s" -> setupS, "wall.throughput_ops_s" -> timed.size / timed.map(_.secs).sum,
        "wall.latency_geomean_s" -> geomean(_.secs),
        "latency_p50_s" -> quantile(fgSecs, 0.5), "latency_p90_s" -> quantile(fgSecs, 0.9),
        "pass_s" -> median(passTimes.toSeq))

    // dump each query's first result for the DuckDB oracle check (untimed)
    val oracles = workload match {
      case q: QueryWorkload => q.oracles.filter { case (n, _) => firstRows.contains(n) }
      case _ => Map.empty[String, String]
    }
    oracles.keys.foreach { n =>
      val (rows, schema) = firstRows(n)
      ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$runDir/results/$n")
    }
    ctx.spark.stop()

    val json = new StringBuilder("{")
    json ++= s""""attempted":${samples.size + workloadChecks(workload)},"failed":${failures.size},"""
    json ++= s""""failures":${Json.arr(failures.toSeq)},"""
    json ++= s""""oracle_sql":${Json.obj(oracles)},"""
    json ++= s""""metrics":${Json.numObj(metrics)}}"""
    JFiles.write(Paths.get(s"$runDir/result.json"), json.toString.getBytes(StandardCharsets.UTF_8))
    System.err.println(f"perfbench: ${workload.name} seed $seed: JVM to main $jvmToMain%.2f s, " +
      f"session and set-up $sessionS%.2f s, warm-up $warmup%.2f s, set-up CPU $setupCpu%.2f s, " +
      f"${passTimes.size} passes ${passTimes.sum}%.2f s (${passTimes.map(t => f"$t%.2f").mkString(" ")}), " +
      f"JVM ran ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s; op medians, wall/CPU s: " +
      timed.groupBy(_.cls).toSeq.sortBy(_._1).map { case (c, s) =>
        f"$c ${median(s.map(_.secs))}%.3f/${median(s.map(_.cpu))}%.3f" }.mkString(", "))
  }

  /** `Parser.parse` time of one pass's HeroQL programs, each the median
    * of five parses made outside the ops. The engine's own parse runs
    * inside the HeroQL builder (in heroql.compile_s); a second parse
    * within an op would add work the untraced run never does. */
  private def parseSeconds(programs: Seq[String]): Double = programs.map { p =>
    median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      graft.heroql.Parser.parse(p)
      (System.nanoTime() - t0) / 1e9
    })
  }.sum

  /** The final-table check of store-mixed counts as one more attempted op. */
  private def workloadChecks(w: Workload): Int = w match {
    case _: StoreMixed => 1
    case _ => 0
  }

  def readConf(path: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    JFiles.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val i = l.indexOf('='); l.take(i).trim -> l.drop(i + 1).trim }.toMap
  }

  /** Heap still in use after full collections. One is not enough: after
    * a single one heavy-ops read anywhere from 100 to 140 MB, after three
    * a steady 85 MB. */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** CPU time of this process outside the JIT compiler's threads, in
  * seconds since the JVM started (`process()` counts them too).
  *
  * A thread's CPU time leaves out what the hypervisor stole from it, so
  * on a shared host it moves far less with the neighbours' load than
  * wall time does. The compiler threads are left out because their work
  * follows the JIT's warm-up curve, not the ops: in the first timed
  * passes they burn more CPU than every other thread together. GC threads
  * stay in, as allocation is the ops' own cost. HotSpot reports its
  * internal threads' times only through `sun.management`, so run.py
  * starts the JVM with that package exported, and with a fixed set of
  * compiler threads, so that a retiring one cannot move its time into
  * the total.
  */
object Cpu {
  import scala.jdk.CollectionConverters._

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val hotspot = Class.forName("sun.management.ManagementFactoryHelper")
    .getMethod("getHotspotThreadMBean").invoke(null)
  private val internalTimes = Class.forName("sun.management.HotspotThreadMBean")
    .getMethod("getInternalThreadCpuTimes")

  def seconds(): Double = {
    val jit = internalTimes.invoke(hotspot).asInstanceOf[java.util.Map[String, java.lang.Long]]
      .asScala.collect { case (name, ns) if name.contains("CompilerThread") => ns.longValue }.sum
    process() - jit / 1e9
  }

  /** CPU time of the whole process, JIT included. */
  def process(): Double = os.getProcessCpuTime / 1e9
}

/** Order-insensitive digest of a result, doubles to nine significant
  * digits so summation order cannot change it. */
object Fingerprint {
  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.9g".format(d)
    case f: Float => render(f.toDouble)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }
      .sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  def apply(rows: Array[Row]): String = {
    val lines = rows.map(render).sorted
    f"${rows.length}%d:${scala.util.hashing.MurmurHash3.orderedHash(lines.toSeq)}%08x"
  }
}

/** Just enough JSON for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def arr(xs: Seq[String]): String = xs.map(str).mkString("[", ",", "]")
  def obj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
  def numObj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
}
