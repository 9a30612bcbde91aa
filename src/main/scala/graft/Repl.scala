package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.heroql.{Analyzer, HeroQL, Parser}
import graft.store.TableStore

/** Interactive HeroQL shell over a warehouse directory — the human
  * front door to the engine (the reference's `StartWithDB` REPL loop
  * role; its kernel is driven by tests only, the designed surface
  * assumes an interactive host).
  *
  * Usage: `runMain graft.Repl <dataDir> [storeDir]`
  *
  * `dataDir` — a directory of `<name>.parquet` tables (e.g. the driver
  * warehouses under /root/testdata/sf*); each binds a `data <name>(…)`
  * declaration, fields selected by name. `storeDir` — optional
  * [[TableStore]] root for mutating statements (`:exec`, `:for`,
  * `:call`); its tables also join the read catalog.
  *
  * The session accumulates declaration text; lines starting with `:`
  * are commands (`:help` lists them). Declarations parse eagerly on
  * every block so syntax errors surface at entry, not at `:run`.
  */
object Repl {

  private val helpText =
    """HeroQL declarations (data/query/func/union/index/transaction/for/
      |procedure …) accumulate; terminate each with '.'. Commands:
      |  :tables           list bound tables (parquet + store)
      |  :schema <table>   show a bound table's schema
      |  :run <Query> [n]  evaluate a declared query, print first n rows (20)
      |  :explain <Query>  show a declared query's physical plan
      |  :check            parse the accumulated program, report errors
      |  :program          show the accumulated program text
      |  :reset            clear the accumulated program
      |  :exec <Txn>       run a declared 'transaction query' against the store
      |  :for              run the program's 'for query' statements against the store
      |  :call <P>(k=v,…)  run a declared procedure (int/double/"str"/bool params)
      |  :stream <stmt>    run a stream statement (dedup/sessionize/aggregate/enrich)
      |  :count <T>        metadata-only row count of a store table
      |  :changes <T> <N>  row-level CDC feed over the last N commits
      |  :restore <T> <N>  restore a store table to N commits back (pointer-only)
      |  :verify <gate>    run one driver gate + its DuckDB oracle locally
      |  :verify all [pre] every gate (name-prefix filter) + one oracle pass
      |  :help             this text
      |  :quit             exit""".stripMargin

  /** One REPL session over explicit I/O — the `main` wires stdin/stdout;
    * ReplSpec drives a scripted iterator. Returns the number of
    * successfully executed commands (smoke-spec observability). */
  def session(input: Iterator[String], out: String => Unit,
      spark: SparkSession, dataDir: String,
      storeDir: Option[String]): Int = {
    val store = storeDir.map(new TableStore(spark, _))
    val parquetTables: Map[String, Path] = {
      val p = Paths.get(dataDir)
      if (!Files.isDirectory(p)) Map.empty
      else Files.list(p).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString.stripSuffix(".parquet") -> f)
        .toMap
    }
    // mutating statements get ONLY the file tables: the store's tables
    // must resolve through the transaction view (read-your-writes
    // between a procedure's statements), which executeTransaction /
    // executeFor / executeProcedure only do for relations the passed
    // catalog does NOT already bind
    def fileCatalog(): Map[String, DataFrame] =
      parquetTables.map { case (n, f) => n -> Tables.scan(spark, f.toString) }
    def catalog(): Map[String, DataFrame] = {
      val stored = store.toSeq.flatMap(s =>
        s.tables.map(n => n -> s.read(n))).toMap
      fileCatalog() ++ stored // a store table shadows a same-named file
    }
    var program = new StringBuilder
    var ok = 0
    var done = false

    def render(df: DataFrame, n: Int): String = {
      val names = df.schema.fieldNames
      val rows = df.limit(n + 1).collect()
      val shown = rows.take(n).map(_.toSeq.map {
        case null => "null"
        case v => v.toString
      })
      val widths = names.indices.map(i =>
        (names(i).length +: shown.map(_(i).length)).max)
      def line(cells: Seq[String]) = cells.zip(widths)
        .map { case (c, w) => c.padTo(w, ' ') }.mkString("| ", " | ", " |")
      val header = line(names.toSeq)
      val body = shown.map(line)
      val more = if (rows.length > n) s"… (more than $n rows)" else s"${shown.length} row(s)"
      (header +: "-" * header.length +: body :+ more).mkString("\n")
    }

    def attempt(label: String)(f: => Unit): Unit =
      try { f; ok += 1 }
      catch {
        case e: Analyzer.AnalysisError => out(s"$label: ${e.getMessage}")
        case e: Parser.ParseError => out(s"$label: ${e.getMessage}")
        case e: Exception => out(s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }

    def requireStore(): TableStore = store.getOrElse(
      throw Analyzer.AnalysisError(
        "no store bound — start the REPL with a second <storeDir> argument"))

    // :call parameter literals: int / double / "string" / true / false
    def parseParams(s: String): Map[String, Any] =
      if (s.trim.isEmpty) Map.empty
      else s.split(",").map { kv =>
        val Array(k, v) = kv.split("=", 2).map(_.trim)
        val value: Any =
          if (v == "true") true
          else if (v == "false") false
          else if (v.startsWith("\"") && v.endsWith("\"")) v.substring(1, v.length - 1)
          else if (v.matches("-?\\d+")) v.toLong
          else if (v.matches("-?\\d*\\.\\d+")) v.toDouble
          else throw Analyzer.AnalysisError(s"unsupported parameter literal: $v")
        k -> value
      }.toMap

    while (!done && input.hasNext) {
      val lineRaw = input.next()
      val line = lineRaw.trim
      if (line.startsWith(":")) {
        val (cmd, rest) = line.indexOf(' ') match {
          case -1 => (line, "")
          case i => (line.substring(0, i), line.substring(i + 1).trim)
        }
        cmd match {
          case ":quit" => done = true; ok += 1
          case ":help" => out(helpText); ok += 1
          case ":tables" =>
            val names = catalog().keys.toSeq.sorted
            out(if (names.isEmpty) "(no tables)" else names.mkString(" "))
            ok += 1
          case ":schema" => attempt(":schema") {
            val c = catalog()
            val df = c.getOrElse(rest, throw Analyzer.AnalysisError(
              s"no table named $rest (have: ${c.keys.toSeq.sorted.mkString(", ")})"))
            out(df.schema.fields.map(f =>
              s"${f.name}: ${f.dataType.simpleString}").mkString("\n"))
          }
          case ":program" =>
            out(if (program.isEmpty) "(empty)" else program.toString.trim); ok += 1
          case ":reset" => program = new StringBuilder; ok += 1
          case ":check" => attempt(":check") {
            Parser.parse(program.toString)
            out("ok")
          }
          case ":run" => attempt(":run") {
            val parts = rest.split("\\s+").filter(_.nonEmpty)
            if (parts.isEmpty)
              throw Analyzer.AnalysisError(":run needs a query name")
            val n = if (parts.length > 1) parts(1).toInt else 20
            out(render(HeroQL.compile(program.toString, parts(0), catalog()), n))
          }
          case ":explain" => attempt(":explain") {
            if (rest.isEmpty)
              throw Analyzer.AnalysisError(":explain needs a query name")
            out(HeroQL.compile(program.toString, rest, catalog())
              .queryExecution.explainString(
                org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
          }
          case ":exec" => attempt(":exec") {
            HeroQL.executeTransaction(program.toString, rest, fileCatalog(), requireStore())
            out(s"transaction $rest committed")
          }
          case ":for" => attempt(":for") {
            HeroQL.executeFor(program.toString, fileCatalog(), requireStore())
            out("for-query actions committed")
          }
          case ":call" => attempt(":call") {
            val m = "^(\\w+)\\((.*)\\)$".r.findFirstMatchIn(rest).getOrElse(
              throw Analyzer.AnalysisError(":call syntax: :call Name(k=v, …)"))
            HeroQL.executeProcedure(program.toString, m.group(1),
              parseParams(m.group(2)), requireStore(), fileCatalog())
            out(s"procedure ${m.group(1)} committed")
          }
          case ":count" => attempt(":count") {
            // metadata-only count — no data files touched once stamped
            out(s"$rest: ${requireStore().fastCount(rest)} rows")
          }
          case ":changes" => attempt(":changes") {
            // `:changes <table> <versionsBack>` — the row-level CDC feed
            val parts = rest.split("\\s+")
            require(parts.length == 2, ":changes syntax: :changes <table> <versionsBack>")
            out(render(requireStore().changeFeed(parts(0), parts(1).toInt), 20))
          }
          case ":restore" => attempt(":restore") {
            // `:restore <table> <versionsBack>` — rollback as a forward
            // pointer commit (TableStore.restoreTable); the botched
            // interval stays time-travelable behind it
            val parts = rest.split("\\s+")
            require(parts.length == 2,
              ":restore syntax: :restore <table> <versionsBack>")
            requireStore().restoreTable(parts(0), parts(1).toInt)
            out(s"${parts(0)} restored to -${parts(1)} (pointer commit)")
          }
          case ":verify" => attempt(":verify") {
            // `:verify <gate>` — one-gate audit loop: run the
            // registered query against the bound data dir, dump its
            // result + oracle SQL in the driver's format, and (when
            // python3+duckdb are present — the driver machine) run the
            // local oracle compare on just that gate.
            // `:verify all [prefix]` — the same loop over EVERY
            // registered gate (optionally name-prefix-filtered), one
            // oracle compare at the end: a one-command local replica of
            // the driver's correctness pass. Per-gate run failures are
            // collected and reported, never fatal to the sweep.
            val parts = rest.trim.split("\\s+").filter(_.nonEmpty)
            require(parts.nonEmpty, ":verify syntax: :verify <gate>|all [prefix]")
            val gates: Seq[String] =
              if (parts(0) == "all") {
                val pre = parts.lift(1).getOrElse("")
                val g = SparkEntry.queries.keys.toSeq.filter(_.startsWith(pre)).sorted
                require(g.nonEmpty, s"no gates match prefix '$pre'")
                g
              } else {
                require(SparkEntry.queries.contains(parts(0)),
                  s"no gate named ${parts(0)} — gates: " +
                    s"${SparkEntry.queries.keys.toSeq.sorted.take(8).mkString(", ")}, …")
                Seq(parts(0))
              }
            val outDir = Files.createTempDirectory("graft-verify-").toString
            val failed = scala.collection.mutable.ListBuffer[String]()
            val produced = scala.collection.mutable.ListBuffer[String]()
            gates.foreach { n =>
              try {
                SparkEntry.queries(n)(spark, dataDir).coalesce(1).write
                  .mode("overwrite").parquet(s"$outDir/$n")
                produced += n
              } catch { case e: Exception =>
                failed += s"$n (${e.getClass.getSimpleName}: ${e.getMessage})"
                // a gate that threw mid-write leaves a partial parquet
                // dir; the harness read_parquets every produced dir, so
                // a partial one would abort the WHOLE oracle pass —
                // remove it (and keep the gate out of oracle_sql.json)
                val dir = Paths.get(s"$outDir/$n")
                if (Files.exists(dir)) {
                  import scala.jdk.CollectionConverters._
                  Files.walk(dir).iterator().asScala.toSeq.reverse
                    .foreach(Files.deleteIfExists(_))
                }
              }
            }
            val withOracle = produced.toSeq
              .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
            if (withOracle.isEmpty)
              out(s"${gates.mkString(", ")}: rows-only gate(s) (no oracle SQL) " +
                s"— results at $outDir")
            else {
              Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
                withOracle.map { case (n, sql) =>
                  s"${Verify.jsonQuote(n)}: ${Verify.jsonQuote(sql)}"
                }.mkString("{", ", ", "}"))
              val harness = Paths.get("tools/verify_local.py").toAbsolutePath
              if (Files.exists(harness)) {
                import scala.sys.process._
                val buf = new StringBuilder
                val code = Seq("python3", harness.toString, dataDir,
                  outDir, "--strict") ! ProcessLogger(l => buf.append(l).append('\n'))
                out(buf.toString.trim + (if (code == 0) "" else s"\n(exit $code)"))
              } else out(s"results + oracles dumped at $outDir " +
                "(tools/verify_local.py not found — compare externally)")
            }
            if (failed.nonEmpty)
              out(s"FAILED to run ${failed.size} gate(s): ${failed.mkString("; ")}")
          }
          case ":stream" => attempt(":stream") {
            // `:stream dedup Docs(…) by fingerprint(text) into corpus;`
            // — every relation name binds to the data directory; the
            // sink lands in the store, which :run can then read
            val stmt = if (rest.startsWith("stream")) rest else s"stream $rest"
            val rels = "(?:stream\\s+\\w+\\s+|with\\s+)(\\w+)\\s*\\(".r
              .findAllMatchIn(stmt).map(_.group(1)).toSeq
            val result = HeroQL.executeStream(stmt, spark,
              rels.map(_ -> dataDir).toMap, requireStore())
            out(render(result, 20))
          }
          case other => out(s"unknown command $other — :help lists commands")
        }
      } else if (line.nonEmpty) {
        // declaration text: append, then parse eagerly so errors surface
        // at entry; on failure the block is dropped (the buffer keeps
        // only programs that parse)
        val before = program.toString
        program.append(lineRaw).append('\n')
        try { Parser.parse(program.toString); ok += 1 }
        catch {
          case _: Parser.ParseError
              if !lineRaw.trim.endsWith(".") && !lineRaw.trim.endsWith(";") =>
            // likely an unterminated multi-line declaration — keep
            // accumulating; :check reports the state on demand
            ok += 1
          case e: Parser.ParseError =>
            out(s"parse error: ${e.getMessage} (block dropped)")
            program = new StringBuilder(before)
        }
      }
    }
    ok
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Repl <dataDir> [storeDir]")
      sys.exit(2)
    }
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .appName("graft-repl")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"graft REPL — data: ${args(0)}" +
      args.lift(1).map(s => s", store: $s").getOrElse("") + "  (:help for commands)")
    val in = Iterator.continually {
      print("graft> "); Console.flush()
      scala.io.StdIn.readLine()
    }.takeWhile(_ != null)
    session(in, println(_), spark, args(0), args.lift(1))
    spark.stop()
  }
}
