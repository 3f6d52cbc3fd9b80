package graft.cli

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Interactive SQL shell over the graft engine — the rebuild of the
  * reference's `zarr-cli` (/root/reference/src/bin/zarr_cli/main.rs):
  * line loop, DDL-vs-query dispatch with `OK (t)` acknowledgements,
  * per-query timing + row-count stats line, persistent history,
  * multi-line statements (`;`-terminated, like psql — the
  * reference's "multi-line query editing" roadmap row), output
  * formats table/csv/json (`\format`, its "output formats" row), and
  * `help` / `\d` / `.schema` / `show tables` / `quit` commands. Zarr
  * stores register via standard DDL:
  *
  *   CREATE TABLE w USING zarr OPTIONS (path '/data/store.zarr');
  *   SELECT time, AVG(temperature) FROM w GROUP BY time;
  *
  * Run: tools/run.sh graft.cli.SqlRepl
  */
object SqlRepl {

  private val historyPath = Paths.get(sys.props("user.home"), ".graft_sql_history")

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(GraftSession.cpus(Runtime.getRuntime.availableProcessors))
    // typed Aggregators register per-session (they carry encoders the
    // extension-injection path can't): heavy_hitters(col) → array of
    // (token, est_count, max_count) structs, ≤32 entries
    spark.udf.register("heavy_hitters",
      org.apache.spark.sql.functions.udaf(new graft.functions.MisraGries(32)))
    println("graft SQL shell — 'help' for commands, 'quit' to exit; end SQL with ;")
    if (System.console() != null) runJline(spark)
    else {
      val in = new BufferedReader(new InputStreamReader(System.in))
      loop(spark, () => in.readLine(), println, echoPrompt = true)
    }
    spark.stop()
  }

  /** Words offered by tab completion: SQL keywords, shell commands,
    * and the live table catalog. The catalog lookup is cached for a
    * few seconds — completion fires per TAB press and must not run a
    * catalog round trip per keystroke. */
  private var tableCache: (Long, Seq[String]) = (0L, Nil)

  def completionWords(spark: SparkSession): Seq[String] = {
    val now = System.nanoTime()
    if (now - tableCache._1 > 5e9.toLong) {
      val tables =
        try spark.catalog.listTables().collect().map(_.name).toSeq
        catch { case NonFatal(_) => Nil }
      tableCache = (now, tables)
    }
    (keywords.map(_.toUpperCase) ++
      Seq("help", "quit", "exit", ".schema", "\\format", "\\d", "show tables") ++
      tableCache._2).toSeq
  }

  /** Interactive path: jline line editing, persistent history, and tab
    * completion over keywords + commands + the live table catalog —
    * the reference CLI's rustyline affordances ("tab completion" /
    * "multi-line query editing" roadmap rows). Piped input (tests,
    * scripts) takes the plain reader path instead. */
  private def runJline(spark: SparkSession): Unit = {
    import org.jline.reader.{Candidate, Completer, EndOfFileException, LineReader, LineReaderBuilder, ParsedLine, UserInterruptException}
    import org.jline.terminal.TerminalBuilder
    val completer = new Completer {
      override def complete(reader: LineReader, line: ParsedLine,
          candidates: java.util.List[Candidate]): Unit =
        completionWords(spark).foreach(w => candidates.add(new Candidate(w)))
    }
    val terminal = TerminalBuilder.builder().system(true).build()
    val reader = LineReaderBuilder.builder()
      .terminal(terminal)
      .completer(completer)
      .variable(LineReader.HISTORY_FILE, historyPath)
      .build()
    var buffered = false
    def readOne(): String =
      try reader.readLine(if (buffered) "   -> " else "graft> ")
      catch {
        case _: EndOfFileException => null
        // Ctrl-C discards the half-typed statement (psql behavior) —
        // mapping it to an empty line would append to the buffer and
        // leave no way out short of executing the unwanted statement
        case _: UserInterruptException => buffered = false; AbortLine
      }
    // track continuation state for the prompt: loop() owns the real
    // buffer; mirror its "ends with ;" rule here
    loop(spark, () => {
      val l = readOne()
      if (l != null) {
        val t = l.trim
        if (buffered) buffered = !t.endsWith(";")
        else {
          val cmd = t.isEmpty || t.startsWith("\\") || t.startsWith(".") ||
            Set("quit", "exit", "help", "show tables")(t.stripSuffix(";").trim.toLowerCase)
          if (!cmd) buffered = !t.endsWith(";")
        }
      }
      l
      // jline owns history persistence here (HISTORY_FILE) — the
      // loop's own append would double every entry
    }, println, recordHistory = false)
  }

  /** Sentinel a reader returns to discard a half-typed multi-line
    * statement (Ctrl-C in the jline path, like psql). */
  val AbortLine = "\u0000__graft_abort__"

  /** The REPL session over arbitrary IO — `main` wires stdin/stdout;
    * tests drive it with scripted lines. Statements accumulate until
    * a line ends with `;` (multi-line editing); shell commands act on
    * a single line when no statement is buffered. */

  def loop(spark: SparkSession, readLine: () => String, out: String => Unit,
      echoPrompt: Boolean = false, recordHistory: Boolean = true): Unit = {
    def record(s: String): Unit = if (recordHistory) appendHistory(s)
    var format = "table"
    val buffer = new StringBuilder
    var line: String = null
    def prompt(): Unit = if (echoPrompt) {
      print(if (buffer.isEmpty) "graft> " else "   -> "); Console.flush()
    }
    while ({ prompt(); line = readLine(); line != null }) {
      if (line == AbortLine) { buffer.clear() }
      else {
      val trimmed = line.trim
      val isCommand = buffer.isEmpty && (trimmed.isEmpty ||
        trimmed.startsWith("\\") || trimmed.startsWith(".") ||
        Set("quit", "exit", "help", "show tables")(
          trimmed.stripSuffix(";").trim.toLowerCase))
      if (isCommand) {
        trimmed.stripSuffix(";").trim.toLowerCase match {
          case "" =>
          case "quit" | "exit" => return
          case "help" =>
            out("""Commands:
              |  help                 this help
              |  quit / exit          leave the shell
              |  show tables, \d      list registered tables
              |  .schema <table>      column names and types
              |  \format [table|csv|json]   result output format
              |  \analyze <SQL>;      run and report per-scan runtime IO metrics
              |  \virtualize <store> <refsDir> [snapshot]   emit parquet refs for a store
              |                       (snapshot: coords inlined — point-in-time view)
              |  \combine <dim> <refsDir> <store1> <store2> [...]   virtual concat
              |  \gc <store>          reclaim retired overwrite generations whose
              |                       snapshots are all gone (prints what was deleted)
              |  \abort               discard a half-typed multi-line statement
              |  <SQL>;               any Spark SQL, ; ends a (multi-line) statement
              |""".stripMargin)
          case "\\d" | "show tables" =>
            spark.sql("SHOW TABLES").collect()
              .foreach(r => out(r.getString(1)))
          case s if s.startsWith(".schema") =>
            val t = trimmed.stripSuffix(";").trim.split("\\s+").drop(1).headOption
            t match {
              case None => out("usage: .schema <table>")
              case Some(name) =>
                try spark.table(name).schema.fields.foreach(f =>
                  out(s"  ${f.name}  ${f.dataType.sql}${if (f.nullable) "" else "  NOT NULL"}"))
                catch { case NonFatal(e) =>
                  out(s"Error: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.next()}") }
            }
          case s if s.startsWith("\\format") =>
            trimmed.stripSuffix(";").trim.split("\\s+").drop(1).headOption.map(_.toLowerCase) match {
              case Some(f @ ("table" | "csv" | "json")) =>
                format = f; out(s"output format: $f")
              case _ => out(s"output format: $format (usage: \\format table|csv|json)")
            }
          case s if s.startsWith("\\analyze") =>
            val sql = trimmed.stripSuffix(";").trim.drop("\\analyze".length).trim
            if (sql.isEmpty) out("usage: \\analyze <sql>;")
            else runAnalyze(spark, sql, out)
          // virtualization loop from the shell: refs generation (with an
          // optional snapshot posture) and multi-store concatenation —
          // the resulting refs dir registers like any store path
          // (CREATE TABLE ... USING zarr LOCATION '<refsDir>')
          case s if s.startsWith("\\virtualize") =>
            val a = trimmed.stripSuffix(";").trim.split("\\s+").drop(1)
            if (a.length < 2) out("usage: \\virtualize <store> <refsDir> [snapshot]")
            else try {
              val snap = a.length > 2 && a(2).equalsIgnoreCase("snapshot")
              if (snap) graft.sources.zarr.KerchunkParquetRefs.snapshot(a(0), a(1))
              else graft.sources.zarr.KerchunkParquetRefs.fromStore(a(0), a(1))
              out(s"wrote ${if (snap) "snapshot" else "parquet"} refs for ${a(0)} to ${a(1)}")
            } catch { case NonFatal(e) =>
              out(s"Error: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.next()}") }
          case s if s.startsWith("\\combine") =>
            val a = trimmed.stripSuffix(";").trim.split("\\s+").drop(1)
            if (a.length < 4) out("usage: \\combine <dim> <refsDir> <store1> <store2> [...]")
            else try {
              graft.sources.zarr.KerchunkParquetRefs.combineStores(
                a.drop(2).toSeq, a(0), a(1))
              out(s"combined ${a.length - 2} stores along '${a(0)}' into ${a(1)}")
            } catch { case NonFatal(e) =>
              out(s"Error: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.next()}") }
          case s if s.startsWith("\\gc") =>
            val a = trimmed.stripSuffix(";").trim.split("\\s+").drop(1)
            if (a.length != 1) out("usage: \\gc <store>")
            else try {
              val gone = graft.sources.zarr.KerchunkParquetRefs.gcGenerations(a(0))
              if (gone.isEmpty) out("nothing reclaimable (live snapshots or no generations)")
              else gone.foreach(g => out(s"reclaimed $g"))
            } catch { case NonFatal(e) =>
              out(s"Error: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.next()}") }
          case "\\abort" => // no buffered statement — nothing to discard
          case other => out(s"unknown command: $other (try 'help')")
        }
        record(trimmed)
      } else if (trimmed == "\\abort") {
        // psql \r: discard the half-typed statement — the plain-reader
        // counterpart of Ctrl-C on the jline path
        buffer.clear()
        out("statement discarded")
      } else {
        if (buffer.nonEmpty) buffer.append('\n')
        buffer.append(line)
        if (trimmed.endsWith(";")) {
          val sql = buffer.toString.trim.stripSuffix(";").trim
          buffer.clear()
          if (sql.nonEmpty) { runSql(spark, sql, out, format); record(sql) }
        }
      }
      }
    }
  }

  private val keywords =
    ("select|from|where|group|order|by|having|limit|offset|join|left|right|full|inner|outer|" +
      "semi|anti|cross|on|using|union|all|intersect|except|with|as|and|or|not|in|between|" +
      "like|is|null|case|when|then|else|end|distinct|create|drop|table|options|show|describe|" +
      "insert|into|values|partition|window|over|rows|range|preceding|following|current|row|" +
      "cast|count|sum|avg|min|max").split('|').toSet

  /** ANSI keyword/string/number highlighting of the executed statement
    * — the port of the reference CLI's rustyline highlighter
    * (/root/reference/src/bin/zarr_cli/main.rs; echo-time rather than
    * keystroke-time, since this shell reads cooked lines). */
  def highlight(sql: String): String = {
    val esc = "\u001b["
    def paint(color: String, t: String) = esc + color + "m" + t + esc + "0m"
    val tok = java.util.regex.Pattern
      .compile("'[^']*'|\\b\\d+(?:\\.\\d+)?\\b|\\b\\w+\\b")
    val m = tok.matcher(sql)
    val out = new StringBuilder
    var last = 0
    while (m.find()) {
      out.append(sql.substring(last, m.start()))
      val t = m.group()
      out.append(
        if (t.startsWith("'")) paint("32", t) // strings green
        else if (t.head.isDigit) paint("33", t) // numbers yellow
        else if (keywords(t.toLowerCase)) paint("36", t) // keywords cyan
        else t)
      last = m.end()
    }
    out.append(sql.substring(last)).toString
  }

  private def colorTerm: Boolean =
    sys.env.get("TERM").exists(_ != "dumb") && System.console() != null

  /** CSV field per RFC 4180: quote when the value contains a comma,
    * quote, or newline; double embedded quotes; null → empty. */
  private def csvField(v: Any): String = v match {
    case null => ""
    case other =>
      val s = other.toString
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
  }

  /** Live elapsed-time ticker on interactive terminals while a query
    * runs (the reference CLI's 50ms progress ticker,
    * zarr_cli/main.rs:282-301); a no-op under piped/test IO. */
  private def withTicker[T](t0: Long)(body: => T): T = {
    if (!colorTerm) return body
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new Thread(() => {
      while (!done.get()) {
        print(f"\r… ${(System.nanoTime() - t0) / 1e9}%.1f s ")
        Console.flush()
        Thread.sleep(100)
      }
      print("\r          \r"); Console.flush()
    })
    t.setDaemon(true); t.start()
    try body finally { done.set(true); t.join(500) }
  }

  private def runSql(spark: SparkSession, sql: String, out: String => Unit,
      format: String = "table"): Unit = {
    val t0 = System.nanoTime()
    if (colorTerm) out(highlight(sql))
    // reference-CLI EXPLAIN dialects Spark's parser doesn't accept
    // (docs/CLI_REFERENCE.md:455-472): EXPLAIN ANALYZE runs the query
    // and reports runtime scan metrics (same as \analyze); EXPLAIN
    // VERBOSE maps to Spark's EXPLAIN EXTENDED
    val analyzeRe = "(?is)^explain\\s+analyze\\s+(.*)$".r
    val verboseRe = "(?is)^explain\\s+verbose\\s+(.*)$".r
    sql.trim match {
      case analyzeRe(q) => runAnalyze(spark, q, out); return
      case verboseRe(q) =>
        runSql(spark, s"EXPLAIN EXTENDED $q", out, format); return
      case _ =>
    }
    try {
      val df = spark.sql(sql)
      // first WORD, not a regex over the whole text — a multi-line
      // DDL statement must still dispatch as DDL. A SET without `=`
      // shows settings, so its rows print like a query's.
      val isDdl = sql.trim.toLowerCase.split("\\s+").headOption
        .exists(w => Set("create", "drop", "alter", "use")(w) || (w == "set" && sql.contains("=")))
      if (isDdl) {
        withTicker(t0) { df.collect() }
        out(f"OK (${(System.nanoTime() - t0) / 1e9}%.3fs)")
      } else {
        // table mode displays 50 rows — don't materialize a
        // corpus-scale result on the driver just to count it; csv/json
        // are machine-readable exports and legitimately collect all
        val rows = withTicker(t0) {
          if (format == "table") df.limit(1001).collect() else df.collect()
        }
        val rowCount =
          if (format == "table" && rows.length > 1000) "1000+" else rows.length.toString
        format match {
          case "csv" =>
            out(df.columns.map(csvField).mkString(","))
            rows.foreach(r => out(r.toSeq.map(csvField).mkString(",")))
          case "json" =>
            // one JSON object per line (Spark's own row serializer)
            df.sparkSession.createDataFrame(
                java.util.Arrays.asList(rows: _*), df.schema)
              .toJSON.collect().foreach(out)
          case _ =>
            df.sparkSession.createDataFrame(
              java.util.Arrays.asList(rows.take(50): _*), df.schema)
              .show(50, truncate = false)
            if (rows.length > 50) out(s"… $rowCount rows total")
            // stats line in the reference CLI's shape: rows · cols ·
            // estimated scan bytes · wall time (zarr_cli/main.rs:253).
            // Table mode only — csv/json are machine-readable exports
            // (pipes, redirects) and a trailer would corrupt them.
            val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
            val kb = estBytes.toDouble / 1024.0
            out(f"$rowCount rows | ${df.columns.length} cols | " +
              f"est $kb%.2f KB scanned | ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
      }
    } catch {
      case NonFatal(e) =>
        out(s"Error: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" ")}")
    }
  }

  /** `\analyze <sql>` — the runtime-metrics counterpart of EXPLAIN
    * ANALYZE in the reference CLI (docs/CLI_REFERENCE.md:455-472):
    * execute the query, then report the Spark jobs and tasks it ran
    * (none for a one-partition Zarr read, which runs on the driver) and
    * each scan's post-run SQL metrics —
    * the DSv2 custom metrics (zarrBytesRead / zarrChunksDecoded /
    * zarrRowsOut, the rows the scan handed Spark after its folds) plus
    * output rows, and under a folded aggregate a `merge:` line with the
    * partial rows merged on the driver and the time it took — so "did
    * that filter prune chunk IO?" is answerable from the shell. */
  private def runAnalyze(spark: SparkSession, sql: String,
      out: String => Unit): Unit = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.graftbridge.JobCount
    import graft.sources.zarr.ZarrFoldMergeExec
    val t0 = System.nanoTime()
    try {
      val df = spark.sql(sql)
      // execute the REAL plan the way the shell's own collect does
      // (count() would re-plan as an aggregate and — for
      // metadata-answered zarr COUNTs — report zero IO for a query
      // that does scan; the row RDD would run a one-partition read as
      // a task, which a collect does not), then read the post-run
      // scan metrics
      val run = withTicker(t0) {
        JobCount(spark.sparkContext)(df.queryExecution.executedPlan.executeCollect().length)
      }
      // each scan, with the driver-side merge of its partial rows above it
      def scansOf(p: SparkPlan, merge: Option[ZarrFoldMergeExec]): Seq[(BatchScanExec, Option[ZarrFoldMergeExec])] =
        p match {
          case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan, merge)
          case s: QueryStageExec => scansOf(s.plan, merge)
          case m: ZarrFoldMergeExec => scansOf(m.child, Some(m))
          case b: BatchScanExec => Seq(b -> merge)
          case o => o.children.flatMap(scansOf(_, merge))
        }
      out(f"${run.value} rows | jobs=${run.jobs} tasks=${run.tasks} | ${(System.nanoTime() - t0) / 1e9}%.3f s")
      val scans = scansOf(df.queryExecution.executedPlan, None)
      if (scans.isEmpty) out("no v2 scans in plan")
      scans.foreach { case (b, merge) =>
        val top = Seq("numOutputRows", "zarrBytesRead", "zarrChunksDecoded", "zarrRowsOut")
          .flatMap(k => b.metrics.get(k).map(m => s"$k=${m.value}"))
        // metadata-answered scans (COUNT/MIN/MAX/SUM/grouped variants,
        // single-store or union) declare no IO metrics because they DO
        // no chunk IO — say so, instead of a bare rows count
        val note =
          if (!b.metrics.contains("zarrBytesRead") &&
              b.scan.description().contains("metadata-only"))
            "  (metadata-only: zero chunk IO)"
          else ""
        // the description's leading marker names the scan's shape
        // (ZarrScan, ZarrUnionScan, ZarrAggScan, …)
        out(s"scan ${b.scan.description().takeWhile(_.isLetterOrDigit)}: ${top.mkString("  ")}$note")
        // union scans: per-member IO breakdown (metric names carry the
        // member ordinal; resolve each ordinal to its store path)
        b.scan match {
          case z: graft.sources.zarr.ZarrScan if z.storePaths.length > 1 =>
            z.storePaths.zipWithIndex.foreach { case (path, i) =>
              val mm = Seq(s"zarrBytesRead.m$i", s"zarrChunksDecoded.m$i")
                .flatMap(k => b.metrics.get(k).map(m => s"$k=${m.value}"))
              if (mm.nonEmpty)
                out(s"  member $i [$path]: ${mm.mkString("  ")}")
            }
          case _ =>
        }
        merge.foreach { m =>
          out(f"merge: partialRows=${m.metrics("partialRows").value}  " +
            f"mergeTime=${m.metrics("mergeTime").value / 1e6}%.3f ms")
        }
      }
    } catch {
      case NonFatal(e) =>
        out(s"Error: ${Option(e.getMessage).getOrElse(e.toString).linesIterator.take(3).mkString(" ")}")
    }
  }

  private def appendHistory(line: String): Unit =
    try Files.write(historyPath, (line + "\n").getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    catch { case NonFatal(_) => }
}
