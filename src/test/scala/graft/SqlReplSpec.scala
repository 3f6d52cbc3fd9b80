package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SQL shell (rebuild of the reference's zarr-cli) driven
  * end-to-end with scripted input: DDL acknowledgement, multi-line
  * statements, output formats, .schema, error recovery, quit. */
class SqlReplSpec extends AnyFunSuite {
  import TestSession._

  test("highlight colors keywords, strings and numbers, preserves text") {
    val in = "SELECT time, 'x' FROM w WHERE lat >= 7.5"
    val out = graft.cli.SqlRepl.highlight(in)
    assert(out.replaceAll("\\[\\d+m", "") == in) // lossless modulo ANSI
    assert(out.contains("[36mSELECT[0m"))
    assert(out.contains("[32m'x'[0m"))
    assert(out.contains("[33m7.5[0m"))
  }

  private def drive(lines: String*): Seq[String] = {
    val it = lines.iterator
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.cli.SqlRepl.loop(spark,
      () => if (it.hasNext) it.next() else null,
      s => out ++= s.linesIterator)
    out.toSeq
  }

  test("scripted session: DDL, multi-line query, .schema, error, quit") {
    val store = java.nio.file.Paths.get("src/test/resources/zarr/synthetic_v3.zarr")
      .toAbsolutePath.toString
    val out = drive(
      s"CREATE TABLE repl_w USING zarr OPTIONS (path '$store');",
      "SELECT time, SUM(temperature) AS s", // multi-line: no ; yet
      "FROM repl_w",
      "GROUP BY time;",
      ".schema repl_w",
      "SELECT FROM nonsense;", // parse error must not kill the loop
      "DROP TABLE repl_w;",
      "quit")
    assert(out.exists(_.startsWith("OK (")), out.mkString("\n"))
    assert(out.exists(_.matches("7 rows \\| 2 cols \\|.*")), out.mkString("\n"))
    assert(out.exists(l => l.contains("temperature") && l.contains("BIGINT")),
      out.mkString("\n"))
    assert(out.exists(_.startsWith("Error:")), out.mkString("\n"))
  }

  test("\\virtualize and \\combine drive the refs layer from the shell") {
    // snapshot a TEMP COPY of the committed fixture: snapshot()
    // registers itself in a sibling registry file (generation-aware
    // overwrite), which must not dirty the repo's test resources
    val dir = java.nio.file.Files.createTempDirectory("repl_virt")
    val src = java.nio.file.Paths.get("src/test/resources/zarr/synthetic_v3.zarr")
    val storeP = dir.resolve("synthetic_v3.zarr")
    val walk = java.nio.file.Files.walk(src)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.foreach { p =>
        java.nio.file.Files.copy(p, storeP.resolve(src.relativize(p)),
          java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
      }
    } finally walk.close()
    val store = storeP.toAbsolutePath.toString
    val refs = dir.resolve("refs.parq").toString
    val out = drive(
      s"\\virtualize $store $refs snapshot",
      s"CREATE TABLE repl_v USING zarr OPTIONS (path '$refs');",
      "SELECT COUNT(*) AS n FROM repl_v;",
      "\\combine time bad-usage", // too few args: usage line, loop survives
      s"\\gc $store", // live snapshot → nothing reclaimable
      "\\gc", // usage line, loop survives
      "DROP TABLE repl_v;",
      "quit")
    assert(out.exists(_.startsWith("wrote snapshot refs")), out.mkString("\n"))
    assert(out.exists(_.matches("1 rows \\| 1 cols \\|.*")), out.mkString("\n"))
    assert(out.exists(_.startsWith("usage: \\combine")), out.mkString("\n"))
    assert(out.contains("nothing reclaimable (live snapshots or no generations)"),
      out.mkString("\n"))
    assert(out.exists(_.startsWith("usage: \\gc")), out.mkString("\n"))
  }

  test("output formats: csv has a header row, json one object per line") {
    val out = drive(
      "\\format csv",
      "SELECT 1 AS a, 'x,y' AS b;",
      "\\format json",
      "SELECT 2 AS a;",
      "\\format bogus",
      "quit")
    assert(out.contains("output format: csv"), out.mkString("\n"))
    assert(out.contains("a,b"), out.mkString("\n"))
    assert(out.contains("1,\"x,y\""), out.mkString("\n")) // RFC 4180 quoting
    assert(out.contains("{\"a\":2}"), out.mkString("\n"))
    // unknown format reports the current one instead of changing it
    assert(out.exists(_.startsWith("output format: json (usage:")), out.mkString("\n"))
  }

  test("multi-line DDL dispatches as DDL; abort sentinel discards the buffer") {
    val store = java.nio.file.Paths.get("src/test/resources/zarr/synthetic_v3.zarr")
      .toAbsolutePath.toString
    val out = drive(
      "CREATE TABLE repl_ml", // DDL split across three lines
      "USING zarr",
      s"OPTIONS (path '$store');",
      "SELECT count(*) AS n FROM", // start a statement…
      graft.cli.SqlRepl.AbortLine, // …then abort it (Ctrl-C path)
      "SELECT 41 + 1 AS v;", // buffer must be clean again
      "DROP TABLE repl_ml;",
      "quit")
    assert(out.count(_.startsWith("OK (")) == 2, out.mkString("\n")) // CREATE + DROP
    assert(out.exists(_.matches("1 rows \\| 1 cols \\|.*")), out.mkString("\n"))
    assert(!out.exists(_.startsWith("Error:")), out.mkString("\n"))
  }

  test("csv/json output is pipe-clean: no stats trailer after the data") {
    val out = drive(
      "\\format csv",
      "SELECT 1 AS a;",
      "\\format json",
      "SELECT 2 AS a;",
      "\\format table",
      "SELECT 3 AS a;",
      "quit")
    // the "N rows | M cols | ..." trailer is table-mode only — a csv
    // or json consumer downstream of a pipe must see data lines alone
    val trailers = out.filter(_.matches("\\d+\\+? rows \\| \\d+ cols \\|.*"))
    assert(trailers.length == 1, out.mkString("\n"))
    assert(out.contains("a") && out.contains("1"), out.mkString("\n"))
    assert(out.contains("{\"a\":2}"), out.mkString("\n"))
  }

  test("\\abort discards a half-typed statement in the plain reader path") {
    val out = drive(
      "SELECT count(*) FROM", // start a statement…
      "\\abort", // …discard it without Ctrl-C
      "SELECT 41 + 1 AS v;", // buffer must be clean again
      "quit")
    assert(out.contains("statement discarded"), out.mkString("\n"))
    assert(out.exists(_.matches("1 rows \\| 1 cols \\|.*")), out.mkString("\n"))
    assert(!out.exists(_.startsWith("Error:")), out.mkString("\n"))
  }

  test("\\analyze reports per-scan runtime zarr IO metrics") {
    val store = java.nio.file.Paths.get("src/test/resources/zarr/synthetic_v3.zarr")
      .toAbsolutePath.toString
    val out = drive(
      s"CREATE TABLE repl_an USING zarr OPTIONS (path '$store');",
      "\\analyze SELECT time, SUM(temperature) AS s FROM repl_an GROUP BY time;",
      "\\analyze",
      "DROP TABLE repl_an;",
      "quit")
    assert(out.exists(_.matches("7 rows \\| .*s")), out.mkString("\n"))
    val scanLine = out.find(_.startsWith("scan Zarr"))
    assert(scanLine.isDefined, out.mkString("\n"))
    assert(scanLine.get.contains("zarrBytesRead=") &&
      scanLine.get.contains("zarrChunksDecoded="), scanLine.get)
    // bytes were actually read (a real scan, not metadata-answered)
    assert("zarrBytesRead=(\\d+)".r.findFirstMatchIn(scanLine.get)
      .exists(_.group(1).toLong > 0), scanLine.get)
    assert(out.contains("usage: \\analyze <sql>;"), out.mkString("\n"))
  }

  test("\\analyze over a union table: per-member bytes and metadata-only scans render") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("repl_union")
    def mk(name: String, ts: Seq[Long]): String = {
      val out = dir.resolve(name).toString
      ts.flatMap(t => (0L until 3L).map(x => (t, x, t * 10.0 + x)))
        .toDF("t", "x", "v").write.format("zarr")
        .option("coords", "t,x").option("chunkOuter", "1")
        .mode("overwrite").save(out)
      out
    }
    val a = mk("a.zarr", Seq(0L, 1L))
    val b = mk("b.zarr", Seq(10L, 11L))
    val out = drive(
      s"""CREATE TABLE repl_u USING zarr OPTIONS (paths '["$a","$b"]');""",
      "\\analyze SELECT t, x, v FROM repl_u WHERE v >= 0.0;", // real scan, both members
      "\\analyze SELECT COUNT(*) AS n FROM repl_u;", // metadata-answered
      "DROP TABLE repl_u;",
      "quit")
    // the union headline reports the whole-scan totals…
    assert(out.exists(l => l.startsWith("scan ZarrUnionScan") &&
      l.contains("zarrBytesRead=")), out.mkString("\n"))
    // …and each member breaks out its own bytes, labeled by store path
    val m0 = out.find(_.trim.startsWith("member 0"))
    val m1 = out.find(_.trim.startsWith("member 1"))
    assert(m0.isDefined && m1.isDefined, out.mkString("\n"))
    assert(m0.get.contains(a) && m1.get.contains(b), s"${m0.get}\n${m1.get}")
    Seq((m0.get, 0), (m1.get, 1)).foreach { case (line, i) =>
      assert(s"zarrBytesRead\\.m$i=(\\d+)".r.findFirstMatchIn(line)
        .exists(_.group(1).toLong > 0), line)
    }
    // COUNT(*) over the union answers from metadata and says so
    assert(out.exists(l => l.startsWith("scan ZarrUnionAggScan") &&
      l.contains("metadata-only: zero chunk IO")), out.mkString("\n"))
  }

  test("\\analyze prints a merge: line after the scan of a folded aggregate") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("repl_merge").resolve("m.zarr").toString
    (for (t <- 0L until 4L; x <- 0L until 5L) yield (t, x, (t * 5 + x).toFloat * 0.5f))
      .toDF("t", "x", "v").write.format("zarr").option("coords", "t,x").option("chunkOuter", "1")
      .mode("overwrite").save(store)
    val out = drive(
      s"CREATE TABLE repl_m USING zarr OPTIONS (path '$store', minRowsPerPartition '1', maxRowsPerPartition '5');",
      "\\analyze SELECT t, SUM(v) AS s, MAX(v) AS m FROM repl_m WHERE v > 1.0 GROUP BY t;",
      "DROP TABLE repl_m;",
      "quit")
    assert(out.exists(_.matches("4 rows \\| .*s")), out.mkString("\n"))
    val scan = out.indexWhere(_.startsWith("scan ZarrScan"))
    assert(scan >= 0, out.mkString("\n"))
    // one partial row per outer step, merged on the driver
    assert(out(scan + 1).matches("merge: partialRows=4  mergeTime=[0-9.]+ ms"), out.mkString("\n"))
  }

  test("\\analyze counts jobs and tasks: none for a one-partition slice, one job for a scan of several") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("repl_jobs").resolve("j.zarr").toString
    (for (t <- 0L until 4L; x <- 0L until 5L) yield (t, x, (t * 5 + x).toFloat * 0.5f))
      .toDF("t", "x", "v").write.format("zarr").option("coords", "t,x").option("chunkOuter", "1")
      .mode("overwrite").save(store)
    spark.read.format("zarr").option("minRowsPerPartition", "1").option("maxRowsPerPartition", "5")
      .load(store).createOrReplaceTempView("repl_j")
    val out = drive(
      "\\analyze SELECT x, v FROM repl_j WHERE t = 2;",
      "\\analyze SELECT t, x, v FROM repl_j WHERE v > 1.0;",
      "quit")
    spark.catalog.dropTempView("repl_j")
    assert(out.exists(_.matches("5 rows \\| jobs=0 tasks=0 \\| [0-9.]+ s")), out.mkString("\n"))
    assert(out.exists(_.matches("17 rows \\| jobs=1 tasks=4 \\| [0-9.]+ s")), out.mkString("\n"))
    // the scan's metrics come from the driver read as from a task
    val scans = out.filter(_.startsWith("scan ZarrScan"))
    assert(scans.length == 2 && scans.forall("zarrBytesRead=(\\d+)".r.findFirstMatchIn(_)
      .exists(_.group(1).toLong > 0)), out.mkString("\n"))
  }

  test("EXPLAIN ANALYZE / EXPLAIN VERBOSE SQL dialects work like the reference CLI") {
    val store = java.nio.file.Paths.get("src/test/resources/zarr/synthetic_v3.zarr")
      .toAbsolutePath.toString
    val out = drive(
      s"CREATE TABLE repl_ea USING zarr OPTIONS (path '$store');",
      "EXPLAIN ANALYZE SELECT time, SUM(temperature) AS s FROM repl_ea GROUP BY time;",
      "EXPLAIN VERBOSE SELECT COUNT(*) FROM repl_ea;",
      "DROP TABLE repl_ea;",
      "quit")
    assert(out.exists(_.startsWith("scan Zarr")), out.mkString("\n"))
    // the verbose plan text itself renders via show() (stdout); the
    // trailer confirms the rewritten EXPLAIN EXTENDED executed
    assert(out.exists(_.matches("1 rows \\| 1 cols \\|.*")), out.mkString("\n"))
    assert(!out.exists(_.startsWith("Error:")), out.mkString("\n"))
  }

  test("tab-completion words cover keywords, commands, and live tables") {
    spark.sql("CREATE TABLE IF NOT EXISTS repl_comp USING parquet AS SELECT 1 AS x")
    try {
      val words = graft.cli.SqlRepl.completionWords(spark)
      assert(words.contains("SELECT") && words.contains("GROUP"))
      assert(words.contains(".schema") && words.contains("\\format"))
      assert(words.contains("repl_comp"), words.filter(_.startsWith("repl")))
    } finally spark.sql("DROP TABLE repl_comp")
  }

  test("show tables lists registered tables; unknown command is reported") {
    val out = drive(
      "CREATE TABLE repl_t2 USING parquet AS SELECT 1 AS x;",
      "show tables",
      "\\bogus",
      "DROP TABLE repl_t2;",
      "quit")
    assert(out.contains("repl_t2"), out.mkString("\n"))
    assert(out.exists(_.startsWith("unknown command:")), out.mkString("\n"))
  }

  test("SET without = prints the setting; SET key=value acknowledges") {
    val out = drive(
      "SET spark.graft.repl.probe=7;",
      "\\format csv",
      "SET spark.graft.repl.probe;",
      "quit")
    assert(out.exists(_.startsWith("OK (")), out.mkString("\n"))
    assert(out.contains("spark.graft.repl.probe,7"), out.mkString("\n"))
  }
}
