package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [nameFilter] — the optional filter runs a
    // comma-separated subset (dev loop); the driver passes two args.
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [name1,name2,...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession(GraftSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce collapses the whole
      // upstream plan into the single output task (an explosive
      // blocked join like c5 then runs serially — measured 90s+ at
      // 10x gate scale); repartition keeps the upstream parallel and
      // only funnels the final rows through one writer.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query cache lifecycle: several ops persist corpus-scale
      // intermediates (gram index, minhash signatures) that are only
      // useful within their own DAG — across a 100+-query session
      // they would accumulate and spill
      spark.catalog.clearCache()
    }
    writeOracleSql(outDir, SparkEntry.oracleSql.toSeq)
    spark.stop()
  }

  /** `s` as a JSON string literal: backslash, quote and every control
    * character (< 0x20) escaped. A tab or CR in a query must not make
    * `tools/compare.py`'s `json.load` reject the whole file. */
  def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** `<outDir>/oracle_sql.json`: output name → the DuckDB SQL that
    * `tools/compare.py` checks that output against. The fuzz lanes
    * write theirs here too. */
  def writeOracleSql(outDir: String, sqls: Seq[(String, String)]): Unit =
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      sqls.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",\n", "}"))
}
