package graft.fuzz

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Verify}

/** One seed of a lane: its output name, the DuckDB SQL recorded for it
  * in `oracle_sql.json` ("" for a lane with no DuckDB oracle), what the
  * failure dump prints after the error, and the work itself. */
final case class FuzzCase(name: String, sql: String, about: String, run: () => Unit)

/** A lane's own part of a run: its per-seed work and its coverage
  * counters. */
trait FuzzLane {
  def draw(seed: Long): FuzzCase
  /** The lane's `fuzz_meta.json` fields after the common ones, as
    * (key, raw JSON value), given the run's failure count. */
  def meta(failed: Int): Seq[(String, String)] = Nil
  /** The counters for the summary line. */
  def summary: String = ""
  /** Coverage items the run never exercised; any one fails the run. */
  def unmet: Seq[String] = Nil
}

/** The skeleton every fuzz CLI shares. Usage:
  * `<main> <sfDir> <outDir> [nSeeds] [seed0]` (no `<sfDir>` when
  * `corpus` is false). It builds the session ([[GraftSession]], 8
  * workers by default), runs seeds `seed0 until seed0 + nSeeds`
  * (250 from 0 by default), dumps each failure to stderr, writes
  * `<outDir>/oracle_sql.json` in the [[graft.Verify]] layout (so
  * `tools/compare.py` compares every seed against DuckDB unchanged)
  * and `<outDir>/fuzz_meta.json`, prints one summary line, and exits
  * 1 on any failed seed or unmet coverage item.
  *
  * `fuzz_meta.json` stamps the grammar version: recorded per-seed
  * hashes are only comparable within one version, since seeds remap
  * across versions. */
abstract class FuzzRunner(tag: String, grammarVersion: Int, grammar: Option[String] = None,
    corpus: Boolean = true) {

  /** Sets the lane up (views, fixtures) and returns its fresh state. */
  protected def lane(spark: SparkSession, sfDir: String, outDir: String, nSeeds: Int): FuzzLane

  def main(args: Array[String]): Unit = {
    val dirs = if (corpus) 2 else 1
    if (args.length < dirs) {
      val main = getClass.getName.stripSuffix("$")
      System.err.println(s"usage: $main ${if (corpus) "<sfDir> " else ""}<outDir> [nSeeds] [seed0]")
      sys.exit(2)
    }
    val (sfDir, outDir) = if (corpus) (args(0), args(1)) else ("", args(0))
    val nSeeds = args.lift(dirs).fold(250)(_.toInt)
    val seed0 = args.lift(dirs + 1).fold(0L)(_.toLong)
    val spark = GraftSession(GraftSession.cpus(8))
    Files.createDirectories(Paths.get(outDir))
    val l = lane(spark, sfDir, outDir, nSeeds)
    var failed = 0
    val cases = (seed0 until seed0 + nSeeds).map { seed =>
      val c = l.draw(seed)
      try c.run()
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"[$tag] ${c.name} FAILED on spark: ${e.getMessage}\n${c.about}")
      }
      if ((seed - seed0 + 1) % 50 == 0) println(s"[$tag] ${seed - seed0 + 1}/$nSeeds done, $failed failed")
      c
    }
    if (cases.exists(_.sql.nonEmpty)) Verify.writeOracleSql(outDir, cases.map(c => c.name -> c.sql))
    val fields = grammar.map(g => "grammar" -> s""""$g"""").toSeq ++ Seq(
      "grammar_version" -> grammarVersion.toString, "seed0" -> seed0.toString,
      "n_seeds" -> nSeeds.toString) ++ l.meta(failed)
    Files.writeString(Paths.get(outDir, "fuzz_meta.json"),
      fields.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
    println((Seq(s"[$tag] ${nSeeds - failed}/$nSeeds seeds passed (grammar v$grammarVersion)", l.summary)
      .filter(_.nonEmpty) :+ s"results in $outDir").mkString("; "))
    val unmet = l.unmet
    if (unmet.nonEmpty) System.err.println(s"[$tag] never exercised: ${unmet.mkString(", ")}")
    spark.stop()
    if (failed > 0 || unmet.nonEmpty) sys.exit(1)
  }
}
