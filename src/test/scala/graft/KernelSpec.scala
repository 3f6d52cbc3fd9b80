package graft

import org.apache.spark.sql.{AnalysisException, Column, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions._

/** Every kernel built through [[graft.functions.Kernel]], table-driven:
  * two calls in one projection compile together under whole-stage
  * codegen with fallback off (a Janino error fails the query instead
  * of silently dropping to interpreted evaluation), agree with
  * interpreted evaluation row for row, and are null exactly where the
  * kernel's contract says — null input, and a length mismatch or null
  * element for the three vector kernels. Bit-parity with the
  * formulations each kernel replaced lives in R16FunctionsSpec,
  * VectorOpsSpec and NfcNormalizeSpec. */
class KernelSpec extends AnyFunSuite {
  import TestSession._

  private val n = 231L
  private val id = col("id")
  private def floats(len: Int): Column =
    array((0 until len).map(k => (id * (k + 1) - 7).cast("float")): _*)
  private def longs(len: Int): Column =
    array((0 until len).map(k => id * (k + 3) - 50): _*)

  // id % 7 == 0: null arrays and strings; id % 5 == 0: the right-hand
  // vector is one element short; id % 11 == 0: it holds a null element
  private val nullRow = id % 7 === 0
  private val shortRow = id % 5 === 0
  private val holeRow = id % 11 === 0 && !shortRow
  private lazy val base = spark.range(0, n).select(id,
    when(!nullRow, concat_ws(" ", lit("cafe\u0301 héllo"), id.cast("string"),
      lit("a b c d e f g h 漢字"))).as("text"),
    when(!nullRow, concat(lit("ab"), (id % 4).cast("string"), lit("éa"))).as("word"),
    when(!nullRow, floats(4)).as("ea"),
    when(shortRow, floats(3))
      .when(holeRow, array(lit(1.5f), lit(null).cast("float"), lit(2f), lit(3f)))
      .otherwise(reverse(floats(4))).as("eb"),
    when(!nullRow, longs(4)).as("la"),
    when(shortRow, longs(3))
      .when(holeRow, array(lit(1L), lit(null).cast("long"), lit(2L), lit(3L)))
      .otherwise(reverse(longs(4))).as("lb"))

  private val p1 = Seq(0.5, -0.25, 0.125, 1.0)
  private val p2 = Seq(-1.0, 0.75, 0.0, 0.5)
  private val vecNull = nullRow || shortRow || holeRow

  /** kernel → two (call, expected-null predicate) pairs. */
  private def cases: Seq[(String, Seq[(Column, Column)])] = Seq(
    "FloatVecDot" -> Seq(
      FloatVecDot(col("ea"), col("eb")) -> vecNull,
      FloatVecDot(col("eb"), col("eb")) -> holeRow),
    "FloatPlaneDot" -> Seq(
      FloatPlaneDot(col("ea"), p1) -> nullRow,
      FloatPlaneDot(col("ea"), p2.take(3)) -> lit(true)), // length mismatch
    // array(...) of non-null floats is a non-nullable child: both calls
    // land in one scope with no enclosing null check
    "FloatPlaneDot over a non-nullable column" -> Seq(
      FloatPlaneDot(floats(4), p1) -> lit(false),
      FloatPlaneDot(floats(4), p2) -> lit(false)),
    "LongVecDistSq" -> Seq(
      LongVecDistSq(col("la"), col("lb")) -> vecNull,
      LongVecDistSq(col("lb"), col("lb")) -> holeRow),
    "GramCodes" -> Seq(
      GramCodes(col("text")) -> nullRow,
      GramCodes(col("word")) -> nullRow),
    "WindowHashes" -> Seq(
      WindowHashes(col("text"), 2) -> nullRow,
      WindowHashes(col("text"), 8) -> nullRow),
    "BpeSegment" -> Seq(
      BpeSegment(col("word"), Seq(("a", "b"), ("ab", "0"), ("e", "\u0301"))) -> nullRow,
      BpeSegment(col("word"), Nil) -> nullRow),
    "NfcNormalize" -> Seq(
      NfcNormalize(col("text")) -> nullRow,
      NfcNormalize(col("word")) -> nullRow))

  private def collect(cols: Seq[Column], settings: (String, String)*): Seq[Row] = {
    val saved = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try base.select(id +: cols: _*).orderBy(id).collect().toSeq
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  cases.foreach { case (name, calls) =>
    test(s"$name: two calls compile in one stage, match interpreted, null per contract") {
      val cols = calls.map(_._1) ++ calls.map(_._2)
      val codegen = collect(cols, "spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")
      val interpreted = collect(cols, "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
      assert(codegen.length == n)
      assert(codegen == interpreted)
      calls.indices.foreach { c =>
        codegen.foreach { r =>
          assert(r.isNullAt(1 + c) == r.getBoolean(1 + calls.length + c),
            s"$name call $c, id ${r.getLong(0)}: ${r.get(1 + c)}")
        }
      }
    }
  }

  test("the non-nullable FloatPlaneDot row's input is non-nullable") {
    assert(!base.select(floats(4)).schema.head.nullable)
  }

  test("declared input types are enforced at analysis") {
    val e = intercept[AnalysisException](spark.sql(
      "SELECT float_vec_dot(array(CAST(1.5 AS DOUBLE)), array(CAST(3.0 AS DOUBLE)))")
      .collect())
    assert(e.getMessage.contains("array<float>") || e.getMessage.contains("ARRAY<FLOAT>"),
      e.getMessage)
    intercept[AnalysisException](
      spark.range(1).select(GramCodes(array(lit(1)))).collect())
  }
}
