package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All char-5-gram base-31 polynomial codes of a document in ONE
  * codegen'd byte pass — element `i` (0-based) equals
  * `cp(i)·31⁴ + cp(i+1)·31³ + cp(i+2)·31² + cp(i+3)·31 + cp(i+4)`
  * over the text's code points, exactly the
  * `transform(sequence(1, n-4), i -> element_at(ca, i)·923521 + …)`
  * formulation it replaces (`ca` = per-code-point `ascii` values —
  * `ascii` of a single-character string IS its code point, and both
  * Java's code-point-aware empty-pattern split and DuckDB's
  * `substring`/`length` count code points, so a raw UTF-8 decoder
  * agrees with both engines). Documents shorter than 5 code points
  * yield an empty array.
  *
  * Why a kernel: gramCodes is the dedup family's shared
  * inner loop (d2/d3/d4/d11/d13/t4 all derive from the gram index) and
  * the former shape ran TWO interpreted `transform` lambdas per
  * document (char-code array build + per-position polynomial), boxing
  * one Long per code point per step; this is one tight JVM loop with
  * zero intermediate arrays beyond the code-point buffer. It also
  * removes the `size(split(text, '')) - 4` explode bound whose
  * correctness depended on Spark ≥ 3.4 dropping the trailing empty
  * split element (r15 ADVICE): the bound here is structural.
  */
object GramCodes {
  def compute(text: UTF8String): UnsafeArrayData = {
    val nBytes = text.numBytes
    // decode UTF-8 code points (UTF8String payloads are valid UTF-8)
    val cp = new Array[Int](nBytes) // upper bound: 1 cp per byte
    var n = 0
    var i = 0
    while (i < nBytes) {
      cp(n) = text.codePointFrom(i)
      i += UTF8String.numBytesForFirstByte(text.getByte(i))
      n += 1
    }
    val grams = n - 4
    if (grams <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val out = new Array[Long](grams)
    var k = 0
    while (k < grams) {
      out(k) = cp(k) * 923521L + cp(k + 1) * 29791L + cp(k + 2) * 961L +
        cp(k + 3) * 31L + cp(k + 4)
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def apply(c: Column): Column =
    Kernel.call(this, "compute", ArrayType(LongType, containsNull = false),
      Seq(StringType), Seq(c))
}
