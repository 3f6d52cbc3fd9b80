package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Codegen'd dot product of two `array<float>` columns, accumulated as
  * a sequential double fold (same arithmetic as
  * `aggregate(zip_with(...))`, and bit-identical to the DuckDB oracle's
  * zipped-UNNEST sum — see [[VectorOps]]).
  *
  * Why a kernel: the higher-order-function formulation allocates a
  * lambda frame per element and never enters whole-stage codegen's
  * tight loop; [[dot]] is a primitive `while` loop over the underlying
  * float arrays, which is the difference between interpreting 64
  * lambda calls per pair and one fused loop per pair in the
  * pairwise-similarity path.
  *
  * The declared `array<float>` input types are the plan-time guard:
  * without them an `array<double>` argument would read 4-byte floats
  * over 8-byte slots and return garbage rather than an analysis error.
  */
object FloatVecDot {
  /** Null on a length mismatch or a null element — the semantics of
    * `aggregate(zip_with(...))`, never a silently truncated product. */
  def dot(x: ArrayData, y: ArrayData): java.lang.Double = {
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  def apply(a: Column, b: Column): Column =
    Kernel.call(this, "dot", DoubleType, Seq(ArrayType(FloatType), ArrayType(FloatType)),
      Seq(a, b), mayReturnNull = true)
}
