package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Codegen'd squared L2 distance of two `array<bigint>` columns —
  * `Σ (x_i − y_i)²` as one fused primitive loop, numerically identical
  * to the HOF formulation `aggregate(zip_with(qv, cv, (x, y) ->
  * (x - y) * (x - y)), 0L, (acc, v) -> acc + v)` it replaces (exact
  * int64 arithmetic either way; quantized coordinates keep every term
  * far below overflow: diffs ≤ 2^21, squares ≤ 2^42, dim-64 sums
  * ≤ 2^48).
  *
  * Why a kernel (same story as [[FloatVecDot]]): the HOF allocates a
  * lambda frame per element and stays outside whole-stage codegen's
  * tight loop. In k-means assignment the distance runs N×k times —
  * with d8's corpus-scaled k this is the pipeline's hot loop, and the
  * fused form measured ~10× the HOF's throughput at 10× gate scale.
  */
object LongVecDistSq {
  /** Null on a length mismatch or a null element (the HOF's
    * semantics), never a silently truncated distance. */
  def distSq(x: ArrayData, y: ArrayData): java.lang.Long = {
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  def apply(a: Column, b: Column): Column =
    Kernel.call(this, "distSq", LongType, Seq(ArrayType(LongType), ArrayType(LongType)),
      Seq(a, b), mayReturnNull = true)
}
