package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, ObjectType}

/** Dot product of an `array<float>` column with a FIXED double-valued
  * hyperplane, bit-identical to the HOF formulation it replaces:
  * `aggregate(zip_with(embedding, planeLits, (x, y) -> CAST(x AS
  * double) * y), 0.0D, (acc, v) -> acc + v)` — the same left-to-right
  * IEEE double adds over the same exact float→double widenings, so
  * every LSH bucket sign is unchanged (the reason the float-summing
  * [[FloatVecDot]] could not be reused here). A length mismatch or
  * null element yields NULL, exactly as zip_with's null padding
  * poisons the HOF fold.
  *
  * Why a kernel: the HOF pair materializes a zipped struct array and
  * runs two interpreted lambdas per row per plane — s2/d5's bucket id
  * evaluates it nPlanes times per embedding. The plane passes as a
  * `double[]` constant ([[Kernel.const]]).
  */
object FloatPlaneDot {
  def dot(x: ArrayData, plane: Array[Double]): java.lang.Double = {
    if (x.numElements() != plane.length) return null
    var acc = 0.0
    var i = 0
    while (i < plane.length) {
      if (x.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * plane(i)
      i += 1
    }
    acc
  }

  def apply(c: Column, plane: Seq[Double]): Column =
    Kernel.call(this, "dot", DoubleType,
      Seq(ArrayType(FloatType), ObjectType(classOf[Array[Double]])),
      Seq(c, Kernel.const(plane.toArray)), mayReturnNull = true)
}
