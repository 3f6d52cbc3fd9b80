package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

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
  * Why a custom expression: the HOF pair materializes a zipped struct
  * array and runs two interpreted lambdas per row per plane — s2/d5's
  * bucket id evaluates it nPlanes times per embedding.
  */
case class FloatPlaneDot(child: Expression, plane: Seq[Double])
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "float_plane_dot"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"float_plane_dot requires array<float>, got ${other.simpleString}")
  }

  @transient private lazy val planeArr: Array[Double] = plane.toArray

  override def nullSafeEval(input: Any): Any =
    FloatPlaneDot.dot(input.asInstanceOf[ArrayData], planeArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("plane", planeArr, "double[]")
    // a non-nullable child gets this code with no enclosing block, so
    // a fixed local name would collide between two calls in one stage
    val r = ctx.freshName("dot")
    nullSafeCodeGen(ctx, ev, c => s"""
      |java.lang.Double $r = graft.functions.FloatPlaneDot.dot($c, $ref);
      |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
     """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): FloatPlaneDot =
    copy(child = newChild)
}

object FloatPlaneDot {
  /** Static hot path shared by interpreted and generated code; null on
    * length mismatch or null element (the HOF's poisoning behavior). */
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
    ColumnBridge.column(FloatPlaneDot(ColumnBridge.expression(c), plane))
}
