package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.{ColumnBridge, ExactType}
import org.apache.spark.sql.types.{DataType, ObjectType}

/** The one way graft writes a codegen'd kernel: a static method on a
  * Scala object, called through Spark's own `StaticInvoke`. Generated
  * code calls the method directly (`graft.functions.X.fn(args)`), so a
  * kernel is a plain JVM loop inside whole-stage codegen, and the
  * interpreted path calls the same method by reflection.
  *
  * What StaticInvoke supplies, so no kernel repeats it:
  *  - declared input types: the analyzer refuses an argument of any
  *    other type, with no implicit cast (`array<double>` where
  *    `array<float>` is declared fails analysis — see [[ExactType]]);
  *  - null in, null out: `propagateNull` skips the call when any
  *    argument is null;
  *  - boxed-null returns: with `mayReturnNull` a kernel returning a
  *    boxed `java.lang.Double`/`Long` may return null, which is
  *    unboxed into the result's null flag;
  *  - fresh local names: every generated local comes from the codegen
  *    context, so two calls in one whole-stage function never collide.
  *
  * Constant arguments (a hyperplane, a merge table) pass as
  * [[const]]: an `ObjectType` literal that codegen hoists into a
  * reference field once per generated class.
  */
object Kernel {

  /** `obj.fn(args...)`, returning `dataType`. */
  def call(obj: AnyRef, fn: String, dataType: DataType, inputTypes: Seq[DataType],
      args: Seq[Column], mayReturnNull: Boolean = false): Column =
    ColumnBridge.column(StaticInvoke(obj.getClass, dataType, fn,
      args.map(ColumnBridge.expression), inputTypes.map(ExactType),
      propagateNull = true, returnNullable = mayReturnNull))

  /** A constant JVM object argument (passed by reference, never
    * converted to a Spark value). */
  def const(v: AnyRef): Column = ColumnBridge.column(Literal(v, ObjectType(v.getClass)))
}
