package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Apply a FIXED ordered BPE merge table to one word — all rounds in a
  * single JVM pass, replacing the former chain of `m` `aggregate` HOF
  * expressions whose accumulator grew by per-element array `concat`
  * (O(len²) allocations per word per round, interpreted lambdas).
  *
  * Semantics are exactly [[graft.pipeline.TextAnalysis.bpeApply]]'s
  * reference algorithm: merges apply in table order, each pass
  * exhaustive and leftmost-greedy over overlaps. Every merge pairs two
  * SINGLE characters and merging only ever fuses ADJACENT symbols, so
  * every symbol is a contiguous code-point range of the word — the
  * whole segmentation is two int arrays of byte offsets, zero string
  * building until the final slice emit. Symbols compare by raw UTF-8
  * bytes, which equals Spark's string equality (both are exact byte
  * comparisons of code-point sequences).
  *
  * An empty word has no symbols and segments to an EMPTY array, not to
  * `[""]` (the corpus path drops empty words before segmenting).
  */
case class BpeSegment(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_segment"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_segment requires string, got ${child.dataType.simpleString}")

  // flat pair table: entry 2k = merge k's left symbol, 2k+1 = right
  @transient private lazy val mergeBytes: Array[Array[Byte]] =
    merges.flatMap { case (a, b) =>
      Seq(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    }.toArray

  override def nullSafeEval(input: Any): Any =
    BpeSegment.segment(input.asInstanceOf[UTF8String], mergeBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mergeBytes", mergeBytes, "byte[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.BpeSegment.segment($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeSegment =
    copy(child = newChild)
}

object BpeSegment {
  private def rangeEq(bytes: Array[Byte], s: Int, e: Int, p: Array[Byte]): Boolean = {
    if (e - s != p.length) return false
    var i = 0
    while (i < p.length) {
      if (bytes(s + i) != p(i)) return false
      i += 1
    }
    true
  }

  /** Static hot path shared by interpreted and generated code. */
  def segment(word: UTF8String, merges: Array[Array[Byte]]): ArrayData = {
    val bytes = word.getBytes // private copy; emitted slices share it
    val n = bytes.length
    // code-point boundaries (UTF-8 continuation bytes are 10xxxxxx)
    var count = 0
    var i = 0
    while (i < n) { if ((bytes(i) & 0xc0) != 0x80) count += 1; i += 1 }
    if (count == 0) return new GenericArrayData(Array.empty[Any])
    val begs = new Array[Int](count)
    val ends = new Array[Int](count)
    var t = 0
    i = 0
    while (i < n) {
      if ((bytes(i) & 0xc0) != 0x80) {
        if (t > 0) ends(t - 1) = i
        begs(t) = i
        t += 1
      }
      i += 1
    }
    ends(count - 1) = n
    var m = count
    var r = 0
    while (r < merges.length) {
      val a = merges(r)
      val b = merges(r + 1)
      var w = 0
      var j = 0
      while (j < m) {
        if (j + 1 < m && rangeEq(bytes, begs(j), ends(j), a) &&
            rangeEq(bytes, begs(j + 1), ends(j + 1), b)) {
          begs(w) = begs(j); ends(w) = ends(j + 1); j += 2
        } else {
          begs(w) = begs(j); ends(w) = ends(j); j += 1
        }
        w += 1
      }
      m = w
      r += 2
    }
    val out = new Array[Any](m)
    var k = 0
    while (k < m) {
      out(k) = UTF8String.fromBytes(bytes, begs(k), ends(k) - begs(k))
      k += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeSegment(ColumnBridge.expression(c), merges))
}
