package graft.functions

import java.util.Arrays

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, ObjectType, StringType}
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
  * Why a kernel: the merge table passes once as a `byte[][]` constant
  * ([[Kernel.const]]), and a word's whole segmentation is one JVM loop
  * instead of `m` interpreted lambda folds.
  *
  * An empty word has no symbols and segments to an EMPTY array, not to
  * `[""]` (the corpus path drops empty words before segmenting).
  */
object BpeSegment {
  def segment(word: UTF8String, merges: Array[Array[Byte]]): ArrayData = {
    val bytes = word.getBytes // private copy; emitted slices share it
    val n = bytes.length
    // symbol k spans bytes [begs(k), ends(k)); one symbol per code
    // point to start (UTF-8 continuation bytes are 10xxxxxx)
    val begs = new Array[Int](n)
    val ends = new Array[Int](n)
    var m = 0
    var i = 0
    while (i < n) {
      if ((bytes(i) & 0xc0) != 0x80) { if (m > 0) ends(m - 1) = i; begs(m) = i; m += 1 }
      i += 1
    }
    if (m > 0) ends(m - 1) = n
    var r = 0
    while (r < merges.length) {
      val a = merges(r)
      val b = merges(r + 1)
      var w = 0
      var j = 0
      while (j < m) {
        if (j + 1 < m && Arrays.equals(bytes, begs(j), ends(j), a, 0, a.length) &&
            Arrays.equals(bytes, begs(j + 1), ends(j + 1), b, 0, b.length)) {
          begs(w) = begs(j); ends(w) = ends(j + 1); j += 2
        } else {
          begs(w) = begs(j); ends(w) = ends(j); j += 1
        }
        w += 1
      }
      m = w
      r += 2
    }
    new GenericArrayData(Array.tabulate[Any](m)(k =>
      UTF8String.fromBytes(bytes, begs(k), ends(k) - begs(k))))
  }

  def apply(c: Column, merges: Seq[(String, String)]): Column = {
    // flat pair table: entry 2k = merge k's left symbol, 2k+1 = right
    val table = merges.flatMap { case (a, b) =>
      Seq(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    }.toArray
    Kernel.call(this, "segment", ArrayType(StringType, containsNull = false),
      Seq(StringType, ObjectType(classOf[Array[Array[Byte]]])), Seq(c, Kernel.const(table)))
  }

  def apply(e: Expression, merges: Seq[(String, String)]): Expression =
    ColumnBridge.expression(apply(ColumnBridge.column(e), merges))
}
