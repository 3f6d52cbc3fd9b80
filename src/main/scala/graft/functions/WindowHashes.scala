package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All `w`-token sliding-window hashes of a space-tokenized document in
  * ONE pass over the raw UTF-8 bytes — element `i` (0-based) equals
  * `xxhash64(array_join(slice(split(text, ' '), i + 1, w), ' '))`
  * exactly, because a window's joined string IS a contiguous byte range
  * of the original text: `split(text, ' ')` (limit −1, empties kept)
  * followed by a single-space join reproduces the bytes between token
  * `i`'s first byte and token `i+w−1`'s last byte verbatim, and 0x20
  * never occurs inside a multi-byte UTF-8 sequence, so byte-scanning
  * for spaces is an exact tokenizer. Hashing that range in place with
  * the same XXH64/seed-42 primitive Spark's `xxhash64` uses makes the
  * result bit-identical with ZERO window-string allocations.
  *
  * Why a kernel (the d9/d10 hot path): the former
  * `explode(transform(sequence(1, n), i -> array_join(slice(t, i, w),
  * ' ')))` built one UTF8String per position per document — ~w× the
  * corpus in allocations — through an interpreted lambda, only for
  * `xxhash64` to reduce each straight back to 8 bytes. Documents
  * shorter than `w` tokens yield an empty array (explode drops them —
  * the old `size(t) >= w` pre-filter, subsumed).
  */
object WindowHashes {
  private val SEED = 42L // org.apache.spark.sql.catalyst.expressions.XxHash64's default

  def compute(text: UTF8String, w: Int): UnsafeArrayData = {
    val nBytes = text.numBytes
    // token j (0-based) spans bytes [starts(j), starts(j+1) - 1); the
    // sentinel starts(nToks) = nBytes + 1 makes the last token uniform
    val starts = new Array[Int](nBytes + 2) // upper bound: every byte a space
    var nToks = 1
    var i = 0
    while (i < nBytes) {
      if (text.getByte(i) == 0x20) { starts(nToks) = i + 1; nToks += 1 }
      i += 1
    }
    starts(nToks) = nBytes + 1
    val nWins = nToks - w + 1
    if (nWins <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val out = new Array[Long](nWins)
    var k = 0
    while (k < nWins) {
      val s = starts(k)
      out(k) = XXH64.hashUnsafeBytes(base, off + s, starts(k + w) - 1 - s, SEED)
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def apply(c: Column, w: Int): Column = {
    require(w >= 1, s"window width must be >= 1, got $w")
    Kernel.call(this, "compute", ArrayType(LongType, containsNull = false),
      Seq(StringType, IntegerType), Seq(c, lit(w)))
  }
}
