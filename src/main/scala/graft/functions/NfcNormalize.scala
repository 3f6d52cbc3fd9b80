package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a codegen'd kernel (SQL name `nfc_normalize`, matching DuckDB's function of the same
  * name) — the canonicalization step of a text-curation pipeline:
  * decomposed sequences (`e` + U+0301) collapse to their precomposed
  * form (`é`), so downstream dedup/fingerprinting treats visually
  * identical documents as byte-identical.
  *
  * Why a kernel and not a UDF: the hot path is a static
  * JDK call (`java.text.Normalizer`), and `isNormalized` is a cheap
  * scan that short-circuits the (overwhelmingly common) ASCII case to
  * a zero-copy pass-through — inside whole-stage codegen there is no
  * row boxing, no Scala closure dispatch, and no UTF8String→String
  * round trip unless the row actually needs rewriting.
  */
object NfcNormalize {
  /** Pure ASCII (the overwhelming bulk of a web corpus) is detected on
    * the raw bytes and returned without ever materializing a
    * j.l.String. */
  def normalize(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var i = 0
    while (i < n && s.getByte(i) >= 0) i += 1
    if (i == n) return s
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  def apply(c: Column): Column =
    Kernel.call(this, "normalize", StringType, Seq(StringType), Seq(c))

  def apply(e: Expression): Expression = ColumnBridge.expression(apply(ColumnBridge.column(e)))
}
