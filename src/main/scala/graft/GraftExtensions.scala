package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{FloatVecDot, NfcNormalize}
import graft.sources.zarr.{ZarrDriverRead, ZarrFoldMerge}

/** Session extensions: registers graft's codegen'd kernels
  * ([[graft.functions.Kernel]]) for SQL use, and the planner strategies
  * that merge a folded Zarr aggregate's partial rows on the driver
  * ([[graft.sources.zarr.ZarrFoldMerge]]) and read a one-partition
  * Zarr scan there when it is collected
  * ([[graft.sources.zarr.ZarrDriverRead]]). Activate with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)` — the
  * SparkSessionExtensions injection slot SURVEY.md §4.3 reserves for
  * engine extensions (the reference's optimizer-rule behaviors ride
  * the aggregate-pushdown path instead; see ZarrScanBuilder).
  *
  * SQL surface:
  *   SELECT float_vec_dot(a.embedding, b.embedding) FROM ...
  *   SELECT * FROM t WHERE might_contain((SELECT bloom_filter_agg(xxhash64(k), n, bits) FROM s), xxhash64(t.k))
  *
  * `bloom_filter_agg` / `might_contain` are Spark's own native bloom
  * expressions (the machinery behind runtime row-level filtering,
  * `BloomFilterAggregate` / `BloomFilterMightContain`) — codegen'd
  * and mergeable, but not exposed in the default FunctionRegistry;
  * injecting them gives user queries the same bloom-gated-join
  * pattern the optimizer uses internally (see
  * `Curation.c12_bloom_decontaminate`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => ZarrFoldMerge)
    e.injectPlannerStrategy(ZarrDriverRead)
    e.injectFunction((
      new FunctionIdentifier("float_vec_dot"),
      new ExpressionInfo(FloatVecDot.getClass.getName, "float_vec_dot"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(a, b) =>
          ColumnBridge.expression(FloatVecDot(ColumnBridge.column(a), ColumnBridge.column(b)))
        case _ => throw new IllegalArgumentException(
          "float_vec_dot(array<float>, array<float>)")
      }))
    e.injectFunction((
      new FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(NfcNormalize.getClass.getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => NfcNormalize(c)
        case _ => throw new IllegalArgumentException("nfc_normalize(string)")
      }))
    e.injectFunction((
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_filter_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => new BloomFilterAggregate(c)
        case Seq(c, n) => new BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
        case _ => throw new IllegalArgumentException(
          "bloom_filter_agg(child[, estimatedNumItems[, numBits]])")
      }))
    e.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "might_contain"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(f, v) => BloomFilterMightContain(f, v)
        case _ => throw new IllegalArgumentException("might_contain(filter, value)")
      }))
  }
}
