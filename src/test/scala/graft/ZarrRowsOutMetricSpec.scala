package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** zarrRowsOut — the rows the scan handed to Spark — against counts
  * computed from the generator's formula, never from the connector: a
  * filtered scan hands over its passing cells, an ungrouped fold one
  * row per partition, a grouped fold one row per non-empty group of
  * each partition, a top-N at most n rows per partition. */
class ZarrRowsOutMetricSpec extends AnyFunSuite {
  import TestSession._

  private val (nt, nx) = (5, 40)
  private def v(t: Int, x: Int): Double = ((t * 17 + x * 29) % 50) - 20.0

  private lazy val store: String = {
    import spark.implicits._
    val out = Files.createTempDirectory("zarr_rows_out").resolve("s.zarr").toString
    (for (t <- 0 until nt; x <- 0 until nx) yield (t.toLong, x.toLong, v(t, x)))
      .toDF("t", "x", "v")
      .write.format("zarr").option("coords", "t,x").mode("overwrite").save(out)
    out
  }

  // one outer step per partition
  private def zarr: DataFrame = spark.read.format("zarr")
    .option("minRowsPerPartition", "1").option("maxRowsPerPartition", nx.toString).load(store)

  private def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case b: BatchScanExec => Seq(b)
    case o => o.children.flatMap(scans)
  }

  private def rowsOut(df: DataFrame): Long = {
    df.collect()
    scans(df.queryExecution.executedPlan).flatMap(_.metrics.get("zarrRowsOut")).map(_.value).sum
  }

  private def matches(t: Int, thr: Double): Int = (0 until nx).count(x => v(t, x) > thr)

  test("filtered scan: rows out = passing cells") {
    assert(rowsOut(zarr.where(col("v") > 3.0)) == (0 until nt).map(matches(_, 3.0)).sum)
    // a coordinate filter narrows the range; a limit under a variable
    // predicate stops each partition at the limit
    assert(rowsOut(zarr.where(col("t") >= 3L)) == 2L * nx)
    assert(rowsOut(zarr.where(col("v") > 3.0).limit(4)) <=
      (0 until nt).map(t => math.min(4, matches(t, 3.0))).sum)
  }

  test("ungrouped fold: one row per partition") {
    val df = zarr.where(col("v") > 3.0).agg(count(lit(1)), max("v"))
    assert(rowsOut(df) == nt)
    assert(df.collect().head.getLong(0) == (0 until nt).map(matches(_, 3.0)).sum)
  }

  test("grouped fold: one row per non-empty group per partition") {
    // groups by t: each partition holds one t, empty when no cell passes
    val thr = 27.0
    val byT = zarr.where(col("v") > thr).groupBy("t").agg(sum("v"))
    assert(rowsOut(byT) == (0 until nt).count(matches(_, thr) > 0))
    // groups by x: a partition emits its passing x values
    val byX = zarr.where(col("v") > thr).groupBy("x").agg(count(lit(1)))
    assert(rowsOut(byX) == (0 until nt).map(matches(_, thr)).sum)
  }

  test("top-N: at most n rows per partition") {
    val n = 3
    val df = zarr.where(col("v") > 25.0).orderBy(desc("v")).limit(n)
    val out = rowsOut(df)
    assert(out == (0 until nt).map(t => math.min(n, matches(t, 25.0))).sum)
    assert(out <= n.toLong * nt)
  }
}
