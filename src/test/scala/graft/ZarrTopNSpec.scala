package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ORDER BY coordinate-prefix + LIMIT pushes into the scan: "latest k
  * time steps" reads k slabs, not the archive (the reference's
  * unchecked "top-k scan optimization" roadmap row, README.md:298). */
class ZarrTopNSpec extends AnyFunSuite {
  import TestSession._

  private val store = "src/test/resources/zarr/synthetic_v3.zarr"
  private def zarr = spark.read.format("zarr").load(store)

  private def scanDesc(df: DataFrame): String = {
    df.count()
    df.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan.description()
    }.getOrElse("no scan (metadata-answered)")
  }

  test("ascending coordinate-prefix top-n reads only the first n rows") {
    val df = zarr.orderBy("time", "lon", "lat")
      .select("time", "lon", "lat", "temperature").limit(5)
    assert(scanDesc(df).contains("limit=5"), scanDesc(df))
    val got = df.collect().map(_.toSeq).toSeq
    // first 5 grid rows in row-major order: time=0, lon=0, lat=0..4
    assert(got.map(r => (r(0), r(1), r(2))) ==
      (0 until 5).map(l => (0L, 0L, l.toLong)))
  }

  test("descending prefix top-n reads only the last n rows (latest slab)") {
    val df = zarr.orderBy(col("time").desc, col("lon").desc, col("lat").desc)
      .select("time", "lon", "lat").limit(3)
    assert(scanDesc(df).contains("offset=697"), scanDesc(df))
    assert(df.collect().map(_.toSeq).toSeq ==
      Seq(Seq(6L, 9L, 9L), Seq(6L, 9L, 8L), Seq(6L, 9L, 7L)))
  }

  test("non-prefix / mixed / data-var orders do not push but stay correct") {
    // data variable: no pushdown, full TakeOrdered
    val byVar = zarr.orderBy(col("temperature").desc, col("time"), col("lon"), col("lat"))
      .select("temperature", "time").limit(2)
    assert(!scanDesc(byVar).matches(".*limit=[0-9].*") ||
      scanDesc(byVar).contains("limit=-1"), scanDesc(byVar))
    assert(byVar.collect().length == 2)
    // mixed directions: rejected, still correct
    val mixed = zarr.orderBy(col("time").asc, col("lon").desc, col("lat").asc)
      .select("time", "lon", "lat").limit(4)
    assert(mixed.collect().map(_.toSeq).toSeq ==
      Seq(Seq(0L, 9L, 0L), Seq(0L, 9L, 1L), Seq(0L, 9L, 2L), Seq(0L, 9L, 3L)))
    // with a data-variable filter (evaluated exactly by the scan) the
    // coordinate-prefix shortcut declines — no row-space clipping,
    // result exact
    val filtered = zarr.filter(col("temperature") > 0)
      .orderBy("time", "lon", "lat").select("time", "lon", "lat").limit(2)
    assert(filtered.collect().length == 2)
  }
}
