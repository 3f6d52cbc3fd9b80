package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.ZarrScan

/** A coordinate whose name holds a dot (`lat.deg`) is one column. The
  * scan names it to Spark in three places — its runtime-filter
  * attributes, its output ordering and its column statistics — and
  * each is a one-part reference. A reference built by parsing the name
  * as SQL was two parts, a field `deg` of a column `lat`: every query
  * projecting the coordinate then failed at planning with
  * `Unable to resolve lat.deg given [t,lat.deg,v]`, from the ordering. */
class ZarrDottedNameSpec extends AnyFunSuite {
  import TestSession._

  /** t = 0..3 (outer), `lat.deg` = [-10, 0, 10]; v <f4 = 0.5 · row
    * number, in chunks of 2 × 3. */
  private lazy val store: String = {
    val root = Files.createTempDirectory("zarr_dotted")
    def write(rel: String, b: Array[Byte]): Unit = {
      val p = root.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, b)
    }
    def meta(shape: Seq[Int], chunks: Seq[Int], dtype: String) =
      s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],"chunks":[${chunks.mkString(",")}],
          "dtype":"$dtype","fill_value":0,"order":"C","filters":null,
          "dimension_separator":".","compressor":null}""".getBytes
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    write(".zgroup", """{"zarr_format":2}""".getBytes)
    write("t/.zarray", meta(Seq(4), Seq(4), "<i8"))
    write("t/0", { val b = le(32); (0L until 4L).foreach(b.putLong); b.array() })
    write("lat.deg/.zarray", meta(Seq(3), Seq(3), "<f8"))
    write("lat.deg/0", { val b = le(24); Seq(-10.0, 0.0, 10.0).foreach(b.putDouble); b.array() })
    write("v/.zarray", meta(Seq(4, 3), Seq(2, 3), "<f4"))
    for (ci <- 0 until 2) {
      val b = le(24)
      for (a <- 0 until 2; j <- 0 until 3) b.putFloat(((ci * 2 + a) * 3 + j) * 0.5f)
      write(s"v/$ci.0", b.array())
    }
    write("v/.zattrs", """{"_ARRAY_DIMENSIONS":["t","lat.deg"]}""".getBytes)
    write("t/.zattrs", """{"_ARRAY_DIMENSIONS":["t"]}""".getBytes)
    write("lat.deg/.zattrs", """{"_ARRAY_DIMENSIONS":["lat.deg"]}""".getBytes)
    root.toString
  }

  private val lat = col("`lat.deg`")
  private def load = spark.read.format("zarr").load(store)
  private def cells: Seq[Row] =
    for (t <- 0 until 4; j <- 0 until 3) yield Row(t.toLong, -10.0 + 10.0 * j, (t * 3 + j) * 0.5f)

  test("the scan names a dotted coordinate to Spark as one column") {
    val df = load
    val scan = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.scan.asInstanceOf[ZarrScan] }.head
    def parts(r: org.apache.spark.sql.connector.expressions.NamedReference) = r.fieldNames().toSeq
    assert(scan.estimateStatistics().columnStats().asScala.keySet.map(parts) == Set(Seq("t"), Seq("lat.deg")))
    assert(scan.outputOrdering().toSeq.flatMap(_.expression().references().toSeq.map(parts)) ==
      Seq(Seq("t"), Seq("lat.deg")))
    assert(scan.filterAttributes().toSeq.map(parts) == Seq(Seq("t"), Seq("lat.deg")))
    // Spark matches column statistics to attributes by the reference's
    // `describe()`, which back-quotes a dotted name: it takes `t`'s and
    // leaves `lat.deg` without, as for any dotted V2 column
    val stats = df.queryExecution.optimizedPlan.stats.attributeStats.map { case (a, s) => a.name -> s }
    assert(stats.keySet == Set("t") && stats("t").max.contains(3L), stats)
    // one call computes them; the planner and the fold merge share it
    assert(scan.estimateStatistics() eq scan.estimateStatistics())
  }

  test("queries over a dotted coordinate plan and answer") {
    assert(load.collect().toSeq == cells)
    assert(load.where(lat === 0.0).select("t", "v").collect().toSeq ==
      cells.filter(_.getDouble(1) == 0.0).map(r => Row(r.getLong(0), r.getFloat(2))))
    assert(load.orderBy(col("t").desc, lat).collect().toSeq ==
      cells.sortBy(r => (-r.getLong(0), r.getDouble(1))))
    val keys = load.where(col("t") === 1L && col("v") > 2.0f).select(lat.as("k"))
    // only (t = 1, lat.deg = 10) has v > 2
    val joined = load.join(keys, lat === col("k")).select(col("t"), lat, col("v"))
    assert(joined.collect().toSeq.sortBy(_.getLong(0)) == cells.filter(_.getDouble(1) == 10.0))
  }
}
