package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.{AggFold, FoldCount, FoldSum, VarField, ZarrColumnarReader, ZarrInputPartition, ZarrMeta}

/** The grids and shapes [[ZarrFoldSpec]] and [[ZarrFoldMergeSpec]] share. */
object ZarrFoldSpec {
  import TestSession._

  private val (nt, ny, nx) = (6, 7, 9)

  private def written(version: Int): String = {
    val rows = for (t <- 0 until nt; y <- 0 until ny; x <- 0 until nx) yield {
      val id = (t * ny + y) * nx + x
      Row(t.toLong, y * 1.5 - 4.0, x.toLong, ((id * 37) % 101 - 50) * 0.25f,
        ((id * 53) % 89) * 0.5, (id * 7) % 23 - 11)
    }
    val schema = StructType(Seq(
      StructField("t", LongType, nullable = false), StructField("y", DoubleType, nullable = false),
      StructField("x", LongType, nullable = false), StructField("v", FloatType),
      StructField("w", DoubleType), StructField("k", IntegerType)))
    val out = Files.createTempDirectory("zarr_fold").resolve("g.zarr").toString
    val w = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .write.format("zarr").option("coords", "t,y,x")
    (if (version == 2) w.option("chunkShape", "2,3,4")
    else w.option("zarrVersion", "3").option("chunkOuter", "2").option("shardInner", "1"))
      .mode("overwrite").save(out)
    out
  }

  lazy val v2 = written(2)
  lazy val v3 = written(3)

  /** t = [3, 1, 2, 0, 5] (non-monotone), x = [-1.5, -0.0, 0.5, 2.0];
    * v <f4 with NaN, ±0.0 and ±Inf cells, chunks 2×2 with chunk 1.1
    * absent (fill NaN); w <f8 (fill 0.5, chunk 2.0 absent); k <i4. */
  lazy val edge: String = {
    val root = Files.createTempDirectory("zarr_fold_edge")
    def write(rel: String, b: Array[Byte]): Unit = {
      val p = root.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, b)
    }
    def meta(shape: Seq[Int], chunks: Seq[Int], dtype: String, fill: String) =
      s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],"chunks":[${chunks.mkString(",")}],
          "dtype":"$dtype","fill_value":$fill,"order":"C","filters":null,
          "dimension_separator":".","compressor":null}""".getBytes
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    write(".zgroup", """{"zarr_format":2}""".getBytes)
    val ts = Seq(3L, 1L, 2L, 0L, 5L)
    val xs = Seq(-1.5, -0.0, 0.5, 2.0)
    write("t/.zarray", meta(Seq(5), Seq(5), "<i8", "0"))
    write("t/0", { val b = le(40); ts.foreach(b.putLong); b.array() })
    write("x/.zarray", meta(Seq(4), Seq(4), "<f8", "0"))
    write("x/0", { val b = le(32); xs.foreach(b.putDouble); b.array() })
    val specials = Array(Float.NaN, -0.0f, 0.0f, Float.PositiveInfinity, Float.NegativeInfinity)
    def v(i: Int, j: Int): Float = { val id = i * 4 + j; if (id % 3 == 0) specials(id % 5) else (id % 7 - 3) * 0.25f }
    def w(i: Int, j: Int): Double = (i * 4 + j) % 6 * 0.25 - 0.5
    write("v/.zarray", meta(Seq(5, 4), Seq(2, 2), "<f4", "\"NaN\""))
    write("w/.zarray", meta(Seq(5, 4), Seq(2, 2), "<f8", "0.5"))
    write("k/.zarray", meta(Seq(5, 4), Seq(2, 2), "<i4", "-1"))
    for (ci <- 0 until 3; cj <- 0 until 2) {
      val (bv, bw, bk) = (le(16), le(32), le(16))
      for (a <- 0 until 2; b <- 0 until 2) {
        val (i, j) = (ci * 2 + a, cj * 2 + b)
        bv.putFloat(if (i < 5) v(i, j) else 0f); bw.putDouble(if (i < 5) w(i, j) else 0.0)
        bk.putInt(i * 4 + j - 9)
      }
      if ((ci, cj) != ((1, 1))) write(s"v/$ci.$cj", bv.array())
      if ((ci, cj) != ((2, 0))) write(s"w/$ci.$cj", bw.array())
      write(s"k/$ci.$cj", bk.array())
    }
    for (n <- Seq("v", "w", "k"))
      write(s"$n/.zattrs", """{"_ARRAY_DIMENSIONS":["t","x"]}""".getBytes)
    write("t/.zattrs", """{"_ARRAY_DIMENSIONS":["t"]}""".getBytes)
    write("x/.zattrs", """{"_ARRAY_DIMENSIONS":["x"]}""".getBytes)
    root.toString
  }

  /** Partitions cut inside a 63-row slab; a partial aggregate may span
    * up to 60 groups (x, t has 54). */
  def zarr(path: String): DataFrame = spark.read.format("zarr")
    .option("minRowsPerPartition", "1").option("maxRowsPerPartition", "60").load(path)

  /** The table's rows, collected and re-parallelized: the reference side
    * shares no pushdown with the scan under test. */
  def local(z: DataFrame): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(z.collect().toSeq, 3), z.schema)

  /** Doubles by bits, −0.0 folded onto 0.0 (Spark's equality): SUM/AVG
    * must agree bit for bit. */
  def canon(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case f: Float => java.lang.Double.doubleToLongBits(if (f == 0.0f) 0.0 else f.toDouble)
    case o => o
  }
  def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(canon).mkString("|")).sorted.toSeq

  def scanDesc(df: DataFrame): String =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.scan.description() }.mkString(" ; ")

  def shapes(d: DataFrame): Seq[(String, DataFrame, String)] = {
    val pred = col("v") > -3.0f && col("w") <= 20.0
    val aggs = Seq(count(lit(1)), count("v"), sum("v"), avg("v"), sum("w"), avg("w"),
      min("v"), max("v"), min("w"), max("w"), min("k"), max("k"))
    Seq(
      ("filter", d.where(pred), "postScan=[]"),
      ("filter on a coordinate and a variable", d.where(col("x") >= 1 && col("v") >= 0.0f), "postScan=[]"),
      ("ungrouped", d.agg(aggs.head, aggs.tail: _*), "partialAgg="),
      ("ungrouped, filtered", d.where(pred).agg(aggs.head, aggs.tail: _*), "partialAgg="),
      ("grouped by t", d.where(pred).groupBy("t").agg(aggs.head, aggs.tail: _*), "groupBy=[t]"),
      ("grouped by x", d.groupBy("x").agg(aggs.head, aggs.tail: _*), "groupBy=[x]"),
      ("grouped by x, t", d.where(col("k") < 5).groupBy("x", "t").agg(count(lit(1)), sum("v"), max("k")),
        "groupBy=[x,t]"))
  }
}

/** Every shape the Zarr scan evaluates itself — exact filters, partial
  * aggregates, in-scan top-N — against the same query over the
  * table's collected rows. Three grids: a v2 store, a v3 sharded store
  * and a hand-written v2 store with NaN cells, −0.0, absent chunks and
  * a non-monotone coordinate. Cell values are multiples of 1/4, so
  * every SUM and AVG is exact and must match bit for bit whatever
  * order Spark merges partitions in. */
class ZarrFoldSpec extends AnyFunSuite {
  import TestSession._
  import ZarrFoldSpec._

  private def topN(d: DataFrame): Seq[(String, DataFrame, String)] = Seq(
    ("top-N DESC", d.where(col("w") < 20.0).orderBy(desc("v")).limit(7), "topN=v DESC 7"),
    ("top-N ASC", d.orderBy(asc("w")).limit(5), "topN=w ASC 5"),
    ("top-N by a coordinate", d.where(col("v") > 0.0f).orderBy(desc("x")).limit(4), "topN=x DESC 4"))

  for ((label, path) <- Seq("v2" -> (() => v2), "v3 sharded" -> (() => v3), "edge grid" -> (() => edge))) {
    test(s"$label: pushed shapes equal the same query over the collected rows") {
      val z = zarr(path())
      val l = local(z)
      for (((what, got, marker), (_, want, _)) <- shapes(z).zip(shapes(l))) {
        assert(scanDesc(got).contains(marker), s"$what: ${scanDesc(got)}")
        assert(got.queryExecution.sparkPlan.collect { case f: FilterExec => f }.isEmpty, what)
        assert(rowsOf(got) == rowsOf(want), what)
      }
    }

    test(s"$label: in-scan top-N keeps the best keys") {
      val z = zarr(path())
      val source = rowsOf(z).toSet
      for (((what, got, marker), (_, want, _)) <- topN(z).zip(topN(local(z)))) {
        assert(scanDesc(got).contains(marker), s"$what: ${scanDesc(got)}")
        val g = got.collect()
        // ties may pick different rows: the keys must agree, and every
        // row must be a table row
        val key = got.schema.fieldNames.indexOf(marker.split(" ").head.stripPrefix("topN="))
        assert(g.map(r => canon(r.get(key))).toSeq == want.collect().map(r => canon(r.get(key))).toSeq, what)
        assert(g.forall(r => source.contains(
          z.schema.fieldNames.map(n => canon(r.get(got.schema.fieldNames.indexOf(n)))).mkString("|"))), what)
      }
    }
  }

  test("COUNT over a provably empty range is 0 and SUM is NULL") {
    for (path <- Seq(v2, edge)) {
      val df = zarr(path).where(col("t") === 99L).agg(count(lit(1)), sum("v"), max("k"))
      assert(scanDesc(df).contains("partialAgg="), scanDesc(df))
      assert(df.collect().toSeq == Seq(Row(0L, null, null)))
      // empty by a data-variable predicate: every partition's row is empty
      val byVar = zarr(path).where(col("v") > 1000.0f && col("v") < 2000.0f).agg(count(lit(1)), sum("w"))
      assert(byVar.collect().toSeq == Seq(Row(0L, null)))
      // grouped: no group at all
      assert(zarr(path).where(col("t") === 99L).groupBy("x").agg(sum("v")).collect().isEmpty)
    }
  }

  test("GROUP BY two inner coordinates folds across outer boundaries, within the split cap") {
    // two outer steps (126 rows) per partition, 63 (y, x) groups
    val z = spark.read.format("zarr").option("minRowsPerPartition", "100")
      .option("maxRowsPerPartition", "130").load(v2)
    val l = local(z)
    def q(d: DataFrame) = d.where(col("v") > -5.0f).groupBy("y", "x")
      .agg(count(lit(1)), sum("v"), min("k"), max("w"))
    assert(scanDesc(q(z)).contains("groupBy=[y,x]"), scanDesc(q(z)))
    assert(rowsOf(q(z)) == rowsOf(q(l)))
    // a partition of six rows across the t = 0 → 1 boundary: one row
    // per group it reaches, in (y, x) order
    val meta = ZarrMeta.readStore(v2)
    val part = ZarrInputPartition(v2, 60L, 66L, meta.coords.map(c => (0, c.length)).toArray, meta.coords,
      Seq(VarField(meta.dataVars.find(_.name == "v").get)),
      fold = Some(AggFold(Seq("y", "x"), Seq(FoldCount, FoldSum("v")))), outCols = 0)
    val reader = new ZarrColumnarReader(part)
    val got = try {
      assert(reader.next())
      val b = reader.get()
      val rows = (0 until b.numRows()).map(i =>
        (b.column(0).getDouble(i), b.column(1).getLong(i), b.column(2).getLong(i), b.column(3).getDouble(i)))
      assert(!reader.next())
      rows
    } finally reader.close()
    def v(id: Int): Double = (((id * 37) % 101 - 50) * 0.25f).toDouble
    val want = Seq(63 -> (0, 0), 64 -> (0, 1), 65 -> (0, 2), 60 -> (6, 6), 61 -> (6, 7), 62 -> (6, 8))
      .map { case (id, (y, x)) => (y * 1.5 - 4.0, x.toLong, 1L, v(id)) }
    assert(got == want)
    // more groups than the split cap (63 > 60): Spark aggregates the cells
    val capped = zarr(v2).groupBy("y", "x").agg(sum("v"))
    assert(!scanDesc(capped).contains("partialAgg="), scanDesc(capped))
    assert(rowsOf(capped) == rowsOf(local(zarr(v2)).groupBy("y", "x").agg(sum("v"))))
  }

  test("NaN and −0.0 follow Spark's rules in filters and folds") {
    val z = zarr(edge)
    val l = local(z)
    val preds = Seq(col("v") === Float.NaN, col("v") > 0.0f, col("v") >= Float.NaN,
      col("v") < Float.NaN, col("v") === -0.0f, col("v") <= 0.0f, col("x") === 0.0, col("x") > -0.0,
      col("v") > Float.PositiveInfinity, col("v") < Float.NegativeInfinity)
    for (p <- preds) {
      val (g, w) = (z.where(p).agg(count(lit(1)), sum("w"), max("v"), min("v")),
        l.where(p).agg(count(lit(1)), sum("w"), max("v"), min("v")))
      assert(scanDesc(g).contains("partialAgg="), s"$p: ${scanDesc(g)}")
      assert(rowsOf(g) == rowsOf(w), p.toString)
    }
  }

  test("shapes outside the exact set keep Spark's Filter, aggregate and TakeOrdered") {
    val z = zarr(v2)
    def filters(df: DataFrame) = df.queryExecution.sparkPlan.collect { case f: FilterExec => f }
    def sparkAggs(df: DataFrame) = df.queryExecution.sparkPlan.collect { case h: HashAggregateExec => h }
      .flatMap(_.aggregateExpressions.map(_.aggregateFunction.prettyName))
    val asNull = spark.read.format("zarr").option("fillValueAsNull", "true").load(v2)
      .where(col("v") > 0.0f).groupBy("t").agg(sum("v"))
    val or = z.where(col("v") > 0.0f || col("x") > 3L).agg(count(lit(1)))
    val in = z.where(col("t").isin(1L, 3L)).agg(count(lit(1)), sum("v"))
    for ((what, df) <- Seq("fillValueAsNull" -> asNull, "OR" -> or, "IN" -> in)) {
      assert(filters(df).nonEmpty, what)
      assert(!scanDesc(df).contains("partialAgg="), s"$what: ${scanDesc(df)}")
    }
    val intSum = z.where(col("v") > 0.0f).agg(sum("k"))
    val distinct = z.where(col("v") > 0.0f).agg(countDistinct("v"))
    for ((what, df) <- Seq("integral SUM" -> intSum, "DISTINCT" -> distinct)) {
      assert(!scanDesc(df).contains("partialAgg="), s"$what: ${scanDesc(df)}")
      assert(sparkAggs(df).nonEmpty, what)
    }
    assert(intSum.collect().head.getLong(0) == local(z).where(col("v") > 0.0f).agg(sum("k")).collect().head.getLong(0))
    val topNNull = spark.read.format("zarr").option("fillValueAsNull", "true").load(v2)
      .orderBy(desc("v")).limit(3)
    assert(!scanDesc(topNNull).contains("topN="), scanDesc(topNNull))
    // string coordinates: the equality stays post-scan, the order stays Spark's
    val str = stringStore()
    val sEq = spark.read.format("zarr").load(str).where(col("station") === "b").agg(sum("v"))
    assert(filters(sEq).nonEmpty && !scanDesc(sEq).contains("partialAgg="), scanDesc(sEq))
    val sTop = spark.read.format("zarr").load(str).orderBy(desc("station")).limit(2)
    assert(!scanDesc(sTop).contains("topN="), scanDesc(sTop))
    assert(sTop.collect().map(_.getString(0)).toSeq == Seq("cc", "cc"))
  }

  /** station (|S2: aa, b, cc) × h (0..3) with v <f8. */
  private def stringStore(): String = {
    val root = Files.createTempDirectory("zarr_fold_str")
    def write(rel: String, b: Array[Byte]): Unit = {
      val p: Path = root.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, b)
    }
    def meta(shape: Seq[Int], dtype: String) =
      s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],"chunks":[${shape.mkString(",")}],
          "dtype":"$dtype","fill_value":0,"order":"C","filters":null,
          "dimension_separator":".","compressor":null}""".getBytes
    write(".zgroup", """{"zarr_format":2}""".getBytes)
    write("station/.zarray", meta(Seq(3), "|S2"))
    write("station/0", "aab\u0000cc".getBytes("US-ASCII"))
    write("h/.zarray", meta(Seq(4), "<i8"))
    val hb = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN); (0 until 4).foreach(h => hb.putLong(h))
    write("h/0", hb.array())
    write("v/.zarray", meta(Seq(3, 4), "<f8"))
    val vb = ByteBuffer.allocate(96).order(ByteOrder.LITTLE_ENDIAN); (0 until 12).foreach(i => vb.putDouble(i * 0.5))
    write("v/0.0", vb.array())
    write("v/.zattrs", """{"_ARRAY_DIMENSIONS":["station","h"]}""".getBytes)
    root.toString
  }
}
