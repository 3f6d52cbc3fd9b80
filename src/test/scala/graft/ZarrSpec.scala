package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr._

/** Zarr connector suites, mirroring the reference's integration tests
  * (SURVEY.md §5): query basics, pushdown behavior + plan shape,
  * optimizer (aggregate pushdown) with differential checks, format
  * parity (v2/v3 × plain/blosc), and error paths. */
class ZarrSpec extends AnyFunSuite {
  import TestSession._

  private val base = "src/test/resources/zarr"
  private val v2 = s"$base/synthetic_v2.zarr"
  private val v2b = s"$base/synthetic_v2_blosc.zarr"
  private val v3 = s"$base/synthetic_v3.zarr"
  private val v3b = s"$base/synthetic_v3_blosc.zarr"
  private val all = Seq(v2, v2b, v3, v3b)

  private def zarr(path: String): DataFrame =
    spark.read.format("zarr").load(path)

  // sparkPlan, not executedPlan: AQE's AdaptiveSparkPlanExec hides its
  // input plan from collect()
  private def scansOf(df: DataFrame) =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.scan }

  // ------------------------------------------------------------ query suite

  test("SELECT * shape: 700 rows x 5 cols, reference column order") {
    val df = zarr(v3)
    assert(df.columns.toSeq == Seq("time", "lon", "lat", "humidity", "temperature"))
    assert(df.count() == 700)
  }

  test("coordinates are the row-major cartesian product") {
    val rows = zarr(v3).select("time", "lon", "lat").limit(12).collect()
    // C-order: last coordinate (lat) varies fastest
    assert(rows.take(3).map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0L, 0L, 0L), (0L, 0L, 1L), (0L, 0L, 2L)))
    assert(rows(10).getLong(1) == 1L && rows(10).getLong(2) == 0L)
  }

  test("WHERE on data variable post-verifies") {
    val rows = zarr(v3).filter(col("temperature") > 0).select("temperature").collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(0) > 0))
  }

  test("GROUP BY time has 7 groups; ORDER BY monotonic") {
    val df = zarr(v3).groupBy("time").agg(avg("temperature").as("t")).orderBy("time")
    val rows = df.collect()
    assert(rows.length == 7)
    val times = rows.map(_.getLong(0))
    assert(times.zip(times.tail).forall { case (a, b) => a < b })
  }

  // --------------------------------------------------------- pushdown suite

  test("filter pushdown row math: time=0 -> 100; +lat=0 -> 10; all -> 1") {
    assert(zarr(v3).filter(col("time") === 0).count() == 100)
    assert(zarr(v3).filter(col("time") === 0 && col("lat") === 0).count() == 10)
    assert(zarr(v3).filter(
      col("time") === 0 && col("lat") === 0 && col("lon") === 0).count() == 1)
  }

  test("pushed filter appears in scan; returned values honor it") {
    val df = zarr(v3).filter(col("time") === 3)
    val scan = scansOf(df).head
    assert(scan.description().contains("EqualTo(time,3)"))
    assert(df.select("time").collect().forall(_.getLong(0) == 3))
  }

  test("nonexistent coordinate value -> zero partitions, zero rows") {
    val df = zarr(v3).filter(col("time") === 99)
    assert(df.count() == 0)
  }

  test("projection pushdown prunes the scan schema") {
    val df = zarr(v3).select("time", "temperature")
    val scan = scansOf(df).head
    assert(scan.readSchema().fieldNames.toSeq == Seq("time", "temperature"))
  }

  test("limit pushdown caps rows and appears in scan") {
    val df = zarr(v3).limit(5)
    assert(df.count() == 5)
    assert(scansOf(df).head.description().contains("limit=5"))
  }

  test("filter + limit: an exact filter lets the limit into the scan (correctness)") {
    // the coordinate equality is exact (its range is the filter), so
    // Spark drops its Filter node and pushes the limit into the scan
    val df = zarr(v3).filter(col("time") === 2).limit(7)
    assert(df.count() == 7)
    assert(df.collect().forall(_.getAs[Long]("time") == 2))
    val scan = scansOf(df).head
    assert(scan.description().contains("limit=7"), scan.description())
    // under a data-variable predicate the limit counts emitted rows
    val byVar = zarr(v3).filter(col("temperature") > 50).limit(7)
    assert(scansOf(byVar).head.description().contains("limit=7"))
    val rows = byVar.collect()
    assert(rows.length == 7 && rows.forall(_.getAs[Long]("temperature") > 50))
  }

  test("chunkCacheEntries caches decoded chunks across queries, results unchanged") {
    val cached = spark.read.format("zarr")
      .option("chunkCacheEntries", "32").load(v3)
    val plain = zarr(v3)
    val a = cached.groupBy("time").agg(sum("temperature")).collect()
      .map(_.toSeq).toSet
    val b = plain.groupBy("time").agg(sum("temperature")).collect()
      .map(_.toSeq).toSet
    assert(a == b)
    // second run (cache warm) still correct
    assert(cached.agg(sum("humidity")).collect().head.getLong(0) ==
      plain.agg(sum("humidity")).collect().head.getLong(0))
  }

  test("zarr attributes surface as column metadata and table properties") {
    for (p <- Seq(v2, v3)) {
      val sch = zarr(p).schema
      val md = sch("temperature").metadata
      assert(md.getString("units") == "K", p)
      assert(md.getString("long_name") == "Air Temperature", p)
      // group attrs -> table properties
      val meta = graft.sources.zarr.ZarrMeta.readStore(p)
      assert(meta.groupAttrs.get("title").contains("Weekly Weather Sample"), p)
    }
    // group attrs surface through the DSv2 Table.properties() contract
    val table = new graft.sources.zarr.ZarrTable(
      graft.sources.zarr.ZarrMeta.readStore(v3))
    assert(table.properties().get("title") == "Weekly Weather Sample")
    assert(table.properties().get("conventions") == "Zarr v3")
  }

  test("range filter pushdown: BETWEEN prunes the time dimension") {
    val df = zarr(v3).filter(col("time") >= 2 && col("time") <= 4)
    val scan = scansOf(df).head
    assert(scan.description().contains("rows=300"), scan.description())
    assert(scan.description().contains("GreaterThanOrEqual(time,2)"))
    assert(df.count() == 300)
    assert(df.select("time").collect().forall { r =>
      val t = r.getLong(0); t >= 2 && t <= 4 })
  }

  test("range filter pushdown: strict bounds and mixed dims") {
    val df = zarr(v3).filter(col("time") > 1 && col("time") < 5 && col("lat") >= 7)
    val scan = scansOf(df).head
    assert(scan.description().contains("rows=90"), scan.description())
    assert(df.count() == 90)
  }

  test("IN filter pushdown prunes to the bounding index range") {
    val df = zarr(v3).filter(col("time").isin(1, 3))
    val scan = scansOf(df).head
    // bounding range [1,4) = 300 candidate rows; exact IN re-applied post-scan
    assert(scan.description().contains("rows=300"), scan.description())
    assert(df.count() == 200)
  }

  test("empty range (lo > hi) plans zero partitions") {
    val df = zarr(v3).filter(col("time") > 4 && col("time") < 3)
    assert(df.count() == 0)
  }

  test("data-variable filter is evaluated exactly in the scan") {
    val df = zarr(v3).filter(col("temperature") > 50)
    val scan = scansOf(df).head
    assert(scan.description().contains("exactFilters=[IsNotNull(temperature), GreaterThan(temperature,50)]"),
      scan.description())
    assert(scan.description().contains("postScan=[]"), scan.description())
    val rows = df.collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("temperature") > 50))
    assert(rows.length == zarr(v3).collect().count(_.getAs[Long]("temperature") > 50))
  }

  test("EXPLAIN names exact and post-scan filters, the fold and the pruned rows") {
    val agg = zarr(v3).filter(col("humidity") > 50 && col("time") >= 2)
      .groupBy("time").agg(count(lit(1)), sum(col("humidity").cast("double")))
    val aggDesc = scansOf(agg).head.description()
    assert(aggDesc.contains("rows=500 of 700 (28.6% pruned)"), aggDesc)
    assert(aggDesc.contains("exactFilters=[IsNotNull(humidity), GreaterThan(humidity,50), " +
      "GreaterThanOrEqual(time,2)] postScan=[]"), aggDesc)
    val posted = zarr(v3).filter(col("time").isin(1, 3) && col("temperature") > 0)
    val postDesc = scansOf(posted).head.description()
    assert(postDesc.contains("postScan=[In(time, [1,3])]"), postDesc)
    val top = zarr(v3).orderBy(col("temperature").desc).limit(10)
    assert(scansOf(top).head.description().contains("topN=temperature DESC 10"))
    val v2f = spark.read.format("zarr").load(s"$base/synthetic_v2.zarr")
    val grouped = v2f.groupBy("time").agg(max("temperature"))
    assert(scansOf(grouped).head.description().contains("partialAgg=[max(temperature)] groupBy=[time]"),
      scansOf(grouped).head.description())
  }

  // -------------------------------------------------------- optimizer suite

  test("COUNT(*) answered from metadata (ZarrAggScan, no chunk scan)") {
    val df = zarr(v3).agg(count(lit(1)))
    val scans = scansOf(df)
    assert(scans.nonEmpty && scans.forall(_.isInstanceOf[ZarrAggScan]))
    assert(df.collect().head.getLong(0) == 700)
  }

  test("MIN/MAX(coordinate) answered from metadata") {
    val df = zarr(v3).agg(min("time"), max("time"), min("lat"), max("lon"))
    assert(scansOf(df).forall(_.isInstanceOf[ZarrAggScan]))
    val r = df.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((0L, 6L, 0L, 9L)))
  }

  test("COUNT(DISTINCT coord) answered from metadata") {
    val df = zarr(v3).agg(countDistinct("time"))
    assert(scansOf(df).forall(_.isInstanceOf[ZarrAggScan]))
    assert(df.collect().head.getLong(0) == 7)
  }

  test("MIN/MAX(data variable) must still scan chunks") {
    val df = zarr(v3).agg(min("temperature"))
    assert(scansOf(df).exists(_.isInstanceOf[ZarrScan]))
  }

  test("filtered aggregate must still scan (reference guard)") {
    val df = zarr(v3).filter(col("time") === 0).agg(count(lit(1)))
    assert(scansOf(df).exists(_.isInstanceOf[ZarrScan]))
    assert(df.collect().head.getLong(0) == 100)
  }

  test("GROUP BY on a coordinate is metadata-answered; on a data var it scans") {
    // the reference's rules bail on any GROUP BY
    // (count_optimization.rs:67-74); the grouped generalization is
    // exact on the full-product grid, so coordinate groups push down…
    val byCoord = zarr(v3).groupBy("time").agg(count(lit(1)))
    assert(scansOf(byCoord).exists(s =>
      s.isInstanceOf[ZarrAggScan] && s.description().contains("ZarrGroupAggScan")))
    // …while data-variable groups and aggregates still take the scan
    val byVar = zarr(v3).groupBy("temperature").agg(count(lit(1)))
    assert(scansOf(byVar).exists(_.isInstanceOf[ZarrScan]))
    val sumAgg = zarr(v3).groupBy("time").agg(sum("temperature"))
    assert(scansOf(sumAgg).exists(_.isInstanceOf[ZarrScan]))
  }

  test("differential: metadata answers equal scan answers") {
    val viaStats = zarr(v3).agg(count(lit(1)), min("time"), max("lat")).collect().head
    val scanned = zarr(v3).select(
      count(lit(1)), min(col("time") + 0), max(col("lat") + 0)).collect().head
    assert(viaStats.getLong(0) == scanned.getLong(0))
    assert(viaStats.getLong(1) == scanned.getLong(1))
    assert(viaStats.getLong(2) == scanned.getLong(2))
  }

  // ---------------------------------------------------------- format parity

  test("v2 and v3 schemas are identical") {
    assert(zarr(v2).schema == zarr(v3).schema)
  }

  test("all four variants are byte-identical on full ordered content") {
    val ref = zarr(v3).orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
    for (p <- Seq(v2, v2b, v3b)) {
      val got = zarr(p).orderBy("time", "lon", "lat").collect().map(_.toSeq).toSeq
      assert(got == ref, s"variant $p differs from v3 plain")
    }
    assert(ref.length == 700)
  }

  test("blosc chunk decodes byte-identical to plain chunk (codec parity)") {
    val plain = ZarrMeta.readStore(v2)
    val blosc = ZarrMeta.readStore(v2b)
    val tPlain = plain.dataVars.find(_.name == "temperature").get
    val tBlosc = blosc.dataVars.find(_.name == "temperature").get
    for (t <- 0L until 7L) {
      val a = ChunkIO.readChunk(ZarrStore.open(v2), tPlain, Seq(t, 0L, 0L)).asInstanceOf[Array[Long]]
      val b = ChunkIO.readChunk(ZarrStore.open(v2b), tBlosc, Seq(t, 0L, 0L)).asInstanceOf[Array[Long]]
      assert(a.sameElements(b), s"chunk $t mismatch")
    }
  }

  test("SQL DDL: CREATE TABLE USING zarr, DESCRIBE, DROP") {
    val abs = new java.io.File(v3).getAbsolutePath
    spark.sql(s"CREATE TABLE zarr_weather USING zarr OPTIONS (path '$abs')")
    try {
      assert(spark.sql("SELECT COUNT(*) FROM zarr_weather").collect().head.getLong(0) == 700)
      val desc = spark.sql("DESCRIBE TABLE zarr_weather").collect().map(_.getString(0))
      assert(desc.contains("time") && desc.contains("temperature"))
    } finally spark.sql("DROP TABLE zarr_weather")
  }

  // ------------------------------------------------------- joins over zarr

  test("zarr self-join with key expression (reference CLI a.lat = b.lat + 1)") {
    val a = zarr(v3).select(col("time").as("t"), col("lon").as("ln"),
      col("lat").as("la"), col("temperature").as("temp_a"))
    val b = zarr(v3).select(col("time").as("t"), col("lon").as("ln"),
      col("lat").as("lb"), col("temperature").as("temp_b"))
    val j = a.join(b, a("t") === b("t") && a("ln") === b("ln") &&
      a("la") === b("lb") + 1)
    // each (t, lon, lat>=1) row matches exactly one partner
    assert(j.count() == 7L * 10 * 9)
    // consistency: left temps over the join = temps at lat >= 1
    val viaJoin = j.agg(sum("temp_a")).collect().head.getLong(0)
    val direct = zarr(v3).filter(col("lat") >= 1)
      .agg(sum("temperature")).collect().head.getLong(0)
    assert(viaJoin == direct)
  }

  test("inner join across two zarr stores (v2 ⋈ v3 variants)") {
    val x = zarr(v2).select(col("time"), col("lon"), col("lat"),
      col("temperature").as("temp2"))
    val y = zarr(v3).select(col("time"), col("lon"), col("lat"),
      col("humidity").as("hum3"))
    val j = x.join(y, Seq("time", "lon", "lat"))
    assert(j.count() == 700)
    // v2 and v3 fixtures hold the same data: cross-store join agrees
    // with the single-store projection
    val s1 = j.agg(sum(col("temp2") + col("hum3"))).collect().head.getLong(0)
    val s2 = zarr(v3).agg(sum(col("temperature") + col("humidity")))
      .collect().head.getLong(0)
    assert(s1 == s2)
  }

  // ------------------------------------------------------------- error paths

  test("bad path / non-zarr dir / unknown column error cleanly") {
    intercept[Exception](zarr("/nonexistent/path.zarr").count())
    intercept[Exception](zarr("/tmp").count())
    intercept[Exception](zarr(v3).select("no_such_col").count())
    // session still usable after failures
    assert(zarr(v3).count() == 700)
  }

  // ------------------------------------------------------------- grid math

  test("partitionSlices covers the row space exactly, aligned to chunks") {
    val ranges: GridMath.Ranges = Array((0, 7), (0, 10), (0, 10))
    val slices = GridMath.partitionSlices(ranges, 1, None, minRowsPerPartition = 100)
    assert(slices.head._1 == 0 && slices.last._2 == 700)
    assert(slices.zip(slices.tail).forall { case (a, b) => a._2 == b._1 })
    assert(slices.forall { case (s, e) => (e - s) % 100 == 0 })
  }

  test("partitionSlices honors limit") {
    val ranges: GridMath.Ranges = Array((0, 7), (0, 10), (0, 10))
    val slices = GridMath.partitionSlices(ranges, 1, Some(42), minRowsPerPartition = 10)
    assert(slices.map { case (s, e) => e - s }.sum == 42)
  }

  test("findCoordIndex: exact ints, epsilon floats, absent -> -1") {
    assert(GridMath.findCoordIndex(Array(0.0, 1.0, 2.0), 2.0) == 2)
    assert(GridMath.findCoordIndex(Array(0.25, 0.5), 0.5 + 1e-12) == 1)
    assert(GridMath.findCoordIndex(Array(0.0, 1.0), 3.0) == -1)
  }
}
