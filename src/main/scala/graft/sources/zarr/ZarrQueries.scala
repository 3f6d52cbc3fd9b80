package graft.sources.zarr

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-gate queries for the Zarr connector. The oracle cannot read
  * Zarr (DuckDB sees only the parquet corpus), so each query's oracle
  * is a VALUES literal computed independently from the raw v2 chunk
  * bytes (tools/ and the committed deterministic fixture, seed 42 —
  * see FIXTURES.md). The queries read the repo-committed store, so
  * they are sf-independent.
  */
object ZarrQueries {

  private val store = "/root/repo/src/test/resources/zarr/synthetic_v3.zarr"

  /** Per-JVM suffix for tmpdir fixtures (z7/z15 refs): two concurrent
    * gate runs on one machine must not race on a shared fixture path.
    * Per-process (not per-call) so repeated bench passes reuse one dir
    * instead of accumulating temp files. */
  private val runSuffix: String =
    java.lang.Long.toHexString(java.lang.ProcessHandle.current().pid())

  private def zarr(s: SparkSession): DataFrame = s.read.format("zarr").load(store)

  /** Flattened-grid group aggregate (the reference's marquee query
    * shape, README.md:227-233), run storage-partitioned: each time
    * step is one key-tagged partition, so the aggregation needs no
    * shuffle at any grid size (ZarrKeyGroupedSpec asserts the plan).
    * The scan folds no integral SUM, so Spark aggregates here, and
    * `partitionByOuter` is what spares it the shuffle. */
  def z1_zarr_group_agg(s: SparkSession, dir: String): DataFrame =
    s.read.format("zarr").option("partitionByOuter", "true").load(store)
      .groupBy("time")
      .agg(sum("temperature").as("sum_temp"), count(lit(1)).as("n"))

  private val z1Sql =
    """SELECT CAST(time AS BIGINT) AS time, CAST(sum_temp AS BIGINT) AS sum_temp,
       CAST(n AS BIGINT) AS n FROM (VALUES (0,443,100),(1,515,100),(2,521,100),(3,97,100),
       (4,465,100),(5,786,100),(6,425,100)) AS t(time, sum_temp, n)"""

  /** Coordinate-equality filter slice (pushdown prunes to one chunk
    * row-slab). */
  def z2_zarr_filter_slice(s: SparkSession, dir: String): DataFrame =
    zarr(s).filter(col("time") === 3 && col("lat") === 5)
      .select("lon", "temperature", "humidity")

  private val z2Sql =
    """SELECT CAST(lon AS BIGINT) AS lon, CAST(temperature AS BIGINT) AS temperature,
       CAST(humidity AS BIGINT) AS humidity FROM (VALUES (0,53,28),(1,-9,12),(2,18,22),(3,-31,44),(4,33,49),
       (5,3,46),(6,-30,41),(7,8,60),(8,-43,24),(9,18,42))
       AS t(lon, temperature, humidity)"""

  /** Metadata-answered aggregates (COUNT/MIN/MAX via aggregate
    * pushdown — zero chunk IO; ZarrSpec asserts the plan shape). */
  def z3_zarr_stats_agg(s: SparkSession, dir: String): DataFrame =
    zarr(s).agg(
      count(lit(1)).as("n_rows"),
      min("time").as("min_time"), max("time").as("max_time"),
      min("lon").as("min_lon"), max("lat").as("max_lat"))

  private val z3Sql =
    """SELECT CAST(n_rows AS BIGINT) AS n_rows, CAST(min_time AS BIGINT) AS min_time,
       CAST(max_time AS BIGINT) AS max_time, CAST(min_lon AS BIGINT) AS min_lon,
       CAST(max_lat AS BIGINT) AS max_lat
       FROM (VALUES (700, 0, 6, 0, 9)) AS t(n_rows, min_time, max_time, min_lon, max_lat)"""

  /** Deterministic top-k over the flattened grid. */
  def z4_zarr_topk(s: SparkSession, dir: String): DataFrame =
    zarr(s).select("temperature", "time", "lon", "lat")
      .orderBy(col("temperature").desc, col("time"), col("lon"), col("lat"))
      .limit(5)

  private val z4Sql =
    """SELECT CAST(temperature AS BIGINT) AS temperature, CAST(time AS BIGINT) AS time,
       CAST(lon AS BIGINT) AS lon, CAST(lat AS BIGINT) AS lat FROM (VALUES (59,3,5,2),(59,3,7,8),(59,4,6,9),(59,5,6,8),(58,1,0,7))
       AS t(temperature, time, lon, lat)"""

  /** Coordinate-range filter (BETWEEN + >=) — exercises the range
    * pushdown that prunes the scan to 3 of 7 time-chunks before any
    * chunk IO (the reference's roadmap "range filter pushdown",
    * README.md:289-337). Oracle VALUES computed from the raw v2 chunk
    * bytes (axis order time, lon, lat). */
  def z5_zarr_range(s: SparkSession, dir: String): DataFrame =
    zarr(s).filter(col("time").between(2, 4) && col("lat") >= 7)
      .groupBy("time")
      .agg(sum("temperature").as("sum_temp"), sum("humidity").as("sum_hum"),
        count(lit(1)).as("n"))

  private val z5Sql =
    """SELECT CAST(time AS BIGINT) AS time, CAST(sum_temp AS BIGINT) AS sum_temp,
       CAST(sum_hum AS BIGINT) AS sum_hum, CAST(n AS BIGINT) AS n
       FROM (VALUES (2,510,1354,30),(3,-191,1383,30),(4,202,1287,30))
       AS t(time, sum_temp, sum_hum, n)"""

  /** Sink round-trip INSIDE the graded gate: aggregate `lineitem` into
    * a (l_linenumber × l_orderkey%4) grid, write it as a
    * zstd-compressed Zarr store (overwrite → temp+swap), read it back
    * through the connector. The oracle reproduces the read-back —
    * including fill_value 0 for grid cells with no input rows — as a
    * cross join of the distinct coordinate values LEFT JOINed to the
    * aggregate. Exercises writer, compressor, consolidated metadata
    * and reader against DuckDB at every sf. */
  def z6_zarr_roundtrip(s: SparkSession, dir: String): DataFrame = {
    val li = graft.operators.Tables.load(s, dir, "lineitem")
    val grid = li.select(
        col("l_linenumber").cast("long").as("ln"),
        (col("l_orderkey") % 4).cast("long").as("k"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("ln", "k").agg(sum(col("qty")).as("sum_qty"))
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_z6_${math.abs(dir.hashCode)}.zarr"
    grid.write.format("zarr")
      .option("coords", "ln,k").option("chunkOuter", "2")
      .option("compressor", "zstd")
      .mode("overwrite").save(out)
    s.read.format("zarr").load(out).select("ln", "k", "sum_qty")
  }

  private val z6Sql = """
    WITH agg AS (
      SELECT CAST(l_linenumber AS BIGINT) AS ln,
             CAST(l_orderkey % 4 AS BIGINT) AS k,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY 1, 2),
    lns AS (SELECT DISTINCT ln FROM agg),
    ks AS (SELECT DISTINCT k FROM agg)
    SELECT l.ln, kk.k, CAST(COALESCE(a.sum_qty, 0) AS BIGINT) AS sum_qty
    FROM lns l CROSS JOIN ks kk
    LEFT JOIN agg a ON a.ln = l.ln AND a.k = kk.k"""

  /** Kerchunk/fsspec reference reading INSIDE the graded gate: build a
    * refs JSON over the committed v2 store (metadata inline, chunks as
    * a mix of whole-file `[url]` and ranged `[url, offset, length]`
    * refs — both resolution paths exercised), read it as a virtual
    * store, aggregate per lat. Oracle = VALUES computed independently
    * from the raw chunk bytes (sf-independent, like z1-z5). */
  def z7_zarr_kerchunk(s: SparkSession, dir: String): DataFrame =
    s.read.format("zarr").load(refsJsonOverV2())
      .groupBy("lat")
      .agg(sum("temperature").as("sum_temp"), sum("humidity").as("sum_hum"),
        count(lit(1)).as("n"))

  /** Builds a kerchunk refs JSON over the committed v2 store (metadata
    * inline, chunks as a mix of whole-file `[url]` and ranged
    * `[url, offset, length]` refs) and returns its path. Shared by the
    * JSON (z7) and parquet-refs (z15) gate queries. */
  private def refsJsonOverV2(): String = {
    import java.nio.file.{Files, Paths}
    val srcV2 = "/root/repo/src/test/resources/zarr/synthetic_v2.zarr"
    val src = Paths.get(srcV2)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", 1)
    val refs = root.putObject("refs")
    val walk = Files.walk(src)
    val files =
      try walk.filter(Files.isRegularFile(_)).iterator().asScala.toSeq
        .sortBy(p => src.relativize(p).toString)
      finally walk.close()
    files.zipWithIndex.foreach { case (p, i) =>
      val key = src.relativize(p).toString.replace(java.io.File.separatorChar, '/')
      if (p.getFileName.toString.startsWith("."))
        refs.put(key, new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))
      else {
        val arr = refs.putArray(key)
        arr.add(p.toAbsolutePath.toString)
        if (i % 2 == 0) { arr.add(0L); arr.add(Files.size(p)) }
      }
    }
    val out = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_z7_refs_$runSuffix.json")
    Files.write(out, mapper.writeValueAsBytes(root))
    out.toString
  }

  /** Kerchunk PARQUET references (fsspec LazyReferenceMapper layout)
    * INSIDE the graded gate: the same refs set as z7, converted to
    * per-variable parquet record files (record_size 2 so the linear
    * index -> record-file math crosses file boundaries), read through
    * [[KerchunkParquetStore]]. Same oracle as z7 — the refs format
    * must be invisible to the query. */
  def z15_zarr_kerchunk_parquet(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val json = refsJsonOverV2()
    val parqDir = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_z15_refs_$runSuffix.parq")
    if (Files.exists(parqDir)) {
      val walk = Files.walk(parqDir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }
    KerchunkParquetRefs.fromJson(json, parqDir.toString, recordSize = 2)
    s.read.format("zarr").load(parqDir.toString)
      .groupBy("lat")
      .agg(sum("temperature").as("sum_temp"), sum("humidity").as("sum_hum"),
        count(lit(1)).as("n"))
  }

  /** Store→refs GENERATION inside the graded gate (the virtualization
    * loop's first step, which z7/z15 take as given): scan the committed
    * v2 store itself with [[KerchunkParquetRefs.fromStore]] — metadata
    * and `.zstats` inlined, chunks as byte-range refs (threshold 0, the
    * nothing-rewritten posture) — and read the generated refs through
    * [[KerchunkParquetStore]]. Same oracle as z7: the refs PRODUCER
    * must also be invisible to the query. */
  def z16_zarr_store_refs(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val srcV2 = "/root/repo/src/test/resources/zarr/synthetic_v2.zarr"
    val parqDir = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_z16_refs_$runSuffix.parq")
    if (Files.exists(parqDir)) {
      val walk = Files.walk(parqDir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }
    KerchunkParquetRefs.fromStore(srcV2, parqDir.toString,
      recordSize = 2, inlineThreshold = 0L)
    s.read.format("zarr").load(parqDir.toString)
      .groupBy("lat")
      .agg(sum("temperature").as("sum_temp"), sum("humidity").as("sum_hum"),
        count(lit(1)).as("n"))
  }

  private val z7Sql =
    """SELECT CAST(lat AS BIGINT) AS lat, CAST(sum_temp AS BIGINT) AS sum_temp,
       CAST(sum_hum AS BIGINT) AS sum_hum, CAST(n AS BIGINT) AS n
       FROM (VALUES (0,723,2959,70),(1,372,2922,70),(2,-65,3207,70),(3,202,3092,70),
       (4,791,3288,70),(5,294,2877,70),(6,-181,3249,70),(7,631,2896,70),
       (8,188,3056,70),(9,297,2974,70)) AS t(lat, sum_temp, sum_hum, n)"""

  /** Outer-dimension APPEND inside the graded gate: write the
    * ln ≤ 4 half of the z6 grid, append ln ∈ {5,6,7} as new outer
    * slabs (whole new chunks, in-place shape edit), read the combined
    * store back. The oracle is z6's full-grid query — append must be
    * indistinguishable from having written everything at once. */
  def z8_zarr_append(s: SparkSession, dir: String): DataFrame = {
    val li = graft.operators.Tables.load(s, dir, "lineitem")
    // ONE corpus scan + aggregation for BOTH write halves (the z11
    // posture): `ln` is a group key, so filtering the aggregated grid
    // ≡ filtering lineitem first — persist the grid-sized result and
    // let each write filter the cached table instead of re-running the
    // scan (was: two full lineitem scans + aggs per invocation).
    val grid = li.select(
        col("l_linenumber").cast("long").as("ln"),
        (col("l_orderkey") % 4).cast("long").as("k"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("ln", "k").agg(sum(col("qty")).as("sum_qty"))
      .persist()
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_z8_${math.abs(dir.hashCode)}.zarr"
    try {
      grid.filter(col("ln") <= 4).write.format("zarr")
        .option("coords", "ln,k").option("chunkOuter", "2")
        .option("compressor", "zstd")
        .mode("overwrite").save(out)
      grid.filter(col("ln") > 4).write.format("zarr").mode("append").save(out)
    } finally grid.unpersist()
    s.read.format("zarr").load(out).select("ln", "k", "sum_qty")
  }

  /** Streaming read INSIDE the graded gate: write the ln ≤ 4 half of
    * the z6 grid, follow the store with `readStream` (offset = outer
    * extent), append ln ∈ {5,6,7} while the stream runs, drain to a
    * memory sink. The union of micro-batches must equal the one-shot
    * batch read — same oracle as z6/z8. */
  def z9_zarr_stream(s: SparkSession, dir: String): DataFrame = {
    val li = graft.operators.Tables.load(s, dir, "lineitem")
    // single lineitem scan for both halves — see z8
    val grid = li.select(
        col("l_linenumber").cast("long").as("ln"),
        (col("l_orderkey") % 4).cast("long").as("k"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("ln", "k").agg(sum(col("qty")).as("sum_qty"))
      .persist()
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_z9_${math.abs(dir.hashCode)}.zarr"
    try {
      grid.filter(col("ln") <= 4).write.format("zarr")
        .option("coords", "ln,k").option("chunkOuter", "2")
        .option("compressor", "zstd")
        .mode("overwrite").save(out)
      val q = s.readStream.format("zarr").load(out)
        .select("ln", "k", "sum_qty")
        .writeStream.outputMode("append").format("memory").queryName("z9_out").start()
      try {
        q.processAllAvailable()
        grid.filter(col("ln") > 4).write.format("zarr").mode("append").save(out)
        q.processAllAvailable()
      } finally q.stop()
    } finally grid.unpersist()
    s.table("z9_out")
  }

  /** Streaming WRITE inside the graded gate (the sink mirror of z9):
    * write the ln ≤ 4 half of the z6 grid batch-mode, then feed the
    * ln ∈ {5,6,7} half through `writeStream.format("zarr")` (memory
    * stream → per-micro-batch outer append), read the combined store
    * back. Same oracle as z6/z8 — a streamed ingest must be
    * indistinguishable from a one-shot write. */
  def z12_zarr_stream_sink(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = graft.operators.Tables.load(s, dir, "lineitem")
    // single lineitem scan for batch half + streamed tail — see z8
    val grid = li.select(
        col("l_linenumber").cast("long").as("ln"),
        (col("l_orderkey") % 4).cast("long").as("k"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("ln", "k").agg(sum(col("qty")).as("sum_qty"))
      .persist()
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_z12_${math.abs(dir.hashCode)}.zarr"
    try {
      // fresh store per run: the stream sink must start from the batch half
      try ZarrStore.open(out).deleteRecursively() catch { case _: Exception => }
      grid.filter(col("ln") <= 4).write.format("zarr")
        .option("coords", "ln,k").option("chunkOuter", "2")
        .option("compressor", "zstd")
        .mode("overwrite").save(out)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_z12_ckpt").toString
      val q = in.toDF().toDF("ln", "k", "sum_qty")
        .writeStream.outputMode("append").format("zarr")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
      try {
        val tail = grid.filter(col("ln") > 4)
          .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
        // two micro-batches: ln∈{5,6} then ln=7 — multiple appends land
        in.addData(tail.filter(_._1 <= 6).toSeq: _*)
        q.processAllAvailable()
        in.addData(tail.filter(_._1 > 6).toSeq: _*)
        q.processAllAvailable()
      } finally q.stop()
    } finally grid.unpersist()
    s.read.format("zarr").load(out).select("ln", "k", "sum_qty")
  }

  /** GROUP BY coordinate answered purely from metadata (grid
    * arithmetic — zero chunk IO; ZarrGroupAggSpec asserts the plan
    * uses ZarrGroupAggScan): per-time counts and coordinate bounds. */
  def z10_zarr_group_meta(s: SparkSession, dir: String): DataFrame =
    zarr(s).groupBy("time").agg(
      count(lit(1)).as("n"),
      min("lat").as("min_lat"),
      max("lon").as("max_lon"))

  private val z10Sql =
    """SELECT CAST(time AS BIGINT) AS time, CAST(n AS BIGINT) AS n,
       CAST(min_lat AS BIGINT) AS min_lat, CAST(max_lon AS BIGINT) AS max_lon
       FROM (VALUES (0,100,0,9),(1,100,0,9),(2,100,0,9),(3,100,0,9),
       (4,100,0,9),(5,100,0,9),(6,100,0,9)) AS t(time, n, min_lat, max_lon)"""

  /** Multi-store UNION read inside the graded gate: the z6 grid split
    * into two stores along the outer dimension (ln ≤ 4 / ln > 4),
    * loaded as `load(a, b)` and aggregated across members. Oracle =
    * the same aggregation over the one-store grid (z6's CTE), grouped. */
  /** Member-store bases already built in this JVM: the union-read
    * queries (z11/z14) measure the UNION READ, so repeat invocations
    * (bench warmup + two timed passes) must not re-pay the one-time
    * store build. A fresh JVM always rebuilds — no cross-version
    * staleness; a failed build unmarks itself. */
  private val builtUnionStores =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.CompletableFuture[Unit]]()

  /** First caller builds; concurrent late arrivals BLOCK on the
    * winner's completion handle instead of racing past a check-then-act
    * membership test into a store that is still mid-build. A failed
    * build unregisters itself (so the next caller retries) and
    * propagates the failure to every waiter. */
  private def buildOnce(base: String)(build: => Unit): Unit = {
    val mine = new java.util.concurrent.CompletableFuture[Unit]()
    val winner = builtUnionStores.putIfAbsent(base, mine)
    if (winner == null) {
      try { build; mine.complete(()) }
      catch { case e: Throwable =>
        builtUnionStores.remove(base, mine)
        mine.completeExceptionally(e)
        throw e
      }
    } else winner.join()
  }

  def z11_zarr_union(s: SparkSession, dir: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_z11_${math.abs(dir.hashCode)}"
    buildOnce(base) {
      val li = graft.operators.Tables.load(s, dir, "lineitem")
      // One corpus scan + aggregation for BOTH member stores: the grid
      // is grid-sized (ln × k cells), so persist it and let each write
      // filter the tiny cached table instead of re-running the scan.
      val grid = li.select(
          col("l_linenumber").cast("long").as("ln"),
          (col("l_orderkey") % 4).cast("long").as("k"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy("ln", "k").agg(sum(col("qty")).as("sum_qty"))
        .persist()
      try {
        grid.filter(col("ln") <= 4).write.format("zarr")
          .option("coords", "ln,k").option("chunkOuter", "2")
          .mode("overwrite").save(s"$base.a.zarr")
        grid.filter(col("ln") > 4).write.format("zarr")
          .option("coords", "ln,k").option("chunkOuter", "1")
          .mode("overwrite").save(s"$base.b.zarr")
      } finally grid.unpersist()
    }
    s.read.format("zarr").load(s"$base.a.zarr", s"$base.b.zarr")
      .groupBy("k")
      .agg(sum("sum_qty").as("total_qty"), count(lit(1)).as("n_cells"))
  }

  private val z11Sql = """
    WITH agg AS (
      SELECT CAST(l_linenumber AS BIGINT) AS ln,
             CAST(l_orderkey % 4 AS BIGINT) AS k,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY 1, 2),
    lo AS (SELECT DISTINCT ln FROM agg WHERE ln <= 4),
    hi AS (SELECT DISTINCT ln FROM agg WHERE ln > 4),
    ks AS (SELECT DISTINCT k FROM agg),
    gridlo AS (
      SELECT l.ln, kk.k, COALESCE(a.sum_qty, 0) AS sum_qty
      FROM lo l CROSS JOIN ks kk
      LEFT JOIN agg a ON a.ln = l.ln AND a.k = kk.k),
    gridhi AS (
      SELECT h.ln, kk.k, COALESCE(a.sum_qty, 0) AS sum_qty
      FROM hi h CROSS JOIN ks kk
      LEFT JOIN agg a ON a.ln = h.ln AND a.k = kk.k),
    unioned AS (SELECT * FROM gridlo UNION ALL SELECT * FROM gridhi)
    SELECT k, CAST(SUM(sum_qty) AS BIGINT) AS total_qty,
      CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM unioned GROUP BY k"""

  /** Chunk-level SUM/AVG aggregate pushdown inside the graded gate
    * (the reference's roadmap "Aggregate pushdown (push SUM/AVG/COUNT
    * to chunk level)", README.md:298): write the z6 grid, then answer
    * SUM/AVG/COUNT purely from the `.zstats` sum partials — the plan
    * is a metadata-only ZarrAggScan, zero chunk IO (ZarrSumAggSpec
    * asserts the plan shape). Oracle = the same aggregate over the
    * reconstructed grid. */
  def z13_zarr_sum_meta(s: SparkSession, dir: String): DataFrame = {
    val li = graft.operators.Tables.load(s, dir, "lineitem")
    val grid = li.select(
        col("l_linenumber").cast("long").as("ln"),
        (col("l_orderkey") % 4).cast("long").as("k"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("ln", "k").agg(sum(col("qty")).as("sum_qty"))
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_z13_${math.abs(dir.hashCode)}.zarr"
    grid.write.format("zarr")
      .option("coords", "ln,k").option("chunkOuter", "2")
      .mode("overwrite").save(out)
    s.read.format("zarr").load(out)
      .agg(sum("sum_qty").as("total_qty"), avg("sum_qty").as("mean_qty"),
        count(lit(1)).as("n_cells"))
  }

  private val z13Sql = """
    WITH agg AS (
      SELECT CAST(l_linenumber AS BIGINT) AS ln,
             CAST(l_orderkey % 4 AS BIGINT) AS k,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY 1, 2),
    lns AS (SELECT DISTINCT ln FROM agg),
    ks AS (SELECT DISTINCT k FROM agg),
    grid AS (
      SELECT l.ln, kk.k, COALESCE(a.sum_qty, 0) AS sum_qty
      FROM lns l CROSS JOIN ks kk
      LEFT JOIN agg a ON a.ln = l.ln AND a.k = kk.k)
    SELECT CAST(SUM(sum_qty) AS BIGINT) AS total_qty,
      CAST(CAST(SUM(sum_qty) AS STRING) AS DOUBLE) / COUNT(*) AS mean_qty,
      CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM grid"""

  /** Union-wide GROUPED metadata aggregation in the graded gate: the
    * z6 grid split into two stores along the outer dimension with
    * chunkOuter=1 (group-aligned chunks), then
    * `GROUP BY ln → COUNT/SUM/MIN/MAX` over `load(a, b)` — answered
    * by merging the members' sidecar group answers, zero chunk IO
    * (ZarrUnionSpec asserts the plan shape). Oracle = the same
    * aggregation over the reconstructed grid. */
  def z14_zarr_union_meta(s: SparkSession, dir: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_z14_${math.abs(dir.hashCode)}"
    buildOnce(base) {
      val li = graft.operators.Tables.load(s, dir, "lineitem")
      val grid = li.select(
          col("l_linenumber").cast("long").as("ln"),
          (col("l_orderkey") % 4).cast("long").as("k"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy("ln", "k").agg(sum(col("qty")).as("sum_qty"))
        .persist()
      try {
        grid.filter(col("ln") <= 4).write.format("zarr")
          .option("coords", "ln,k").option("chunkOuter", "1")
          .mode("overwrite").save(s"$base.a.zarr")
        grid.filter(col("ln") > 4).write.format("zarr")
          .option("coords", "ln,k").option("chunkOuter", "1")
          .mode("overwrite").save(s"$base.b.zarr")
      } finally grid.unpersist()
    }
    s.read.format("zarr").load(s"$base.a.zarr", s"$base.b.zarr")
      .groupBy("ln")
      .agg(count(lit(1)).as("n_cells"), sum("sum_qty").as("total_qty"),
        min("k").as("min_k"), max("k").as("max_k"))
  }

  private val z14Sql = """
    WITH agg AS (
      SELECT CAST(l_linenumber AS BIGINT) AS ln,
             CAST(l_orderkey % 4 AS BIGINT) AS k,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY 1, 2),
    lns AS (SELECT DISTINCT ln FROM agg),
    ks AS (SELECT DISTINCT k FROM agg),
    grid AS (
      SELECT l.ln, kk.k, COALESCE(a.sum_qty, 0) AS sum_qty
      FROM lns l CROSS JOIN ks kk
      LEFT JOIN agg a ON a.ln = l.ln AND a.k = kk.k)
    SELECT ln, CAST(COUNT(*) AS BIGINT) AS n_cells,
      CAST(SUM(sum_qty) AS BIGINT) AS total_qty,
      CAST(MIN(k) AS BIGINT) AS min_k, CAST(MAX(k) AS BIGINT) AS max_k
    FROM grid GROUP BY ln"""

  /** Multi-store VIRTUAL CONCATENATION inside the graded gate (the
    * MultiZarrToZarr shape): the z6-style quantity grid is written as
    * TWO stores split along `ln` (store A chunk-aligned, store B the
    * ragged tail), combined along `ln` into one parquet-refs store by
    * [[KerchunkParquetRefs.combineStores]] — chunk refs stitched back
    * into the sources, the `ln` coordinate materialized inline,
    * `.zstats` merged — and read back whole. Oracle = the same grid
    * from SQL (both splits filled over the GLOBAL k domain so the two
    * stores carry identical k coordinates, unioned) — the combine
    * machinery must be invisible to the query. */
  def z17_zarr_combine(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val li = graft.operators.Tables.load(s, dir, "lineitem")
    // `agg` feeds FIVE plan branches (ks + per split: distinct ln +
    // the left join's probe side) — persist the grid-sized aggregate
    // so the lineitem scan+agg runs once, not five times (the z11
    // posture; was the single most re-scanned input in the suite).
    val agg = li.select(
        col("l_linenumber").cast("long").as("ln"),
        (col("l_orderkey") % 4).cast("long").as("k"),
        col("l_quantity").cast("long").as("qty"))
      .groupBy("ln", "k").agg(sum(col("qty")).as("sum_qty"))
      .persist()
    val ks = agg.select("k").distinct()
    def filled(split: DataFrame): DataFrame =
      split.select("ln").distinct().crossJoin(ks)
        .join(split, Seq("ln", "k"), "left")
        .select(col("ln"), col("k"),
          coalesce(col("sum_qty"), lit(0L)).as("sum_qty"))
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_z17_${math.abs(dir.hashCode)}_$runSuffix"
    val (pa, pb) = (s"${base}_a.zarr", s"${base}_b.zarr")
    try Seq((pa, agg.filter(col("ln") <= 4)), (pb, agg.filter(col("ln") >= 5)))
      .foreach { case (p, split) =>
        filled(split).write.format("zarr")
          .option("coords", "ln,k").option("chunkOuter", "2")
          .option("compressor", "zstd").mode("overwrite").save(p)
      }
    finally agg.unpersist()
    val out = Paths.get(s"${base}_combined.parq")
    if (Files.exists(out)) {
      val walk = Files.walk(out)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }
    KerchunkParquetRefs.combineStores(Seq(pa, pb), "ln", out.toString)
    s.read.format("zarr").load(out.toString).select("ln", "k", "sum_qty")
  }

  private val z17Sql = """
    WITH agg AS (
      SELECT CAST(l_linenumber AS BIGINT) AS ln,
             CAST(l_orderkey % 4 AS BIGINT) AS k,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY 1, 2),
    ks AS (SELECT DISTINCT k FROM agg),
    fa AS (
      SELECT l.ln, kk.k, CAST(COALESCE(a.sum_qty, 0) AS BIGINT) AS sum_qty
      FROM (SELECT DISTINCT ln FROM agg WHERE ln <= 4) l
      CROSS JOIN ks kk
      LEFT JOIN agg a ON a.ln = l.ln AND a.k = kk.k),
    fb AS (
      SELECT l.ln, kk.k, CAST(COALESCE(a.sum_qty, 0) AS BIGINT) AS sum_qty
      FROM (SELECT DISTINCT ln FROM agg WHERE ln >= 5) l
      CROSS JOIN ks kk
      LEFT JOIN agg a ON a.ln = l.ln AND a.k = kk.k)
    SELECT * FROM fa UNION ALL SELECT * FROM fb"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "z1_zarr_group_agg" -> (z1_zarr_group_agg _),
    "z2_zarr_filter_slice" -> (z2_zarr_filter_slice _),
    "z3_zarr_stats_agg" -> (z3_zarr_stats_agg _),
    "z4_zarr_topk" -> (z4_zarr_topk _),
    "z5_zarr_range" -> (z5_zarr_range _),
    "z6_zarr_roundtrip" -> (z6_zarr_roundtrip _),
    "z7_zarr_kerchunk" -> (z7_zarr_kerchunk _),
    "z8_zarr_append" -> (z8_zarr_append _),
    "z9_zarr_stream" -> (z9_zarr_stream _),
    "z10_zarr_group_meta" -> (z10_zarr_group_meta _),
    "z11_zarr_union" -> (z11_zarr_union _),
    "z12_zarr_stream_sink" -> (z12_zarr_stream_sink _),
    "z13_zarr_sum_meta" -> (z13_zarr_sum_meta _),
    "z14_zarr_union_meta" -> (z14_zarr_union_meta _),
    "z15_zarr_kerchunk_parquet" -> (z15_zarr_kerchunk_parquet _),
    "z16_zarr_store_refs" -> (z16_zarr_store_refs _),
    "z17_zarr_combine" -> (z17_zarr_combine _))

  val oracle: Map[String, String] = Map(
    "z1_zarr_group_agg" -> z1Sql,
    "z2_zarr_filter_slice" -> z2Sql,
    "z3_zarr_stats_agg" -> z3Sql,
    "z4_zarr_topk" -> z4Sql,
    "z5_zarr_range" -> z5Sql,
    "z6_zarr_roundtrip" -> z6Sql,
    "z7_zarr_kerchunk" -> z7Sql,
    "z8_zarr_append" -> z6Sql, // append ≡ one-shot write of the full grid
    "z9_zarr_stream" -> z6Sql, // micro-batch union ≡ one-shot read of the full grid
    "z10_zarr_group_meta" -> z10Sql,
    "z11_zarr_union" -> z11Sql,
    "z12_zarr_stream_sink" -> z6Sql, // streamed ingest ≡ one-shot write
    "z13_zarr_sum_meta" -> z13Sql,
    "z14_zarr_union_meta" -> z14Sql,
    "z15_zarr_kerchunk_parquet" -> z7Sql, // same refs set as z7; format invisible
    "z16_zarr_store_refs" -> z7Sql, // refs GENERATED from the store; producer invisible
    "z17_zarr_combine" -> z17Sql)
}
