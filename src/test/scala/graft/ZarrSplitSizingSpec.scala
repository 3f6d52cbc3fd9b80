package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.JobCount
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.{ZarrMicroBatchStream, ZarrOffset, ZarrScan}

/** A Zarr scan sizes its partitions as Spark sizes file splits
  * (`FilePartition.maxSplitBytes`): the bytes the reader reads, spread
  * over the session's leaf-node parallelism, between
  * `spark.sql.files.openCostInBytes` and
  * `spark.sql.files.maxPartitionBytes` per partition. Each test sets
  * the parallelism on the shared session and restores it. */
class ZarrSplitSizingSpec extends AnyFunSuite {
  import TestSession._
  import ZarrFoldSpec.{local, rowsOf}

  /** 64 one-step slabs of 64 × 64 cells: a fold over `v` (<f4) reads
    * 1 MiB. Values are multiples of 1/4, so float sums are exact in
    * any order. */
  private val (nt, ny, nx) = (64, 64, 64)

  private def write(rows: Int => Row, n: Long, coords: String, opts: (String, String)*): String = {
    val schema = StructType(Seq(
      StructField("t", LongType, nullable = false), StructField("y", LongType, nullable = false),
      StructField("x", LongType, nullable = false), StructField("v", FloatType)))
    val out = Files.createTempDirectory("zarr_split").resolve("g.zarr").toString
    spark.createDataFrame(spark.sparkContext.parallelize((0 until n.toInt).map(rows), 4), schema)
      .write.format("zarr").option("coords", coords).options(opts.toMap).mode("overwrite").save(out)
    out
  }

  private def cell(ny: Int, nx: Int)(id: Int): Row =
    Row((id / (ny * nx)).toLong, (id / nx % ny).toLong, (id % nx).toLong, ((id * 37) % 101 - 50) * 0.25f)

  private lazy val store = write(cell(ny, nx), nt.toLong * ny * nx, "t,y,x", "chunkOuter" -> "1")

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
  private def cores(n: Int) = "spark.sql.leafNodeDefaultParallelism" -> n.toString
  private val openCost = "spark.sql.files.openCostInBytes"
  private val maxBytes = "spark.sql.files.maxPartitionBytes"

  private def load(opts: (String, String)*): DataFrame =
    spark.read.format("zarr").options(opts.toMap).load(store)

  /** A folded scan over every slab. */
  private def folded(d: DataFrame): DataFrame = d.where(col("v") > -5.0f).agg(count(lit(1)), sum("v"), max("v"))

  private def partitions(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b.scan }
      .map(_.asInstanceOf[ZarrScan].planInputPartitions().length).sum

  private def jobs(df: DataFrame): Int = JobCount(spark.sparkContext)(df.collect()).jobs

  test("one core: a multi-slab folded scan plans one partition and runs no Spark job") {
    withConf(cores(1)) {
      assert(partitions(folded(load())) == 1)
      assert(jobs(folded(load())) == 0)
      // a plain scan of the same bytes is one partition too
      assert(partitions(load().select("v")) == 1)
    }
  }

  test("eight cores: eight partitions once a core's share passes the open cost") {
    // 1 MiB over 8 cores is 128 KiB a core, under the 4 MB default open
    // cost: one partition, as Spark plans one 1 MiB file
    withConf(cores(8)) {
      assert(partitions(folded(load())) == 1)
    }
    withConf(cores(8), openCost -> "65536") {
      assert(partitions(folded(load())) >= 8)
      assert(jobs(folded(load())) == 1)
    }
  }

  test("a lower spark.sql.files.maxPartitionBytes splits further") {
    withConf(cores(1), maxBytes -> "262144") {
      assert(partitions(folded(load())) == 4)
    }
    withConf(cores(1), maxBytes -> "131072") {
      assert(partitions(folded(load())) == 8)
    }
  }

  test("explicit minRowsPerPartition and maxRowsPerPartition win at any core count") {
    for (conf <- Seq(Seq(cores(1)), Seq(cores(8), openCost -> "65536"))) withConf(conf: _*) {
      // one partition per one-step chunk
      assert(partitions(folded(load("minRowsPerPartition" -> "1"))) == nt, conf)
      // two 4,096-row steps per partition
      assert(partitions(folded(load("maxRowsPerPartition" -> "8192"))) == nt / 2, conf)
    }
  }

  test("answers equal the collected rows at every sizing") {
    val truth = local(load())
    def shapes(d: DataFrame): Seq[(String, DataFrame)] = Seq(
      "fold" -> folded(d),
      "grouped fold" -> d.where(col("v") < 3.0f).groupBy("t").agg(count(lit(1)), sum("v"), min("v")),
      "filter" -> d.where(col("y") === 5L && col("v") >= 0.0f).select("t", "x", "v"),
      "top-n" -> d.orderBy(col("v").desc, col("t"), col("y"), col("x")).limit(7))
    val sizings: Seq[(Seq[(String, String)], Seq[(String, String)])] = Seq(
      (Seq(cores(1)), Nil),
      (Seq(cores(8), openCost -> "65536"), Nil),
      (Seq(cores(1), maxBytes -> "131072"), Nil),
      (Seq(cores(3), openCost -> "1024"), Nil),
      (Seq(cores(1)), Seq("minRowsPerPartition" -> "1", "maxRowsPerPartition" -> "1000")))
    for ((conf, opts) <- sizings) withConf(conf: _*) {
      shapes(load(opts: _*)).zip(shapes(truth)).foreach { case ((what, z), (_, l)) =>
        assert(rowsOf(z) == rowsOf(l), s"$what at $conf $opts")
      }
    }
  }

  test("a micro-batch keeps its row-based split") {
    val stream = new ZarrMicroBatchStream(store, load().schema, Map.empty,
      ZarrMicroBatchStream.minRowsPerPartition, fillAsNull = false, chunkCacheEntries = 0,
      prefetch = false, startFromLatest = false)
    // one-step slabs of 4,096 rows merged to 65,536 at any core count
    withConf(cores(1)) {
      assert(stream.planInputPartitions(ZarrOffset(0), ZarrOffset(nt)).length == 4)
    }
  }

  /** v3 store of 12 steps × 32 × 32: three shards of 4 steps, one-step
    * inner chunks, zstd. */
  private lazy val sharded = write(cell(32, 32), 12L * 32 * 32, "t,y,x",
    "zarrVersion" -> "3", "chunkOuter" -> "4", "shardInner" -> "1", "shardCompress" -> "zstd")

  private def shardBytes: Long = {
    val dir = java.nio.file.Paths.get(sharded, "v")
    Files.walk(dir).iterator().asScala.filter(p => Files.isRegularFile(p) &&
      dir.relativize(p).toString.startsWith("c")).map(Files.size).sum
  }

  private def scanBytesRead(df: DataFrame): Long = {
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case b: BatchScanExec => Seq(b)
      case o => o.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan).flatMap(_.metrics.get("zarrBytesRead")).map(_.value).sum
  }

  test("default splits of a v3 store end on shard boundaries: each shard is fetched once") {
    def read(opts: (String, String)*): (Int, Long, Long) = {
      val q = folded(spark.read.format("zarr").options(opts.toMap).load(sharded))
      val n = q.collect().head.getLong(0)
      (partitions(q), scanBytesRead(q), n)
    }
    val want = (0 until 12 * 32 * 32).count(id => ((id * 37) % 101 - 50) * 0.25f > -5.0f).toLong
    // 48 KiB of v: 1.5 shards a core at parallelism 2, one at 3
    for (p <- Seq(2, 3)) withConf(cores(p), openCost -> "1024") {
      val (parts, bytes, n) = read()
      assert(parts == 3, s"parallelism $p")
      assert(bytes == shardBytes, s"parallelism $p: read $bytes of $shardBytes shard bytes")
      assert(n == want)
      // an explicit one-step cap still cuts each shard into four reads
      val (cutParts, cutBytes, cutN) = read("maxRowsPerPartition" -> "1024")
      assert(cutParts == 12 && cutBytes == 4 * shardBytes && cutN == want, s"parallelism $p")
    }
  }

  /** 8 one-step slabs of 64 × 64 cells whose values lie in
    * [1000·t, 1000·t + 97): each slab's `.zstats` range is its own. */
  private lazy val stepped = write(id => Row((id / 4096).toLong, (id / 64 % 64).toLong, (id % 64).toLong,
    (id / 4096 * 1000 + id % 97).toFloat), 8L * 4096, "t,y,x", "chunkOuter" -> "1")

  test(".zstats prune slabs before they merge: a selective default scan reads one slab at any core count") {
    val slab7 = Files.list(java.nio.file.Paths.get(stepped, "v")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("7.")).map(Files.size).sum
    def read(q: DataFrame): (Int, Long, Seq[Row]) = {
      val rows = q.collect().toSeq
      (partitions(q), scanBytesRead(q), rows)
    }
    val df = spark.read.format("zarr").load(stepped)
    for (conf <- Seq(Seq(cores(1)), Seq(cores(8)))) withConf(conf: _*) {
      val (parts, bytes, rows) = read(df.where(col("v") >= 7000.0f).agg(count(lit(1)), min("t")))
      assert(parts == 1 && bytes == slab7, s"$conf: $parts partitions, $bytes of $slab7 bytes")
      assert(rows == Seq(Row(4096L, 7L)), conf)
      val (topParts, topBytes, top) = read(df.orderBy(col("v").desc).limit(3).select("t", "v"))
      assert(topParts == 1 && topBytes == slab7, s"$conf: $topParts partitions, $topBytes of $slab7 bytes")
      assert(top == Seq(Row(7L, 7096.0f), Row(7L, 7096.0f), Row(7L, 7096.0f)), conf)
    }
    // the survivor's 16 KiB over eight cores is a 2 KiB split, but a
    // split derived from bytes never cuts a chunk: slab 7's one
    // 16,384-byte chunk is one partition that reads it once (cut at
    // 2 KiB, eight partitions each read the whole chunk: 131,072 bytes)
    withConf(cores(8), openCost -> "1024") {
      val (parts, bytes, rows) = read(df.where(col("v") >= 7000.0f).select("v"))
      assert(slab7 == 16384)
      assert(parts == 1 && bytes == 16384, s"$parts partitions, $bytes bytes")
      assert(rows.length == 4096)
    }
  }

  /** The stepped store with each slab in eight chunks of 8 × 64 cells. */
  private lazy val steppedBands = write(id => Row((id / 4096).toLong, (id / 64 % 64).toLong, (id % 64).toLong,
    (id / 4096 * 1000 + id % 97).toFloat), 8L * 4096, "t,y,x", "chunkShape" -> "1,8,64")

  test("pruned slabs count no bytes toward the split, and a derived split ends on chunk boundaries") {
    val slab7 = Files.list(java.nio.file.Paths.get(steppedBands, "v")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("7.")).map(Files.size).toSeq
    assert(slab7.length == 8)
    val df = spark.read.format("zarr").load(steppedBands)
    val q = df.where(col("v") >= 7000.0f).select("v")
    // the survivor's 16 KiB over eight cores: eight 2 KiB partitions of
    // one chunk each (the whole store's 128 KiB would have made one
    // 16 KiB split), together reading each chunk once
    withConf(cores(8), openCost -> "1024") {
      val rows = q.collect()
      assert(partitions(q) == 8)
      assert(scanBytesRead(q) == slab7.sum)
      assert(rows.length == 4096)
    }
    // an explicit cap of 256 rows cuts each chunk in two, as asked
    withConf(cores(8), openCost -> "1024") {
      val cut = spark.read.format("zarr").option("maxRowsPerPartition", "256").load(steppedBands)
        .where(col("v") >= 7000.0f).select("v")
      cut.collect()
      assert(partitions(cut) == 16)
      assert(scanBytesRead(cut) == 2 * slab7.sum)
    }
  }

  test("a catalog table's OPTIONS reach its scan, and the query's options win") {
    spark.sql(s"CREATE TABLE split_t USING zarr OPTIONS (path '$store', maxRowsPerPartition '8192')")
    try withConf(cores(1)) {
      // two steps per partition, as through spark.read with the option
      assert(partitions(folded(spark.table("split_t"))) == nt / 2)
      assert(partitions(folded(load("maxRowsPerPartition" -> "8192"))) == nt / 2)
      assert(partitions(folded(spark.read.option("maxRowsPerPartition", "4096").table("split_t"))) == nt)
      assert(rowsOf(folded(spark.table("split_t"))) == rowsOf(folded(load())))
    } finally spark.sql("DROP TABLE IF EXISTS split_t")
  }
}
