package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.ZarrScan

/** Statistics-based chunk pruning (reference roadmap): the writer
  * records per-chunk [min,max] in `.zstats` sidecars; data-variable
  * filters then prune whole partitions whose chunks provably fail —
  * while results stay exact (the scan evaluates these comparisons
  * itself, cell by cell, in the partitions it keeps). Fixture: v[time, x] = 100·time + x with one time-chunk
  * per slab ⇒ chunk value ranges are disjoint. */
class ZarrStatsPruneSpec extends AnyFunSuite {
  import TestSession._

  private lazy val store: String = {
    val out = Files.createTempDirectory("zarr_stats").resolve("s.zarr").toString
    val src = spark.range(0, 60).select(
      expr("id div 10").as("time"),
      (col("id") % 10).as("x"),
      expr("(id div 10) * 100 + id % 10").as("v"))
    src.write.format("zarr").option("coords", "time,x")
      .mode("overwrite").save(out)
    out
  }

  private def plannedPartitions(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case s: BatchScanExec => s.scan
    }.head.asInstanceOf[ZarrScan].planInputPartitions().length

  test("writer emits .zstats; var filter prunes partitions; results exact") {
    assert(Files.exists(java.nio.file.Paths.get(store, "v", ".zstats")))
    val df = spark.read.format("zarr")
      .option("minRowsPerPartition", "1").load(store)
    val all = plannedPartitions(df.select(col("time"), col("x"), col("v")))
    assert(all == 6, s"expected 6 slabs, got $all") // one per time step

    // v >= 400 only holds in time ∈ {4, 5} → 2 of 6 partitions planned
    val filtered = df.filter(col("v") >= 400)
    assert(plannedPartitions(filtered) == 2)
    assert(filtered.count() == 20)
    assert(filtered.agg(min("v")).collect().head.getLong(0) == 400L)

    // equality on one value → single partition
    val one = df.filter(col("v") === 305)
    assert(plannedPartitions(one) == 1)
    assert(one.count() == 1)

    // provably-impossible value → zero partitions, empty result
    val none = df.filter(col("v") > 100000)
    assert(plannedPartitions(none) == 0)
    assert(none.count() == 0)
  }

  test("stores without .zstats never prune (external fixtures unaffected)") {
    val v3 = spark.read.format("zarr")
      .load("src/test/resources/zarr/synthetic_v3.zarr")
    val unfiltered = plannedPartitions(v3.select(col("time"), col("temperature")))
    val filtered = plannedPartitions(v3.filter(col("temperature") > 100000))
    assert(filtered == unfiltered) // no stats -> no pruning, full correctness
    assert(v3.filter(col("temperature") > 100000).count() == 0)
  }

  test("ORDER BY data var LIMIT n prunes partitions below the stats threshold") {
    val df = spark.read.format("zarr")
      .option("minRowsPerPartition", "1").load(store)
    // top-5 of v live entirely in the time=5 slab (500..509)
    val top5 = df.orderBy(col("v").desc).limit(5)
    assert(plannedPartitions(top5) == 1, "top-5 should read one slab")
    assert(top5.collect().map(_.getLong(2)).toSeq == Seq(509L, 508L, 507L, 506L, 505L))
    // top-15 needs slabs 5 and 4 (10 cells < 15 → τ = 400)
    assert(plannedPartitions(df.orderBy(col("v").desc).limit(15)) == 2)
    // ascending: bottom-5 live in time=0
    val bot5 = df.orderBy(col("v").asc).limit(5)
    assert(plannedPartitions(bot5) == 1)
    assert(bot5.collect().map(_.getLong(2)).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    // n beyond the guarantee: no pruning, full correctness
    assert(plannedPartitions(df.orderBy(col("v").desc).limit(60)) == 6)
    // a second sort key demotes to the plain scan (only single-key
    // orders are stats-prunable)
    assert(plannedPartitions(df.orderBy(col("v").desc, col("x")).limit(5)) == 6)
  }

  test("TopN ties: identical chunks never prune each other to zero") {
    val out = Files.createTempDirectory("zarr_ties").resolve("t.zarr").toString
    spark.range(0, 60).select(
        expr("id div 10").as("time"), (col("id") % 10).as("x"),
        lit(7L).as("v"))
      .write.format("zarr").option("coords", "time,x")
      .mode("overwrite").save(out)
    val df = spark.read.format("zarr")
      .option("minRowsPerPartition", "1").load(out)
    val top3 = df.orderBy(col("v").desc).limit(3)
    assert(plannedPartitions(top3) == 6) // all tied at τ — none prunable
    assert(top3.collect().map(_.getLong(2)).toSeq == Seq(7L, 7L, 7L))
  }

  test("unstatted stores fold data-var TopN without pruning (full scan plan)") {
    val v3 = spark.read.format("zarr")
      .load("src/test/resources/zarr/synthetic_v3.zarr")
    val top = v3.orderBy(col("temperature").desc).limit(5)
    top.count()
    val desc = top.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.description()
    }.head
    // the top-N still folds in the scan, but nothing is pruned: every
    // partition reads
    assert(desc.contains("topN=temperature DESC 5") && !desc.contains(".zstats pruned"), desc)
    assert(desc.contains("(0.0% pruned)"), desc)
  }
}
