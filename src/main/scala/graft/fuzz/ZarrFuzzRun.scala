package graft.fuzz

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.sources.zarr.ZarrDriverReadExec

/** Zarr-connector differential fuzz dump: run N seeded [[ZarrFuzz]]
  * queries on Spark (zarr grid tables + parquet dimensions), write each
  * result to `<outDir>/<name>` parquet ([[FuzzRunner]]'s layout), so
  * `tools/compare.py <tablesDir> <outDir>` hash-compares against DuckDB
  * unchanged. `<tablesDir>` (= `<outDir>_tables`) is populated with the
  * grids' parquet exports plus links to the sf corpus, so the oracle
  * sees the same relations under the same names.
  *
  * Beyond pass/fail, the runner counts which seeds' physical plans
  * actually exercised each connector pushdown (coordinate ranges, TopN,
  * limit, whole-grid and grouped metadata aggregates, folds in the
  * scan, one-partition reads on the driver) and FAILS if any family
  * went unexercised — a fuzz run that never pushes anything would
  * silently test only the post-scan engine.
  *
  * The parquet write executes the plan as RDDs, so every seed also
  * `collect()`s its query — the path that reads a one-partition scan on
  * the driver ([[graft.sources.zarr.ZarrDriverRead]]) — and fails when
  * those rows differ, as a multiset, from the parquet it just wrote.
  *
  * Usage: graft.fuzz.ZarrFuzzRun <sfDir> <outDir> [nSeeds] [seed0]
  */
object ZarrFuzzRun extends FuzzRunner("zarr-fuzz", ZarrFuzz.grammarVersion, Some("zarr")) {

  /** A scan description naming filters that prune its coordinate
    * ranges or its `.zstats` partitions. */
  private[graft] def rangePruned(desc: String): Boolean =
    desc.contains("pruneFilters=[") && !desc.contains("pruneFilters=[]")

  /** A scan description whose ORDER BY … LIMIT pruned partitions by
    * their `.zstats` min/max. */
  private[graft] def statsTopN(desc: String): Boolean = desc.contains("(.zstats pruned)")

  /** Every node of the plan, descending through AQE and its query stages. */
  private def planNodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case o => o +: o.children.flatMap(planNodes)
  }

  /** All DSv2 scan descriptions in the plan, descending through AQE. */
  private[graft] def scanDescs(plan: SparkPlan): Seq[String] =
    planNodes(plan).collect { case b: BatchScanExec => b.scan.description() }

  /** Rows as a sorted multiset; a float compares by its bits, with
    * −0.0 folded onto 0.0 (Spark's equality). */
  private def rowMultiset(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
      case f: Float => java.lang.Float.floatToIntBits(if (f == 0.0f) 0.0f else f)
      case b: Array[Byte] => b.toSeq
      case v => v
    }.mkString("|")).sorted.toSeq

  protected def lane(spark: SparkSession, sfDir: String, outDir: String, nSeeds: Int): FuzzLane = {
    // oracle relations: grid exports + the sf corpus under one dir
    val tablesDir = s"${outDir}_tables"
    ZarrFuzz.buildFixtures(spark, tablesDir)
    graft.operators.Tables.all.foreach { t =>
      val link = Paths.get(tablesDir, s"$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Paths.get(sfDir, s"$t.parquet").toAbsolutePath)
    }
    graft.operators.Tables.views(spark, sfDir, "nation", "region", "orders")

    val markers = mutable.Map(
      "coord_range" -> 0, "topn" -> 0, "limit" -> 0,
      "agg_meta" -> 0, "group_agg_meta" -> 0,
      // grammar v3: pushdown composition over the sharded-v3 fixture
      // and the multi-store union's executor-merged aggregates
      "shard_range" -> 0, "union_agg" -> 0, "union_group_agg" -> 0,
      // grammar v4: partial aggregates and top-N folded in the scan;
      // union reads that answer filters exactly or fold
      "scan_fold" -> 0, "union_fold" -> 0,
      // seeds whose plan reads a one-partition scan on the driver
      "driver_read" -> 0)
    new FuzzLane {
      def draw(seed: Long): FuzzCase = {
        val name = ZarrFuzz.name(seed)
        val sql = ZarrFuzz.gen(seed)
        FuzzCase(name, sql, sql, () => {
          val df = spark.sql(sql)
          df.write.mode("overwrite").parquet(s"$outDir/$name")
          // the plan as planned, before AQE re-plans it at the collect below
          val plan = df.queryExecution.executedPlan
          if (planNodes(plan).exists(_.isInstanceOf[ZarrDriverReadExec])) markers("driver_read") += 1
          val descs = scanDescs(plan)
          if (descs.exists(rangePruned)) markers("coord_range") += 1
          if (descs.exists(statsTopN)) markers("topn") += 1
          // a partial aggregate or top-N folded inside the scan
          if (descs.exists(d => d.contains(" partialAgg=") || d.contains(" topN="))) markers("scan_fold") += 1
          if (descs.exists(d => d.startsWith("ZarrUnionScan(") && (d.contains(" partialAgg=") ||
              d.contains(" topN=") || "exactFilters=\\[[^\\]]".r.findFirstIn(d).isDefined)))
            markers("union_fold") += 1
          // coordinate-prefix TopN pushes as either limit (ASC) or
          // offset (DESC) — both count as the limit-subset family
          val off = "offset=(\\d+)".r
          if (descs.exists(d => (d.contains("limit=") && !d.contains("limit=-1")) ||
              off.findFirstMatchIn(d).exists(_.group(1) != "0")))
            markers("limit") += 1
          if (descs.exists(_.contains("ZarrGroupAggScan"))) markers("group_agg_meta") += 1
          else if (descs.exists(_.contains("ZarrAggScan"))) markers("agg_meta") += 1
          if (descs.exists(_.contains("ZarrUnionGroupAggScan"))) markers("union_group_agg") += 1
          else if (descs.exists(_.contains("ZarrUnionAggScan"))) markers("union_agg") += 1
          // coordinate pushdown composed over the sharded-v3 read path
          if (sql.contains("grid_e") && descs.exists(rangePruned))
            markers("shard_range") += 1
          val written = rowMultiset(spark.read.parquet(s"$outDir/$name").collect())
          val collected = rowMultiset(df.collect())
          if (collected != written)
            throw new IllegalStateException(s"collect() returned ${collected.length} rows that differ " +
              s"from the ${written.length} rows written to parquet")
        })
      }

      private def stats = markers.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
      override def meta(failed: Int): Seq[(String, String)] = Seq("pushdowns" -> stats)
      override def summary: String = s"pushdown seeds: $stats"
      // every pushdown family must have been exercised by SOME seed —
      // thresholds are deliberately low (shape mix is random) but nonzero
      override def unmet: Seq[String] = markers.filter(_._2 == 0).keys.toSeq.sorted
    }
  }
}
