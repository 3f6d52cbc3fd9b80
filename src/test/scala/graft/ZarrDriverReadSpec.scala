package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.JobCount
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.ZarrDriverReadExec

/** A Zarr scan that plans at most one partition is read on the driver
  * when its rows are collected: every `grid_slice` shape (equality
  * slice, point, a box fold inside one chunk, LIMIT, grouped and
  * ungrouped metadata answers) and an empty range run no Spark job,
  * return the task path's rows and post the task path's scan metrics.
  * Parents that execute the scan as an RDD, unions and key-grouped
  * reads keep their tasks. */
class ZarrDriverReadSpec extends AnyFunSuite {
  import TestSession._
  import ZarrFoldSpec._

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case o => o +: o.children.flatMap(nodes)
  }
  private def plan(df: DataFrame): Seq[SparkPlan] = nodes(df.queryExecution.executedPlan)
  private def driverReads(df: DataFrame) = plan(df).collect { case d: ZarrDriverReadExec => d }

  private def counted[A](f: => A): JobCount.Counted[A] = JobCount(spark.sparkContext)(f)

  private val metricNames = Seq("zarrBytesRead", "zarrChunksDecoded", "zarrRowsOut", "numOutputRows")
  private def scanMetrics(df: DataFrame): Map[String, Long] =
    plan(df).collect { case b: BatchScanExec => b }.flatMap(b =>
      metricNames.flatMap(k => b.metrics.get(k).map(k -> _.value))).toMap

  private def canonRows(attrs: Seq[Attribute], rows: Array[InternalRow]): Seq[String] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(DataTypeUtils.fromAttributes(attrs))
    rows.map(r => toRow(r).asInstanceOf[Row].toSeq.map(canon).mkString("|")).sorted.toSeq
  }

  private def load(path: String): DataFrame = spark.read.format("zarr").load(path)

  /** The `grid_slice` shapes over a grid with coordinates `t` (outer)
    * and `x` (inner), `y` between them on the 3-D grids. */
  private def shapes(d: DataFrame, threeD: Boolean): Seq[(String, DataFrame)] = {
    val (xv, xlo, xhi) = if (threeD) (lit(3L), lit(0L), lit(3L)) else (lit(0.5), lit(-1.5), lit(-0.0))
    val point = col("t") === 2L && col("x") === xv && (if (threeD) col("y") === -1.0 else lit(true))
    val box = col("t") === 2L && col("x").between(xlo, xhi) &&
      (if (threeD) col("y").between(-4.0, -1.0) else lit(true))
    val inner = if (threeD) Seq("y") else Nil
    Seq(
      "equality slice" -> d.where(col("t") === 2L && col("x") === xv).select((inner :+ "v").map(col): _*),
      "point" -> d.where(point).select("v", "w"),
      "box fold inside one chunk" -> d.where(box).agg(count(lit(1)), avg("w"), max("v")),
      "LIMIT" -> d.where(col("t") === 2L).select((inner ++ Seq("x", "v")).map(col): _*).limit(3),
      "grouped metadata COUNT" -> d.groupBy("t").count(),
      "ungrouped metadata MIN/MAX/COUNT" -> d.agg(min("x"), max("x"), max("t"), count(lit(1))),
      "empty range" -> d.where(col("t") === 99L).select("x", "v"))
  }

  for ((label, path, threeD) <- Seq(("v2", () => v2, true), ("v3 sharded", () => v3, true),
      ("edge grid", () => edge, false))) {
    test(s"$label: every grid_slice shape reads on the driver with the task path's rows and metrics") {
      def shape(i: Int): (String, DataFrame) = shapes(load(path()), threeD)(i)
      for (i <- shapes(load(path()), threeD).indices) {
        val (what, driven) = shape(i)
        assert(driverReads(driven).length == 1, s"$what: ${driven.queryExecution.executedPlan}")
        val collected = counted(rowsOf(driven))
        assert(collected.jobs == 0 && collected.tasks == 0, s"$what: ${collected.jobs} jobs")
        // the same plan's task path, from its root
        val (_, whole) = shape(i)
        val qe = whole.queryExecution
        assert(collected.value == canonRows(qe.executedPlan.output, qe.toRdd.map(_.copy()).collect()), what)
        // the scan's own task path: the wrapped plan, run as an RDD
        val (_, tasked) = shape(i)
        val node = driverReads(tasked).head
        val taskRows = node.execute().map(_.copy()).collect()
        assert(scanMetrics(driven) == scanMetrics(tasked), what)
        assert(scanMetrics(driven).keySet.contains("numOutputRows"), what)
        assert(canonRows(node.output, node.executeCollect()) == canonRows(node.output, taskRows), what)
      }
    }
  }

  test("under a join, an ORDER BY and a write the one-partition scan still runs its task") {
    val z = load(v2)
    val l = local(z)
    def slab(d: DataFrame, t: Long) = d.where(col("t") === t)
    def joined(d: DataFrame) = slab(d, 2L).select("x", "y", "v").join(slab(d, 3L).select("x", "y", "w"), Seq("x", "y"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val q = joined(z)
      assert(driverReads(q).length == 2, q.queryExecution.executedPlan)
      val run = counted(rowsOf(q))
      assert(run.tasks >= 2, s"${run.jobs} jobs, ${run.tasks} tasks")
      assert(run.value == rowsOf(joined(l)))
    } finally spark.conf.set(key, prev)

    val ordered = slab(z, 2L).select("x", "y", "v").orderBy(desc("v"), asc("x"), asc("y"))
    assert(driverReads(ordered).length == 1, ordered.queryExecution.executedPlan)
    val sorted = counted(ordered.collect().map(_.toSeq.map(canon)).toSeq)
    assert(sorted.jobs >= 1 && sorted.tasks >= 1, s"${sorted.jobs} jobs")
    assert(sorted.value == slab(l, 2L).select("x", "y", "v").orderBy(desc("v"), asc("x"), asc("y"))
      .collect().map(_.toSeq.map(canon)).toSeq)

    val out = Files.createTempDirectory("zarr_driver_write").resolve("p").toString
    val written = counted(slab(z, 2L).select("x", "y", "v").write.parquet(out))
    assert(written.jobs >= 1 && written.tasks >= 1, s"${written.jobs} jobs")
    assert(rowsOf(spark.read.parquet(out)) == rowsOf(slab(l, 2L).select("x", "y", "v")))
  }

  test("a 2-member union and a partitionByOuter read keep their task") {
    val union = spark.read.format("zarr").load(v2, v3).agg(count(lit(1)), max("t"))
    assert(plan(union).collect { case b: BatchScanExec => b.inputPartitions.length }.sum == 1)
    val u = counted(rowsOf(union))
    assert(driverReads(union).isEmpty && u.jobs == 1, union.queryExecution.executedPlan)
    assert(u.value == Seq(s"${2 * 6 * 7 * 9}|5"))

    val keyed = spark.read.format("zarr").option("partitionByOuter", "true").load(v2)
      .where(col("t") === 2L).select("t", "x", "v")
    assert(plan(keyed).collect { case b: BatchScanExec => b.inputPartitions.length }.sum == 1)
    val k = counted(rowsOf(keyed))
    assert(driverReads(keyed).isEmpty && k.jobs == 1, keyed.queryExecution.executedPlan)
    assert(k.value == rowsOf(local(load(v2)).where(col("t") === 2L).select("t", "x", "v")))
  }

  test("a corrupt chunk in a one-partition read fails on the driver and names the chunk") {
    import spark.implicits._
    val store = Files.createTempDirectory("zarr_driver_corrupt").resolve("s.zarr").toString
    (0 until 4).flatMap(t => (0 until 3).map(x => (t.toLong, x.toLong, t * 3.0 + x))).toDF("t", "x", "v")
      .write.format("zarr").option("coords", "t,x").option("chunkOuter", "1").mode("overwrite").save(store)
    Files.write(Paths.get(store, "v", "1.0"), Array[Byte](1, 2, 3))
    val df = load(store).where(col("t") === 1L).select("x", "v")
    assert(driverReads(df).length == 1, df.queryExecution.executedPlan)
    val run = counted(Try(df.collect()))
    assert(run.jobs == 0, s"${run.jobs} jobs")
    val msg = run.value.failed.get.getMessage
    assert(msg.contains("corrupt or unreadable chunk 'v/1.0'"), msg)
  }

  test("EXPLAIN shows the driver read with no missing input") {
    // a post-scan filter on a column the projection drops
    val df = load(v2).where(col("t") === 2L && col("k") % 2 === 0).select("x", "w")
    assert(rowsOf(df) == rowsOf(local(load(v2)).where(col("t") === 2L && col("k") % 2 === 0).select("x", "w")))
    for (explain <- Seq(df.queryExecution.executedPlan.toString,
        df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))) {
      assert(explain.contains("ZarrDriverRead"), explain)
      assert("(^|[\\s+:*-])!\\w".r.findFirstIn(explain).isEmpty, explain)
    }
  }
}
