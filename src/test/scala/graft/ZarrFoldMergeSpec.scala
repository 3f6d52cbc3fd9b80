package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.JobCount
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.ZarrFoldMergeExec

/** A folded aggregate runs as one job: the scan's partial rows are
  * merged on the driver by `ZarrFoldMergeExec`, with no Exchange and
  * no HashAggregate. Every fold shape of [[ZarrFoldSpec]] is checked
  * against the same query over the collected rows, also under parent
  * operators that execute the merged rows as an RDD; above the
  * driver-collect bound Spark's own aggregate comes back. */
class ZarrFoldMergeSpec extends AnyFunSuite {
  import TestSession._
  import ZarrFoldSpec._

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case o => o +: o.children.flatMap(nodes)
  }
  private def plan(df: DataFrame): Seq[SparkPlan] = nodes(df.queryExecution.executedPlan)
  private def merges(df: DataFrame) = plan(df).collect { case m: ZarrFoldMergeExec => m }
  private def sparkAggs(df: DataFrame) = plan(df).collect { case h: HashAggregateExec => h }
  private def shuffles(df: DataFrame) = plan(df).collect { case s: ShuffleExchangeExec => s }

  /** Jobs `f` runs, counted by a listener in their own job group. */
  private def jobs(f: => Unit): Int = JobCount(spark.sparkContext)(f).jobs

  /** Input partitions the plan's scans planned. */
  private def partitions(df: DataFrame): Int =
    plan(df).collect { case b: BatchScanExec => b.inputPartitions.length }.sum

  private def withThreshold[A](v: String)(f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, v)
    try f finally spark.conf.set(key, prev)
  }

  /** The aggregate shapes of [[ZarrFoldSpec.shapes]], plus an empty
    * coordinate range, ungrouped and grouped. */
  private def folds(d: DataFrame): Seq[(String, DataFrame)] =
    shapes(d).filter(_._3 != "postScan=[]").map(s => (s._1, s._2)) ++ Seq(
      "empty range" -> d.where(col("t") === 99L).agg(count(lit(1)), sum("v"), max("k")),
      "empty range, grouped" -> d.where(col("t") === 99L).groupBy("x").agg(sum("v")))

  /** Each fold merges on the driver with the collected rows' answer,
    * after one job for a scan of several partitions and none for a scan
    * of at most one, which [[graft.sources.zarr.ZarrDriverRead]] reads
    * on the driver. `plans` checks each shape's partition count. */
  private def checkFolds(z: DataFrame)(plans: (String, Int) => Boolean): Unit =
    for (((what, got), (_, want)) <- folds(z).zip(folds(local(z)))) {
      assert(scanDesc(got).contains("partialAgg="), s"$what: ${scanDesc(got)}")
      val expected = rowsOf(want)
      val parts = partitions(got)
      assert(plans(what, parts), s"$what: $parts partitions")
      assert(jobs(assert(rowsOf(got) == expected, what)) == (if (parts <= 1) 0 else 1), s"$what: $parts partitions")
      assert(merges(got).length == 1, s"$what: ${got.queryExecution.executedPlan}")
      assert(sparkAggs(got).isEmpty && shuffles(got).isEmpty, s"$what: ${got.queryExecution.executedPlan}")
    }

  for ((label, path) <- Seq("v2" -> (() => v2), "v3 sharded" -> (() => v3), "edge grid" -> (() => edge))) {
    test(s"$label: every fold merges on the driver in one job, with the collected rows' answer") {
      // every scan but an empty range's plans two or more partitions
      checkFolds(zarr(path()))((what, n) => if (what.startsWith("empty range")) n <= 1 else n >= 2)
    }

    test(s"$label: every fold over a one-partition scan merges with no job") {
      checkFolds(spark.read.format("zarr").load(path()))((_, n) => n <= 1)
    }
  }

  test("parent operators read the merged rows: count, ORDER BY, a join, LIMIT") {
    val z = zarr(v2)
    val l = local(z)
    def byT(d: DataFrame) = d.where(col("v") > -3.0f).groupBy("t").agg(count(lit(1)).as("n"), avg("v").as("a"))
    def ungrouped(d: DataFrame) = d.agg(sum("w").as("s"), min("v").as("lo"))
    assert(byT(z).count() == byT(l).count())
    assert(ungrouped(z).count() == 1L)
    val ordered = byT(z).orderBy("t")
    assert(merges(ordered).nonEmpty)
    assert(ordered.collect().map(_.toSeq.map(canon)).toSeq == byT(l).orderBy("t").collect().map(_.toSeq.map(canon)).toSeq)
    def joined(d: DataFrame) = byT(d).join(d.groupBy("t").agg(max("w").as("m")), "t")
    assert(merges(joined(z)).length == 2)
    assert(rowsOf(joined(z)) == rowsOf(joined(l)))
    assert(rowsOf(ungrouped(z).crossJoin(byT(z))) == rowsOf(ungrouped(l).crossJoin(byT(l))))
    val first = byT(z).orderBy(desc("t")).limit(1)
    assert(rowsOf(first) == rowsOf(byT(l).orderBy(desc("t")).limit(1)))
    assert(rowsOf(ungrouped(z).limit(1)) == rowsOf(ungrouped(l)))
  }

  test("a broadcast build side takes the merged rows without a second job") {
    val z = zarr(v2)
    def folded(d: DataFrame) = d.where(col("v") > -3.0f).groupBy("t").agg(count(lit(1)).as("n"), max("w").as("m"))
    def joined(d: DataFrame) = d.groupBy("t").agg(sum("k").as("sk")).join(broadcast(folded(d)), "t")
    val q = joined(z)
    assert(merges(q).length == 1, q.queryExecution.executedPlan)
    assert(jobs(q.collect()) == 3, q.queryExecution.executedPlan)
    val unmerged = withThreshold("-1")(rowsOf(joined(z)))
    assert(rowsOf(q) == unmerged)
    assert(unmerged == rowsOf(joined(local(z))))
  }

  test("above the driver-collect bound Spark's aggregate comes back") {
    val z = zarr(v2)
    def q(d: DataFrame) = d.where(col("v") > -3.0f).groupBy("x", "t").agg(count(lit(1)), sum("v"))
    val want = rowsOf(q(local(z)))
    for (bound <- Seq("1", "-1")) withThreshold(bound) {
      val got = q(z)
      assert(scanDesc(got).contains("partialAgg="), scanDesc(got))
      assert(merges(got).isEmpty && sparkAggs(got).nonEmpty, s"$bound: ${got.queryExecution.executedPlan}")
      assert(rowsOf(got) == want, bound)
    }
  }

  test("metrics and EXPLAIN: partial rows merged, merge time, groups and aggregates") {
    val df = zarr(v2).where(col("v") > -3.0f).groupBy("t").agg(count(lit(1)), max("w"))
    df.collect()
    val m = merges(df).head
    val rowsOut = plan(df).collect { case b: BatchScanExec => b.metrics("zarrRowsOut").value }.sum
    assert(m.metrics("partialRows").value == rowsOut && rowsOut > 0)
    assert(m.metrics("mergeTime").value > 0)
    val explain = df.queryExecution.executedPlan.toString
    assert(explain.linesIterator.exists(l =>
      l.contains("ZarrFoldMerge groups=[group_col_0") && l.contains("aggs=[sum(agg_func_0") && l.contains("max(agg_func_1")), explain)
  }
}
