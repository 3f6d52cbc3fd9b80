package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-partitioned execution over the Zarr grid: with
  * `partitionByOuter` each outer index is one partition tagged with
  * its coordinate value (HasPartitionKey), so aggregation by the outer
  * coordinate — the reference's marquee per-time-step analysis — runs
  * with ZERO shuffle. Row-major scan order is likewise declared
  * (SupportsReportOrdering), so sorts the scan already provides are
  * elided. */
class ZarrKeyGroupedSpec extends AnyFunSuite {
  import TestSession._

  private val store = "src/test/resources/zarr/synthetic_v3.zarr"

  private def withBucketing[A](f: => A): A = {
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try f finally spark.conf.set(key, prev)
  }

  private def shuffles(df: DataFrame): Int = {
    df.count() // finalize AQE
    def strip(p: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan =
      p match { case a: AdaptiveSparkPlanExec => a.executedPlan; case other => other }
    strip(df.queryExecution.executedPlan).collect {
      case s: ShuffleExchangeExec => s
    }.size
  }

  test("groupBy(outer coordinate) aggregates with zero shuffle") {
    withBucketing {
      val keyed = spark.read.format("zarr").option("partitionByOuter", "true").load(store)
        .groupBy("time").agg(sum("temperature").as("s"), count(lit(1)).as("n"))
      assert(shuffles(keyed) == 0, keyed.queryExecution.executedPlan.toString.take(2000))
      val plain = spark.read.format("zarr").load(store)
        .groupBy("time").agg(sum("temperature").as("s"), count(lit(1)).as("n"))
      assert(shuffles(plain) > 0) // the default path shuffles; results agree
      assert(keyed.orderBy("time").collect().map(_.toSeq).toSeq ==
        plain.orderBy("time").collect().map(_.toSeq).toSeq)
    }
  }

  test("key-grouped self-join on the outer coordinate skips both shuffles") {
    withBucketing {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        def side = spark.read.format("zarr").option("partitionByOuter", "true").load(store)
          .groupBy("time").agg(sum("temperature").as("s"))
        val j = side.toDF("time", "s1").join(side.toDF("time", "s2"), "time")
        assert(shuffles(j) == 0, j.queryExecution.executedPlan.toString.take(2000))
        assert(j.count() == 7)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("guards: limit/offset or a non-projected outer fall back to slab partitions") {
    withBucketing {
      // limit pushes into the scan → keyed mode off, results exact
      val lim = spark.read.format("zarr").option("partitionByOuter", "true").load(store)
        .limit(25)
      assert(lim.count() == 25)
      // outer coord not projected → plain partitions, grouped agg still right
      val noOuter = spark.read.format("zarr").option("partitionByOuter", "true").load(store)
        .groupBy("lat").agg(count(lit(1)).as("n"))
      assert(noOuter.collect().map(_.getLong(1)).forall(_ == 70))
    }
  }

  test("declared row-major ordering elides the scan-order sort") {
    val df = spark.read.format("zarr").load(store)
      .sortWithinPartitions("time", "lon", "lat")
    df.count()
    val sorts = df.queryExecution.executedPlan.collect { case s: SortExec => s }
    assert(sorts.isEmpty, df.queryExecution.executedPlan.toString.take(1500))
    // a sort the scan does NOT provide stays
    val df2 = spark.read.format("zarr").load(store)
      .sortWithinPartitions(col("temperature"))
    df2.count()
    assert(df2.queryExecution.executedPlan.collect { case s: SortExec => s }.nonEmpty)
  }
}
