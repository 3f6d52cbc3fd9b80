package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.ZarrFoldMergeExec

/** Multi-store UNION read: `load(p1, p2, …)` over same-schema stores —
  * the year-per-store archive layout. Filters prune per member, so a
  * store with no matching coordinates contributes zero partitions. */
class ZarrUnionSpec extends AnyFunSuite {
  import TestSession._

  private def grid(ts: Seq[Long]) = {
    import spark.implicits._
    ts.flatMap(t => (0L until 3L).map(x => (t, x, t * 10.0 + x)))
      .toDF("t", "x", "v")
  }

  /** Scan descriptions anywhere in the plan, unwrapping the AQE
    * wrapper (plans with a shuffle — e.g. the partial-pushdown group
    * merge — hide their scans inside AdaptiveSparkPlanExec). */
  private def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val inner = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case o => o
    }
    (inner match {
      case x: BatchScanExec => Seq(x.scan.description())
      case _ => Nil
    }) ++ inner.children.flatMap(scansOf)
  }

  private def store(ts: Seq[Long]): String = {
    val out = Files.createTempDirectory("zarr_union").resolve("u.zarr").toString
    grid(ts).write.format("zarr")
      .option("coords", "t,x").option("chunkOuter", "2")
      .mode("overwrite").save(out)
    out
  }

  test("per-member IO metrics aggregate in the SQL status store") {
    // The UI/history-server path: SQLAppStatusListener re-instantiates
    // metric classes reflectively (0-arg) to aggregate task values —
    // a ZarrMemberMetric without that constructor stack-traces there
    // and per-member IO never renders, even though task metrics and
    // \analyze still work. Assert the aggregated values actually
    // arrive in spark.sharedState.statusStore.
    val a = store(Seq(0L, 1L, 2L, 3L))
    val b = store(Seq(10L, 11L))
    val df = spark.read.format("zarr").load(a, b)
    // a full row read — NOT an aggregate, which the union answers
    // metadata-only with zero chunk IO and hence zero IO metrics
    df.collect()
    val store0 = spark.sharedState.statusStore
    // the listener processes events asynchronously — poll briefly
    def findExec() = store0.executionsList().reverse.find(
      _.metrics.exists(_.name.matches("zarrBytesRead for union member \\d")))
    var waited = 0
    while (findExec().isEmpty && waited < 10000) { Thread.sleep(200); waited += 200 }
    val withMember = findExec()
    assert(withMember.nonEmpty,
      s"no execution carries a per-member metric; saw ${store0.executionsList().flatMap(_.metrics.map(_.name)).distinct}")
    val e = withMember.get
    def valsNow() = store0.executionMetrics(e.executionId)
    while (valsNow().isEmpty && waited < 15000) { Thread.sleep(200); waited += 200 }
    val vals = valsNow()
    val memberMetrics = e.metrics.filter(_.name.matches("zarr\\w+ for union member \\d"))
    // both members did real IO; aggregation must produce a value for
    // each member metric (the broken path leaves them absent)
    val perMember = memberMetrics.flatMap(m => vals.get(m.accumulatorId).map(m.name -> _))
    assert(perMember.map(_._1).exists(_.endsWith("member 0")) &&
      perMember.map(_._1).exists(_.endsWith("member 1")),
      s"aggregated member metrics missing: $perMember")
    val bytes = perMember.filter(_._1.startsWith("zarrBytesRead"))
    assert(bytes.forall(v => v._2.replaceAll("[^0-9]", "").nonEmpty && v._2 != "0"), bytes)
  }

  test("union read = UNION ALL of the member stores") {
    val a = store(Seq(0L, 1L, 2L, 3L))
    val b = store(Seq(10L, 11L))
    val df = spark.read.format("zarr").load(a, b)
    assert(df.count() == 18)
    assert(df.orderBy("t", "x").collect().map(_.toSeq).toSeq ==
      grid(Seq(0L, 1L, 2L, 3L, 10L, 11L)).orderBy("t", "x").collect().map(_.toSeq).toSeq)
    // aggregate across members
    assert(df.agg(sum("v")).collect().head.getDouble(0) ==
      grid(Seq(0L, 1L, 2L, 3L, 10L, 11L)).agg(sum("v")).collect().head.getDouble(0))
  }

  test("a filter selecting one member plans zero partitions for the other") {
    val a = store(Seq(0L, 1L))
    val b = store(Seq(10L, 11L))
    val df = spark.read.format("zarr").option("minRowsPerPartition", "1")
      .load(a, b).filter(col("t") === 10L)
    assert(df.rdd.getNumPartitions == 1, s"got ${df.rdd.getNumPartitions}")
    assert(df.collect().map(_.getDouble(2)).sorted.toSeq == Seq(100.0, 101.0, 102.0))
  }

  test("SQL DDL: CREATE TABLE ... USING zarr OPTIONS (paths '[...]')") {
    val a = store(Seq(0L, 1L))
    val b = store(Seq(10L, 11L))
    spark.sql(s"""CREATE TABLE zunion USING zarr OPTIONS (paths '["$a","$b"]')""")
    try {
      assert(spark.sql("SELECT COUNT(*) FROM zunion").collect().head.getLong(0) == 12L)
      assert(spark.sql("SELECT SUM(v) FROM zunion WHERE t >= 10").collect()
        .head.getDouble(0) == (100.0 + 101 + 102 + 110 + 111 + 112))
    } finally spark.sql("DROP TABLE zunion")
  }

  test("ungrouped aggregates over the union answer from member metadata") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val a = store(Seq(0L, 1L, 2L, 3L))
    val b = store(Seq(10L, 11L))
    val df = spark.read.format("zarr").load(a, b)
    val agg = df.agg(count(lit(1)).as("n"), min("t").as("mn"), max("t").as("mx"),
      sum("v").as("s"), avg("v").as("m"))
    agg.count()
    val desc = agg.queryExecution.executedPlan.collect {
      case x: BatchScanExec => x.scan.description()
    }.head
    assert(desc.contains("ZarrUnionAggScan") && desc.contains("metadata-only"), desc)
    val r = agg.collect().head
    val expect = grid(Seq(0L, 1L, 2L, 3L, 10L, 11L))
      .agg(count(lit(1)), min("t"), max("t"), sum("v"), avg("v")).collect().head
    assert(r.toSeq == expect.toSeq)
    // COUNT(DISTINCT coord) is not combinable across members → real
    // scan (its plan shuffles, so unwrap the AQE wrapper to find it)
    val cd = df.agg(countDistinct("t").as("d"))
    cd.count()
    val cdDescs = scansOf(cd.queryExecution.executedPlan)
    assert(cdDescs.nonEmpty && cdDescs.forall(!_.contains("AggScan")), cdDescs)
    assert(cd.collect().head.getLong(0) == 6L)
  }

  test("grouped aggregates over the union merge member answers by key") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val a = store(Seq(0L, 1L, 2L, 3L))
    val b = store(Seq(10L, 11L))
    val df = spark.read.format("zarr").load(a, b)
    // group by the INNER dim: every key exists in BOTH members —
    // counts add, bounds combine across members
    val byX = df.groupBy("x").agg(count(lit(1)).as("n"),
      min("t").as("mn"), max("t").as("mx"))
    byX.count()
    val desc = scansOf(byX.queryExecution.executedPlan).head
    assert(desc.contains("ZarrUnionGroupAggScan") && desc.contains("metadata-only"), desc)
    val real = df.filter(col("v").isNotNull).groupBy("x")
      .agg(count(lit(1)).as("n"), min("t").as("mn"), max("t").as("mx"))
    assert(byX.orderBy("x").collect().map(_.toSeq).toSeq ==
      real.orderBy("x").collect().map(_.toSeq).toSeq)
    assert(byX.orderBy("x").collect().head.toSeq == Seq(0L, 6L, 0L, 11L))
    // group by the OUTER dim: keys are disjoint across members
    val byT = df.groupBy("t").agg(count(lit(1)).as("n"))
    byT.count()
    assert(scansOf(byT.queryExecution.executedPlan).head
      .contains("ZarrUnionGroupAggScan"))
    assert(byT.collect().length == 6)
    assert(byT.collect().forall(_.getLong(1) == 3L))
    // grouped SUM merges when the members' chunk grids align with the
    // group dim (chunkOuter=1): per-member sidecar group totals add
    def store1(ts: Seq[Long]): String = {
      val out = Files.createTempDirectory("zarr_union1").resolve("u.zarr").toString
      grid(ts).write.format("zarr")
        .option("coords", "t,x").option("chunkOuter", "1")
        .mode("overwrite").save(out)
      out
    }
    val dfs = spark.read.format("zarr").load(store1(Seq(0L, 1L)), store1(Seq(5L)))
    val gs = dfs.groupBy("t").agg(sum("v").as("s"))
    gs.count()
    assert(scansOf(gs.queryExecution.executedPlan).head
      .contains("ZarrUnionGroupAggScan"))
    assert(gs.orderBy("t").collect().map(_.toSeq).toSeq ==
      Seq(Seq(0L, 3.0), Seq(1L, 33.0), Seq(5L, 153.0)))
  }

  test("grouped union merge is executor-side: partial pushdown + Spark final agg") {
    val a = store(Seq(0L, 1L, 2L, 3L))
    val b = store(Seq(10L, 11L))
    val df = spark.read.format("zarr").load(a, b)
      .groupBy("x").agg(count(lit(1)).as("n"), min("t").as("mn"))
    val optimized = df.queryExecution.optimizedPlan
    val scans = optimized.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }
    assert(scans.exists(s => s.isInstanceOf[graft.sources.zarr.ZarrAggScan] &&
      s.description().contains("ZarrUnionGroupAggScan")),
      scans.map(_.getClass.getName).mkString(","))
    // PARTIAL pushdown: Spark's own final aggregate stays in the plan
    // ABOVE the scan — the member answers merge by group key in an
    // executor-side shuffle, never in a driver-side fold
    assert(optimized.collect {
      case ag: org.apache.spark.sql.catalyst.plans.logical.Aggregate => ag
    }.nonEmpty, "partial pushdown must leave Spark's final merge aggregate in the plan")
    // the scan itself emits one answer row per member × group (keys
    // repeat across members); both members contribute partitions
    val unionScan = scans.collectFirst {
      case s: graft.sources.zarr.ZarrAggScan if s.description().contains("ZarrUnionGroupAggScan") => s }.get
    assert(unionScan.toBatch.planInputPartitions().length >= 2)
    val rows = df.orderBy("x").collect()
    assert(rows.map(_.toSeq).toSeq == Seq(
      Seq(0L, 6L, 0L), Seq(1L, 6L, 0L), Seq(2L, 6L, 0L)))
  }

  /** Every node of the executed plan, through AQE's wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case o => o +: o.children.flatMap(nodes)
  }

  private def descOf(df: DataFrame): String = scansOf(df.queryExecution.executedPlan).mkString(" ; ")

  /** Rows as sorted strings: equal results in any order. */
  private def rows(df: DataFrame): Seq[String] =
    df.select("t", "x", "v").collect().map(_.mkString("|")).sorted.toSeq

  /** A v2 store written byte by byte: coordinate t holds `ts` in the
    * given, possibly unsorted, order; x = 0..2; v = t * 10 + x. */
  private def rawStore(ts: Seq[Long]): String = {
    val root = Files.createTempDirectory("zarr_union_raw")
    def write(rel: String, b: Array[Byte]): Unit = {
      val p = root.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, b)
    }
    def meta(shape: Seq[Int], dtype: String) =
      s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],"chunks":[${shape.mkString(",")}],
          "dtype":"$dtype","fill_value":0,"order":"C","filters":null,
          "dimension_separator":".","compressor":null}""".getBytes
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    write(".zgroup", """{"zarr_format":2}""".getBytes)
    write("t/.zarray", meta(Seq(ts.length), "<i8"))
    write("t/0", { val b = le(8 * ts.length); ts.foreach(b.putLong); b.array() })
    write("t/.zattrs", """{"_ARRAY_DIMENSIONS":["t"]}""".getBytes)
    write("x/.zarray", meta(Seq(3), "<i8"))
    write("x/0", { val b = le(24); (0L until 3L).foreach(b.putLong); b.array() })
    write("x/.zattrs", """{"_ARRAY_DIMENSIONS":["x"]}""".getBytes)
    write("v/.zarray", meta(Seq(ts.length, 3), "<f8"))
    write("v/0.0", { val b = le(24 * ts.length); for (t <- ts; x <- 0 until 3) b.putDouble(t * 10.0 + x); b.array() })
    write("v/.zattrs", """{"_ARRAY_DIMENSIONS":["t","x"]}""".getBytes)
    root.toString
  }

  private val (ta, tb) = (Seq(0L, 1L, 2L, 3L), Seq(10L, 11L, 12L))

  test("a filtered union aggregate is answered exactly, folded and merged on the driver") {
    val df = spark.read.format("zarr").load(store(ta), store(tb))
    def q(d: DataFrame) = d.where(col("t") >= 10L && col("v") > 101.5)
      .groupBy("x").agg(count(lit(1)).as("n"), sum("v").as("s"), max("v").as("m"))
    val got = q(df)
    val desc = descOf(got)
    val members = desc.stripPrefix("ZarrUnionScan(").split(" UNION ")
    assert(desc.startsWith("ZarrUnionScan(") && members.length == 2, desc)
    assert(members.forall(m => m.contains("partialAgg=") && m.contains("postScan=[]") &&
      !m.contains("exactFilters=[]")), desc)
    val plan = nodes(got.queryExecution.executedPlan)
    assert(plan.exists(_.isInstanceOf[ZarrFoldMergeExec]) && !plan.exists(_.isInstanceOf[Exchange]),
      got.queryExecution.executedPlan)
    val want = q(grid(ta ++ tb)).collect().map(_.mkString("|")).sorted.toSeq
    assert(got.collect().map(_.mkString("|")).sorted.toSeq == want)
  }

  test("ORDER BY a variable LIMIT n over a union folds a top-N in every partition") {
    val df = spark.read.format("zarr").load(store(ta), store(tb))
    val top = df.orderBy(desc("v")).limit(4)
    assert(descOf(top).contains("topN=v DESC 4"), descOf(top))
    assert(top.collect().toSeq == grid(ta ++ tb).orderBy(desc("v")).limit(4).collect().toSeq)
  }

  test("ORDER BY the outer coordinate LIMIT n and OFFSET n over a union return the union's rows") {
    val df = spark.read.format("zarr").load(store(ta), store(tb))
    val all = grid(ta ++ tb)
    // the latest time step's three rows: a tie-free answer
    assert(rows(df.orderBy(desc("t")).limit(3)) == rows(all.orderBy(desc("t")).limit(3)))
    assert(df.orderBy(desc("t"), desc("x")).limit(4).collect().toSeq ==
      all.orderBy(desc("t"), desc("x")).limit(4).collect().toSeq)
    assert(df.orderBy("t", "x").limit(4).collect().toSeq == all.orderBy("t", "x").limit(4).collect().toSeq)
    // member after member, each in row-major order
    assert(df.offset(4).collect().toSeq == all.offset(4).collect().toSeq)
  }

  test("a member whose coordinate matches are not contiguous keeps the filter post-scan for the whole read") {
    val df = spark.read.format("zarr").load(rawStore(Seq(0L, 1L, 2L, 3L)), rawStore(Seq(11L, 10L, 12L)))
    val q = df.where(col("t") >= 11L)
    val desc = descOf(q)
    val members = desc.stripPrefix("ZarrUnionScan(").split(" UNION ")
    assert(members.length == 2 && members.forall(m =>
      m.contains("exactFilters=[]") && m.contains("postScan=[GreaterThanOrEqual(t,11)]")), desc)
    assert(nodes(q.queryExecution.executedPlan).exists(_.isInstanceOf[FilterExec]), q.queryExecution.executedPlan)
    assert(rows(q) == rows(grid(Seq(11L, 12L))))
    assert(q.agg(sum("v")).collect().head.getDouble(0) == grid(Seq(11L, 12L)).agg(sum("v")).collect().head.getDouble(0))
  }

  test("schema mismatch and missing member refuse loudly") {
    val a = store(Seq(0L, 1L))
    val odd = Files.createTempDirectory("zarr_union").resolve("odd.zarr").toString
    import spark.implicits._
    Seq((0L, 0L, 1.0, 9L)).toDF("t", "x", "v", "extra")
      .write.format("zarr").option("coords", "t,x").mode("overwrite").save(odd)
    intercept[Exception](spark.read.format("zarr").load(a, odd).collect())
    intercept[Exception](
      spark.read.format("zarr").load(a, "/nonexistent/nope.zarr").collect())
  }
}
