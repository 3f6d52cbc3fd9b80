package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.JobCount
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.{ZarrDriverReadExec, ZarrDriverTopNExec}

/** A root ORDER BY … LIMIT n over a one-partition Zarr read is answered
  * on the driver ([[ZarrDriverTopNExec]]): whether or not the scan folds
  * the top-N, with or without a projection between the LIMIT and the
  * sort, it runs no Spark job, returns the rows Spark's
  * `TakeOrderedAndProjectExec` returns over the same child, and posts
  * the scan's metrics. OFFSET, a LIMIT at Spark's top-K fallback
  * threshold, several partitions and unions keep Spark's plan. */
class ZarrDriverTopNSpec extends AnyFunSuite {
  import TestSession._
  import ZarrFoldSpec._

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case o => o +: o.children.flatMap(nodes)
  }
  private def plan(df: DataFrame): Seq[SparkPlan] = nodes(df.queryExecution.executedPlan)
  private def topNs(df: DataFrame) = plan(df).collect { case t: ZarrDriverTopNExec => t }
  private def sparkTopNs(df: DataFrame) = plan(df).collect { case t: TakeOrderedAndProjectExec => t }

  private def counted[A](f: => A): JobCount.Counted[A] = JobCount(spark.sparkContext)(f)

  /** Rows in order: a top-N's order is part of its answer. */
  private def ordered(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.map(canon).mkString("|")).toSeq

  private val metricNames = Seq("zarrBytesRead", "zarrChunksDecoded", "zarrRowsOut", "numOutputRows")
  private def scanMetrics(df: DataFrame): Map[String, Long] =
    plan(df).collect { case b: BatchScanExec => b }.flatMap(b =>
      metricNames.flatMap(k => b.metrics.get(k).map(k -> _.value))).toMap

  /** station (|S4: "alp", "bern", "cgn") × hour (<i8: 0..3); reading
    * <i8 = 100 · station + hour, one chunk per station. */
  private lazy val stations: String = {
    val root = Files.createTempDirectory("zarr_topn_str")
    def write(rel: String, b: Array[Byte]): Unit = {
      val p = root.resolve(rel); Files.createDirectories(p.getParent); Files.write(p, b)
    }
    def meta(shape: Seq[Int], chunks: Seq[Int], dtype: String) =
      s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],"chunks":[${chunks.mkString(",")}],
          "dtype":"$dtype","fill_value":0,"order":"C","filters":null,
          "dimension_separator":".","compressor":null}""".getBytes
    def le(n: Int) = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    write(".zgroup", """{"zarr_format":2}""".getBytes)
    write("station/.zarray", meta(Seq(3), Seq(3), "|S4"))
    write("station/0", Seq("alp", "bern", "cgn").flatMap(s => java.util.Arrays.copyOf(s.getBytes, 4)).toArray)
    write("hour/.zarray", meta(Seq(4), Seq(4), "<i8"))
    write("hour/0", { val b = le(32); (0L until 4L).foreach(b.putLong); b.array() })
    write("reading/.zarray", meta(Seq(3, 4), Seq(1, 4), "<i8"))
    for (s <- 0 until 3) write(s"reading/$s.0", { val b = le(32); (0 until 4).foreach(h => b.putLong(100L * s + h)); b.array() })
    root.toString
  }

  private def load(path: String, opts: (String, String)*): DataFrame =
    spark.read.format("zarr").options(opts.toMap).load(path)

  /** ORDER BY … LIMIT shapes over a grid with coordinates `coords`:
    * (label, query, whether the keys are injective). The single-key
    * shapes are the ones the scan folds; the coordinates break ties. */
  private def shapes(d: DataFrame, coords: Seq[String]): Seq[(String, DataFrame, Boolean)] = {
    val ties: Seq[Column] = coords.map(col)
    Seq(
      ("v DESC", d.orderBy(desc("v")).limit(5), false),
      ("w ASC", d.orderBy(asc("w")).limit(4), false),
      ("v DESC with ties broken", d.orderBy(desc("v") +: ties: _*).limit(6), true),
      ("w ASC, projected past the sort",
        d.orderBy(asc("w") +: ties: _*).select((col("w") * 2).as("w2") +: ties: _*).limit(5), true),
      ("coordinates DESC", d.orderBy(ties.map(_.desc): _*).select("v", coords: _*).limit(7), true))
  }

  private def drivenOnDriver(what: String, q: () => DataFrame): Unit = {
    val driven = q()
    assert(topNs(driven).length == 1, s"$what: ${driven.queryExecution.executedPlan}")
    assert(plan(driven).exists(_.isInstanceOf[ZarrDriverReadExec]), what)
    val run = counted(ordered(driven))
    assert(run.jobs == 0 && run.tasks == 0, s"$what: ${run.jobs} jobs")
    // the same plan on tasks: TakeOrderedAndProjectExec over the same child
    val tasked = q()
    val root = topNs(tasked).head
    val taskRows = counted(root.execute().map(_.copy()).collect())
    assert(taskRows.jobs >= 1, what)
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToScalaConverter(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(root.output))
    assert(run.value == taskRows.value.toSeq.map(r =>
      toRow(r).asInstanceOf[org.apache.spark.sql.Row].toSeq.map(canon).mkString("|")), what)
    // the scan posted what its task posts, numOutputRows and zarrRowsOut too
    val posted = scanMetrics(driven)
    assert(posted == scanMetrics(tasked), what)
    assert(posted.getOrElse("numOutputRows", 0L) > 0 && posted.getOrElse("zarrRowsOut", 0L) > 0, s"$what: $posted")
    assert(driven.queryExecution.executedPlan.toString.contains("ZarrDriverTopN"), what)
  }

  for ((label, path, coords) <- Seq(("v2", () => v2, Seq("t", "y", "x")),
      ("v3 sharded", () => v3, Seq("t", "y", "x")), ("edge grid", () => edge, Seq("t", "x")))) {
    test(s"$label: ORDER BY … LIMIT reads on the driver with the task path's rows and metrics") {
      for (opts <- Seq(Nil, Seq("fillValueAsNull" -> "true")); i <- shapes(load(path()), coords).indices) {
        def q(): DataFrame = shapes(load(path(), opts: _*), coords)(i)._2
        val (what0, _, injective) = shapes(load(path(), opts: _*), coords)(i)
        val what = s"$what0 $opts"
        drivenOnDriver(what, q _)
        // with unique sort keys, the rows of the same query over the
        // rows collected and re-parallelized (Spark's own plan, on tasks)
        if (injective) {
          val l = local(load(path(), opts: _*))
          assert(ordered(q()) == ordered(shapes(l, coords)(i)._2), what)
        }
      }
      // the fold answers the single-key shape: at most n rows leave the scan
      val folded = load(path()).orderBy(desc("v")).limit(5)
      ordered(folded)
      assert(scanDesc(folded).contains("topN=v DESC 5"), scanDesc(folded))
      assert(scanMetrics(folded)("zarrRowsOut") <= 5)
    }
  }

  test("a string coordinate sort key is not folded and still reads on the driver") {
    val d = load(stations)
    val shaped = Seq(
      "station DESC" -> (() => load(stations).orderBy(desc("station"), desc("hour")).limit(5)),
      "station ASC, projected" -> (() => load(stations).orderBy(asc("station"), desc("hour"))
        .select(upper(col("station")).as("s"), col("reading")).limit(6)))
    for ((what, q) <- shaped) {
      drivenOnDriver(what, q)
      assert(!scanDesc(q()).contains("topN="), scanDesc(q()))
    }
    assert(ordered(shaped.head._2()) == ordered(local(d).orderBy(desc("station"), desc("hour")).limit(5)))
    assert(ordered(shaped.head._2()).head.startsWith("cgn|3|"))
  }

  test("OFFSET, the top-K fallback threshold, several partitions and a union keep Spark's plan") {
    val z = load(v2)
    val l = local(z)
    def byV(d: DataFrame) = d.orderBy(desc("v"), col("t"), col("y"), col("x"))
    def sparks(what: String, q: DataFrame, want: DataFrame, takeOrdered: Boolean = true): Unit = {
      assert(topNs(q).isEmpty, s"$what: ${q.queryExecution.executedPlan}")
      assert(sparkTopNs(q).nonEmpty == takeOrdered, s"$what: ${q.queryExecution.executedPlan}")
      assert(ordered(q) == ordered(want), what)
    }
    sparks("OFFSET", byV(z).offset(2).limit(3), byV(l).offset(2).limit(3))
    val key = "spark.sql.execution.topKSortFallbackThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "5")
    try {
      // at the threshold Spark sorts and takes the first rows
      sparks("LIMIT at the threshold", byV(z).limit(5), byV(l).limit(5), takeOrdered = false)
      assert(topNs(byV(z).limit(4)).length == 1)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val split = byV(zarr(v2)).limit(5)
    assert(plan(split).collect { case b: BatchScanExec => b.inputPartitions.length }.sum > 1)
    sparks("several partitions", split, byV(l).limit(5))
    val union = byV(load(v2).union(load(v2))).limit(5)
    sparks("a DataFrame union", union, byV(l.union(l)).limit(5))
    sparks("a two-store read", byV(spark.read.format("zarr").load(v2, v3)).limit(5),
      byV(local(spark.read.format("zarr").load(v2, v3))).limit(5))
  }

  test("a top-N under a count or a join, and the root's RDD, execute as Spark's TakeOrderedAndProject") {
    val z = load(v2)
    val l = local(z)
    def top(d: DataFrame) = d.orderBy(desc("v"), col("t"), col("y"), col("x")).limit(6)
    assert(top(z).count() == 6)
    val joined = top(z).select("t", "y", "x", "v").join(z.select("t", "y", "x", "w"), Seq("t", "y", "x"))
    assert(rowsOf(joined) == rowsOf(top(l).select("t", "y", "x", "v").join(l.select("t", "y", "x", "w"), Seq("t", "y", "x"))))
    assert(topNs(joined).isEmpty && sparkTopNs(joined).nonEmpty, joined.queryExecution.executedPlan)
    // the root's doExecute, as `df.rdd` runs it
    val q = top(z)
    assert(topNs(q).length == 1)
    val viaRdd = counted(q.rdd.map(_.toSeq.map(canon).mkString("|")).collect().toSeq)
    assert(viaRdd.jobs >= 1 && viaRdd.value == ordered(top(l)))
  }

  test("\\analyze runs ORDER BY … LIMIT with no job") {
    v2
    load(v2).createOrReplaceTempView("topn_v")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val lines = Iterator("\\analyze SELECT t, y, x, v FROM topn_v ORDER BY v DESC, t, y, x LIMIT 4;", "quit")
    try graft.cli.SqlRepl.loop(spark, () => if (lines.hasNext) lines.next() else null, s => out ++= s.linesIterator)
    finally spark.catalog.dropTempView("topn_v")
    assert(out.exists(_.matches("4 rows \\| jobs=0 tasks=0 \\| [0-9.]+ s")), out.mkString("\n"))
    assert(out.exists(_.startsWith("scan ZarrScan")), out.mkString("\n"))
  }
}
