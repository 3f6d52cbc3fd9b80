package graft.sources.zarr

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, EvalMode, JoinedRow, NamedExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min, Sum}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.DriverCollect
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Plans the aggregate Spark leaves above a Zarr scan that folds a
  * partial aggregate ([[AggFold]]) as one [[ZarrFoldMergeExec]]: the
  * scan's job alone, its few partial rows merged on the driver, instead
  * of a partial HashAggregate, an Exchange and a final HashAggregate in
  * a second stage. Above the scan Spark's partial pushdown leaves SUM
  * (of the partial sums and counts), MIN and MAX only. The driver
  * collects the partial rows only while the scan's size estimate is
  * within `spark.sql.autoBroadcastJoinThreshold` — the same bound on
  * what a broadcast may collect; at -1 Spark's plan stays. */
object ZarrFoldMerge extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(groups, aggs, results, child)
        if aggs.forall(mergeable) && foldedScan(child).exists(fits) =>
      ZarrFoldMergeExec(groups, aggs, results, planLater(child)) :: Nil
    case _ => Nil
  }

  private def foldedScan(p: LogicalPlan): Option[ZarrScan] = p match {
    case Project(_, c) => foldedScan(c)
    case r: DataSourceV2ScanRelation => r.scan match {
      case z: ZarrScan if z.aggFold.isDefined => Some(z)
      case _ => None
    }
    case _ => None
  }

  private def fits(z: ZarrScan): Boolean =
    z.estimateStatistics().sizeInBytes().orElse(Long.MaxValue) <= SQLConf.get.autoBroadcastJoinThreshold

  private def mergeable(a: AggregateExpression): Boolean = !a.isDistinct && a.filter.isEmpty &&
    (a.aggregateFunction match {
      case s: Sum => (s.child.dataType == LongType || s.child.dataType == DoubleType) &&
        s.evalContext.evalMode != EvalMode.TRY
      case _: Min | _: Max => true
      case _ => false
    })
}

/** Runs the child (a folded Zarr scan) once, merges its partial rows
  * per group key in partition order, and projects the aggregate's own
  * result expressions, so AVG = SUM / COUNT comes out as Spark computes
  * it. `executeCollect` and `executeTake` answer a root collect or a
  * LIMIT, and through [[DriverCollect]] a broadcast exchange;
  * `doExecute` serves the merged rows as one partition to any other
  * parent operator. */
case class ZarrFoldMergeExec(
    groups: Seq[NamedExpression],
    aggs: Seq[AggregateExpression],
    results: Seq[NamedExpression],
    child: SparkPlan) extends UnaryExecNode with DriverCollect {

  override def output: Seq[Attribute] = results.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "partialRows" -> SQLMetrics.createMetric(sparkContext, "partial rows merged on the driver"),
    "mergeTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "time merging partial rows"))

  override def simpleString(maxFields: Int): String =
    s"ZarrFoldMerge groups=[${groups.mkString(", ")}] aggs=[${aggs.mkString(", ")}]"

  /** How one aggregate folds a non-null partial value into its running
    * value (null before the first): SUM from zero as Spark adds (a lone
    * −0.0 sums to 0.0; LongType exact under ANSI), MIN/MAX by Spark's
    * ordering (NaN highest, −0.0 = 0.0), keeping the first of equals. */
  private def combiner(a: AggregateExpression): (Any, Any) => Any = a.aggregateFunction match {
    case s: Sum if s.dataType == LongType =>
      val ansi = s.evalContext.evalMode == EvalMode.ANSI
      (acc, v) => {
        val (l, r) = (if (acc == null) 0L else acc.asInstanceOf[Long], v.asInstanceOf[Long])
        if (ansi) Math.addExact(l, r) else l + r
      }
    case _: Sum => (acc, v) => (if (acc == null) 0.0 else acc.asInstanceOf[Double]) + v.asInstanceOf[Double]
    case m: Min =>
      val ord = TypeUtils.getInterpretedOrdering(m.child.dataType)
      (acc, v) => if (acc == null || ord.lt(v, acc)) v else acc
    case m: Max =>
      val ord = TypeUtils.getInterpretedOrdering(m.child.dataType)
      (acc, v) => if (acc == null || ord.gt(v, acc)) v else acc
  }

  private def merged(): Array[InternalRow] = {
    val partials = child.executeCollect()
    val t0 = System.nanoTime()
    val inputs = aggs.map(_.aggregateFunction.children.head)
    val key = UnsafeProjection.create(groups, child.output)
    val in = UnsafeProjection.create(inputs, child.output)
    val combine = aggs.map(combiner).toArray
    val slots = new java.util.LinkedHashMap[UnsafeRow, Array[Any]]()
    if (groups.isEmpty) slots.put(key(InternalRow.empty).copy(), new Array[Any](aggs.length))
    partials.foreach { r =>
      val k = key(r)
      var acc = slots.get(k)
      if (acc == null) { acc = new Array[Any](aggs.length); slots.put(k.copy(), acc) }
      val v = in(r)
      var i = 0
      while (i < acc.length) {
        if (!v.isNullAt(i)) acc(i) = combine(i)(acc(i), InternalRow.copyValue(v.get(i, inputs(i).dataType)))
        i += 1
      }
    }
    val project = UnsafeProjection.create(results,
      groups.map(_.toAttribute) ++ aggs.map(_.resultAttribute))
    val joined = new JoinedRow
    val out = new Array[InternalRow](slots.size)
    var n = 0
    slots.forEach { (k, acc) =>
      out(n) = project(joined(k, InternalRow.fromSeq(acc.toSeq))).copy(); n += 1
    }
    longMetric("partialRows") += partials.length
    longMetric("mergeTime") += System.nanoTime() - t0
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    out
  }

  override def executeCollect(): Array[InternalRow] = merged()
  override def executeTake(n: Int): Array[InternalRow] = merged().take(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(merged().toSeq, 1)

  override protected def withNewChildInternal(newChild: SparkPlan): ZarrFoldMergeExec =
    copy(child = newChild)
}
