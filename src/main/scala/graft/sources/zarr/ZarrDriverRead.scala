package graft.sources.zarr

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, DynamicPruning, Expression, NamedExpression, Predicate, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation, DataSourceV2Strategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftbridge.DriverCollect
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Plans a batch Zarr scan that plans at most one input partition — a
  * lone store's [[ZarrScan]] or metadata-only [[ZarrAggScan]], not
  * key-grouped, with no runtime (dynamic pruning) filter — as Spark's
  * own plan for it wrapped in one [[ZarrDriverReadExec]]. A consumer
  * that wants the rows on the driver (a root collect, a LIMIT,
  * [[ZarrFoldMergeExec]], a broadcast build side) then reads the one
  * partition on its own thread instead of launching a one-task job;
  * every other parent executes the wrapped plan as before. One
  * partition reads at most Spark's file split size
  * (`FilePartition.maxSplitBytes`), or the explicit
  * `maxRowsPerPartition`: the work of the single task it replaces.
  * Prior art: Spark's
  * `LocalTableScanExec.executeCollect`, Hive's fetch-task conversion. */
final case class ZarrDriverRead(session: SparkSession) extends SparkStrategy {
  private lazy val v2 = new DataSourceV2Strategy(session.asInstanceOf[org.apache.spark.sql.classic.SparkSession])

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(project, filters, r: DataSourceV2ScanRelation)
        if onePartition(r) && !(project ++ filters).exists(_.exists {
          case _: SubqueryExpression | _: DynamicPruning => true
          case _ => false
        }) =>
      v2(plan).map(ZarrDriverReadExec(project, filters, r.output, _))
    case _ => Nil
  }

  private def onePartition(r: DataSourceV2ScanRelation): Boolean = r.scan match {
    case z: ZarrScan => z.readsOnDriver
    case a: ZarrAggScan => a.readsOnDriver
    case _ => false
  }
}

/** Spark's plan for a one-partition Zarr scan (`child`: the
  * `BatchScanExec` under its post-scan filter and projection). Its
  * `executeCollect`/`executeTake` read the partition on the calling
  * thread through the scan's own reader factory, apply the leftover
  * `filters` and `project` over `scanOutput`, and post the reader's
  * metrics and `numOutputRows` onto the wrapped `BatchScanExec`, as its
  * task would; `doExecute`, partitioning and ordering are the child's. */
final case class ZarrDriverReadExec(
    project: Seq[NamedExpression],
    filters: Seq[Expression],
    scanOutput: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode with DriverCollect {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  /** The node reads the scan itself, so `project` and `filters` refer
    * to the scan's output, not the child's. */
  override def producedAttributes: AttributeSet = AttributeSet(scanOutput)
  override def simpleString(maxFields: Int): String = s"ZarrDriverRead ${output.mkString("[", ", ", "]")}"

  override protected def doExecute(): RDD[InternalRow] = child.execute()
  /** The same rows as the child, wherever they are read. */
  override protected def doCanonicalize(): SparkPlan = child.canonicalized

  override def executeCollect(): Array[InternalRow] = read(Int.MaxValue)
  override def executeTake(n: Int): Array[InternalRow] =
    if (n <= 0) Array.empty else read(n)

  /** Up to `n` result rows of the scan's (at most one) partition. */
  private def read(n: Int): Array[InternalRow] = executeQuery {
    val scan = child.collectFirst { case b: BatchScanExec => b }.get
    val keep = filters.reduceOption(And).map(Predicate.create(_, scanOutput))
    val proj = UnsafeProjection.create(project, scanOutput)
    keep.foreach(_.initialize(0))
    proj.initialize(0)
    val out = ArrayBuffer.empty[InternalRow]
    def emit(r: InternalRow): Unit = if (keep.forall(_.eval(r))) out += proj(r).copy()
    val metrics = scan.metrics
    val factory = scan.readerFactory
    scan.inputPartitions.foreach { p =>
      val reader: PartitionReader[_] =
        if (factory.supportColumnarReads(p)) factory.createColumnarReader(p) else factory.createReader(p)
      try while (out.length < n && reader.next()) reader.get() match {
        case batch: ColumnarBatch =>
          metrics("numOutputRows") += batch.numRows()
          val it = batch.rowIterator()
          while (out.length < n && it.hasNext) emit(it.next())
        case row: InternalRow =>
          metrics("numOutputRows") += 1
          emit(row)
      } finally reader.close()
      reader.currentMetricsValues().foreach(m => metrics.get(m.name()).foreach(_ += m.value()))
    }
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    out.toArray
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ZarrDriverReadExec =
    copy(child = newChild)
}
