package graft.sources.zarr

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, DynamicPruning, Expression, IntegerLiteral, NamedExpression, Predicate, SortOrder, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, SparkStrategy, TakeOrderedAndProjectExec, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation, DataSourceV2Strategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftbridge.{DriverCollect, TakeOrdered}
import org.apache.spark.sql.internal.SQLConf
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
  *
  * A root ORDER BY … LIMIT n over such a read — the two shapes Spark's
  * `SpecialLimits` plans as `TakeOrderedAndProjectExec`, with or
  * without a `Project` between the `Limit` and the `Sort`, `n` below
  * `spark.sql.execution.topKSortFallbackThreshold` and no OFFSET — is
  * planned as one [[ZarrDriverTopNExec]] over it. Prior art: Spark's
  * `LocalTableScanExec.executeCollect`, Hive's fetch-task conversion. */
final case class ZarrDriverRead(session: SparkSession) extends SparkStrategy {
  private lazy val v2 = new DataSourceV2Strategy(session.asInstanceOf[org.apache.spark.sql.classic.SparkSession])

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Limit(IntegerLiteral(n), Sort(order, true, child @ OnDriver(_, _, _), _)))
        if n < SQLConf.get.topKSortFallbackThreshold =>
      ZarrDriverTopNExec(n, order, child.output, planLater(child)) :: Nil
    case ReturnAnswer(Limit(IntegerLiteral(n), Project(list, Sort(order, true, child @ OnDriver(_, _, _), _))))
        if n < SQLConf.get.topKSortFallbackThreshold =>
      ZarrDriverTopNExec(n, order, list, planLater(child)) :: Nil
    case OnDriver(project, filters, r) => v2(plan).map(ZarrDriverReadExec(project, filters, r.output, _))
    case _ => Nil
  }

  /** A scan, under its filters and projection, that reads on the
    * driver: one partition at most, and no subquery or dynamic-pruning
    * filter. */
  private object OnDriver {
    def unapply(plan: LogicalPlan): Option[(Seq[NamedExpression], Seq[Expression], DataSourceV2ScanRelation)] =
      plan match {
        case PhysicalOperation(project, filters, r: DataSourceV2ScanRelation)
            if onePartition(r) && !(project ++ filters).exists(_.exists {
              case _: SubqueryExpression | _: DynamicPruning => true
              case _ => false
            }) => Some((project, filters, r))
        case _ => None
      }
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

  override def executeCollect(): Array[InternalRow] = withRows(_.map(_.copy()).toArray)
  override def executeTake(n: Int): Array[InternalRow] =
    if (n <= 0) Array.empty else withRows(_.take(n).map(_.copy()).toArray)

  /** `f` over the result rows of the scan's (at most one) partition,
    * read on the calling thread as `f` pulls them: the reader reads no
    * batch past the last row `f` takes. The rows are reused buffers,
    * to be copied if kept. The reader's metrics are posted when `f`
    * returns. */
  private[zarr] def withRows[A](f: Iterator[InternalRow] => A): A = executeQuery {
    val scan = child.collectFirst { case b: BatchScanExec => b }.get
    val keep = filters.reduceOption(And).map(Predicate.create(_, scanOutput))
    val proj = UnsafeProjection.create(project, scanOutput)
    keep.foreach(_.initialize(0))
    proj.initialize(0)
    val metrics = scan.metrics
    val factory = scan.readerFactory
    val partitions = scan.inputPartitions.iterator
    var reader: PartitionReader[_] = null
    def close(): Unit = if (reader != null) {
      val r = reader
      reader = null
      r.close()
      r.currentMetricsValues().foreach(m => metrics.get(m.name()).foreach(_ += m.value()))
    }
    val scanned = new Iterator[InternalRow] {
      private var rows: Iterator[InternalRow] = Iterator.empty
      override def hasNext: Boolean = {
        while (!rows.hasNext) {
          if (reader == null) {
            if (!partitions.hasNext) return false
            val p = partitions.next()
            reader = if (factory.supportColumnarReads(p)) factory.createColumnarReader(p) else factory.createReader(p)
          }
          if (reader.next()) rows = reader.get() match {
            case batch: ColumnarBatch =>
              metrics("numOutputRows") += batch.numRows()
              batch.rowIterator().asScala
            case row: InternalRow =>
              metrics("numOutputRows") += 1
              Iterator.single(row)
          } else close()
        }
        true
      }
      override def next(): InternalRow = if (hasNext) rows.next() else Iterator.empty.next()
    }
    try f(keep.fold[Iterator[InternalRow]](scanned)(k => scanned.filter(k.eval)).map(proj))
    finally {
      close()
      SQLMetrics.postDriverMetricUpdates(sparkContext,
        sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics.values.toSeq)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ZarrDriverReadExec =
    copy(child = newChild)
}

/** Spark's `TakeOrderedAndProjectExec(limit, sortOrder, projectList,
  * child)` over a [[ZarrDriverReadExec]], answered on the driver: its
  * `executeCollect` streams the partition through the child's one read
  * loop (which posts the scan's metrics) into the one-partition path of
  * Spark's own `RDD.takeOrdered` ([[TakeOrdered]]), so it holds O(limit)
  * rows whether or not the scan folded the top-N, and ties come out as
  * on the task path. `doExecute` is `TakeOrderedAndProjectExec` over
  * the same child. */
final case class ZarrDriverTopNExec(
    limit: Int,
    sortOrder: Seq[SortOrder],
    projectList: Seq[NamedExpression],
    child: SparkPlan) extends UnaryExecNode {

  private lazy val onTasks = TakeOrderedAndProjectExec(limit, sortOrder, projectList, child)

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = onTasks.outputOrdering
  override def simpleString(maxFields: Int): String =
    s"ZarrDriverTopN(limit=$limit, orderBy=${sortOrder.mkString("[", ",", "]")}, " +
      s"output=${output.mkString("[", ",", "]")})"

  override protected def doExecute(): RDD[InternalRow] = onTasks.execute()

  override def executeCollect(): Array[InternalRow] = child match {
    case read: ZarrDriverReadExec => executeQuery {
      val ord = new LazilyGeneratedOrdering(sortOrder, child.output)
      // as TakeOrderedAndProjectExec: a child already in the sort order
      // needs only its first `limit` rows
      val inOrder = SortOrder.orderingSatisfies(child.outputOrdering, sortOrder)
      val top = read.withRows { rows =>
        val copied = rows.map(_.copy())
        TakeOrdered(if (inOrder) copied.take(limit) else copied, limit, ord).toArray
      }
      if (projectList == child.output) top
      else {
        val proj = UnsafeProjection.create(projectList, child.output)
        proj.initialize(0)
        top.map(proj(_).copy())
      }
    }
    case _ => onTasks.executeCollect()
  }

  override protected def withNewChildInternal(newChild: SparkPlan): ZarrDriverTopNExec =
    copy(child = newChild)
}
