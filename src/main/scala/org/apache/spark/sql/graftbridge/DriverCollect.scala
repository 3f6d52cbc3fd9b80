package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan

/** For an operator whose `executeCollect` has its rows on the driver:
  * a broadcast exchange collects its build side through
  * `executeCollectIterator` (`private[spark]`), which by default runs
  * `doExecute` as one more job. Serving it from `executeCollect`
  * instead spares that job. */
trait DriverCollect extends SparkPlan {
  override private[spark] def executeCollectIterator(): (Long, Iterator[InternalRow]) = {
    val rows = executeCollect()
    (rows.length.toLong, rows.iterator)
  }
}
