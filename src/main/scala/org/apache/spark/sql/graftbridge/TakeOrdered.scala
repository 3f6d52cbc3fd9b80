package org.apache.spark.sql.graftbridge

import org.apache.spark.util.collection.Utils

/** The one-partition path of Spark's `RDD.takeOrdered`
  * (`private[spark]` `Utils.takeOrdered`): the `n` least of `rows` in
  * `ord`, least first, picked as Spark's own task would pick them, ties
  * included. Holds at most O(n) rows whatever the input's length.
  * Lives in the spark package namespace for access (same technique as
  * [[ColumnBridge]]). */
object TakeOrdered {
  def apply[T](rows: Iterator[T], n: Int, ord: Ordering[T]): Iterator[T] =
    if (n == 0) Iterator.empty else Utils.takeOrdered(rows, n)(ord)
}
