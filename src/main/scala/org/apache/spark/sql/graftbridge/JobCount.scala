package org.apache.spark.sql.graftbridge

import java.util.Properties
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** The Spark jobs and tasks an action starts, counted by a listener
  * scoped to a job group of the action's own. Tasks are those of the
  * stages submitted, so a stage skipped for a reused shuffle counts
  * none. The listener bus is drained before the counts are read. */
object JobCount {
  final case class Counted[A](value: A, jobs: Int, tasks: Int)

  def apply[A](sc: SparkContext)(f: => A): Counted[A] = {
    val group = s"graft-job-count-${System.nanoTime()}"
    val (jobs, tasks) = (new AtomicInteger, new AtomicInteger)
    def mine(p: Properties): Boolean = p != null && p.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (mine(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (mine(e.properties)) tasks.addAndGet(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      val value = f
      sc.listenerBus.waitUntilEmpty()
      Counted(value, jobs.get, tasks.get)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }
}
