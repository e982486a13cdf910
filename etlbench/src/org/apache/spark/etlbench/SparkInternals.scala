package org.apache.spark.etlbench

import org.apache.spark.SparkContext

/** The two `private[spark]` hooks the benchmark needs: waiting until
  * listener events have been delivered, and Spark's own status store,
  * which records every task's metrics without a listener of ours. */
object SparkInternals {

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Over the tasks of the jobs of `group`: the largest
    * `peakExecutionMemory`, in bytes, and the longest task, in ms. */
  def taskPeaks(sc: SparkContext, group: String): (Long, Long) = {
    drainListenerBus(sc)
    val store = sc.statusStore
    val stages = store.jobsList(java.util.Collections.emptyList()).filter(_.jobGroup.contains(group)).flatMap(_.stageIds).distinct
    val tasks = for {
      stage <- stages
      attempt <- store.stageData(stage)
      task <- store.taskList(stage, attempt.attemptId, Int.MaxValue)
    } yield task
    (tasks.flatMap(_.taskMetrics).map(_.peakExecutionMemory).foldLeft(0L)(math.max),
      tasks.flatMap(_.duration).foldLeft(0L)(math.max))
  }
}
