package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two scheduler facts the benchmark's task log needs that Spark keeps
  * package-private. */
object PerfbenchBus {
  /** Waits until every listener event posted so far has been delivered, so a
    * [[perfbench.TaskLog]] read afterwards sees all finished jobs and tasks. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Whether the stage writes shuffle output rather than returning results. */
  def isMapStage(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
