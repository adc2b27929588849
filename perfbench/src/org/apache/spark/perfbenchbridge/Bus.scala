package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Access to members Spark keeps private: the benchmark reads stage metrics
  * only after every event of a pass has been delivered, and counts the
  * stages that write shuffle output (one per exchange).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def writesShuffle(stage: StageInfo): Boolean = stage.shuffleDepId.isDefined
}
