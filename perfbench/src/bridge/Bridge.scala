package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two scheduler facts the benchmark needs that Spark keeps
  * `private[spark]`: draining the listener bus (so a pass's events are all
  * delivered before the pass is summarised) and telling a shuffle-map stage
  * (one executed Exchange) from a result stage. */
object Bridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isShuffleMapStage(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
