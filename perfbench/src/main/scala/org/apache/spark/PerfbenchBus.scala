package org.apache.spark

/** Two reads the harness needs from members private to the spark
  * package. */
object PerfbenchBus {
  /** Waits until the listener bus has delivered every posted event, so
    * the traced run reads complete job, stage, task and query-execution
    * records. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes the stages numbered above `afterStage` wrote to local disk
    * (shuffle files and spill), and the highest stage number seen. Read
    * from the status store every SparkContext keeps, traced or not. */
  def diskWrites(sc: SparkContext, afterStage: Int): (Double, Int) = {
    drain(sc)
    val stages = sc.statusStore.stageList(java.util.Collections.emptyList())
    val newer = stages.filter(_.stageId > afterStage)
    (newer.map(s => s.shuffleWriteBytes + s.diskBytesSpilled).sum.toDouble,
      (afterStage +: stages.map(_.stageId)).max)
  }
}
