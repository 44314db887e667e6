package org.apache.spark

/** The two Spark internals the benchmark reads. Both are package-private
  * to Spark, hence this file's package. */
object PerfbenchBus {
  /** Waits until every listener event posted so far has been delivered,
    * so the run record holds all jobs, executions and triggers. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of RDD blocks (cached frames and local checkpoints) the block
    * managers hold now, read synchronously from the block manager master;
    * the status store behind `getRDDStorageInfo` lags behind by the
    * listener bus. */
  def rddBlockBytes(): Long =
    SparkEnv.get.blockManager.master.getStorageStatus
      .flatMap(_.rddBlocks.values).map(b => b.memSize + b.diskSize).sum
}
