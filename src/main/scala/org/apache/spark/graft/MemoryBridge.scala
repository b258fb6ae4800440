package org.apache.spark.graft

import org.apache.spark.{SparkConf, TaskContext}
import org.apache.spark.memory.{TaskMemoryManager, UnifiedMemoryManager}
import org.apache.spark.rdd.RDD

/** Bridge into `private[spark]` memory plumbing (same pattern as
  * [[org.apache.spark.sql.graft.ColumnBridge]] for the sql side):
  * custom physical operators that budget their state like Spark's own
  * (TaskMemoryManager acquisition) need the task's manager, which is
  * not public API.
  */
object MemoryBridge {

  /** The running task's memory manager (executor side). */
  def taskMemoryManager(tc: TaskContext): TaskMemoryManager =
    tc.taskMemoryManager()

  /** Drop the blocks of a `localCheckpoint`ed RDD that no plan reads
    * any more (`SparkContext.unpersistRDD`, what `RDD.unpersist` runs).
    * `RDD.unpersist` also warns, for every locally checkpointed RDD,
    * that its lineage cannot be recomputed — the very reason
    * [[graft.CacheScope]] releases only checkpoints nothing will run
    * again — so each release of a checkpoint chain would log one
    * misleading WARN per round.
    */
  def dropCheckpoint(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Test-only: a standalone TaskMemoryManager over a deliberately tiny
    * unified pool, so specs can prove acquisition DENIAL (the condition
    * a shared multi-gigabyte test session can never produce) without
    * building a second SparkContext.
    */
  def standaloneTaskMemoryManager(systemMemoryBytes: Long): TaskMemoryManager = {
    val conf = new SparkConf(false)
      .set("spark.testing", "true")
      .set("spark.testing.memory", systemMemoryBytes.toString)
      .set("spark.memory.offHeap.enabled", "false")
    new TaskMemoryManager(UnifiedMemoryManager(conf, numCores = 1), 0L)
  }
}
