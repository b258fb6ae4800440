package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared base: one local SparkSession per forked test JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  val sf0: String = "/root/testdata/sf0.001"

  /** The sf0.01 corpus next to [[sf0]]. */
  val sf001: String = new java.io.File(sf0).getParent + "/sf0.01"

  /** Wait until the listener bus has delivered every event posted so
    * far: a [[CacheScope]] release triggered by an earlier action has
    * then run, so the next query plans against the settled cache.
    */
  def awaitListenerBus(): Unit =
    org.apache.spark.graft.ListenerBusBridge.awaitEmpty(spark.sparkContext, 60000L)

  /** Ids of the RDDs persisted in the shared context right now. */
  def persistentRddIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
}
