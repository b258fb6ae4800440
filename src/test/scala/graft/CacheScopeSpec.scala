package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The persist-ownership contract: operator-internal caches are
  * query-scoped — automatically released once the consuming query
  * finishes — so a library user in a long-lived session never
  * accumulates orphaned storage blocks. Release rides the (async)
  * listener bus, hence the bounded polling.
  */
class CacheScopeSpec extends SparkSpec {
  import spark.implicits._

  /** Materialized cache blocks register their RDD in the context;
    * release must unregister every one persisted since `before` (the
    * test's own snapshot: earlier suites in this JVM may still hold
    * RDDs the ContextCleaner has not collected yet).
    */
  private def awaitNoCachedRdds(before: Set[Int], timeoutMs: Long = 20000): Boolean = {
    def leaked = persistentRddIds.exists(id => !before(id))
    val deadline = System.currentTimeMillis() + timeoutMs
    while (leaked && System.currentTimeMillis() < deadline) Thread.sleep(50)
    !leaked
  }

  /** Ids of the checkpoint RDDs `df` reads directly: the blocks that
    * back it after its scope has released everything else.
    */
  private def directCheckpoints(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet

  private def streamViews: Set[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_")).toSet

  test("the leak check catches an RDD the test persists and never releases") {
    val before = persistentRddIds
    val leak = spark.sparkContext.parallelize(1 to 3).persist()
    try {
      assert(leak.count() == 3)
      assert(!awaitNoCachedRdds(before, timeoutMs = 500))
    } finally { leak.unpersist(blocking = true); () }
  }

  test("autoRelease drops the cache after the consuming action") {
    spark.catalog.clearCache()
    val before = persistentRddIds
    val base = CacheScope.autoRelease(
      Seq(1, 2, 3).toDF("x").select(col("x"), (col("x") * 2).as("y")))
    // two branches of one query share the materialized cache ...
    val n = base.filter(col("y") > 2).union(base.filter(col("x") === 1)).count()
    assert(n == 3)
    // ... and nothing survives the action
    assert(awaitNoCachedRdds(before), "cache block outlived its query")
  }

  test("an unconsumed autoRelease frame never materializes storage") {
    spark.catalog.clearCache()
    val before = persistentRddIds
    CacheScope.autoRelease(Seq(1).toDF("x"))
    assert(persistentRddIds == before)
  }

  test("fullEval (toRdd path) releases the scoped cache too") {
    // a bare queryExecution.toRdd.count() has no SQL execution id, so
    // the release listener never hears about it; fullEval runs the same
    // action under a named execution id and must release like any
    // Dataset action — no surviving cached RDD, no clearCache help
    spark.catalog.clearCache()
    val before = persistentRddIds
    val base = CacheScope.autoRelease(
      Seq(1, 2, 3, 4).toDF("x").select(col("x"), (col("x") * 3).as("y")))
    val consumer = base.filter(col("y") > 3).union(base.filter(col("x") === 1))
    assert(CacheScope.fullEval(consumer) == 4L)
    assert(awaitNoCachedRdds(before), "cache block outlived a toRdd-only query")
  }

  test("pinned: a throwing body releases every pin and checkpoint at once") {
    val before = persistentRddIds
    var held: DataFrame = null
    intercept[IllegalStateException] {
      CacheScope.pinned { p =>
        held = p(Seq(1, 2, 3).toDF("x"))
        val ck = p.checkpoint(held.select((col("x") + 1).as("y")))
        assert(ck.count() == 3) // both materialized
        throw new IllegalStateException("boom")
      }
    }
    // synchronous: no listener involved
    assert(held.storageLevel == StorageLevel.NONE)
    assert(persistentRddIds == before)
  }

  test("pinned: a pin the returned frame does not read is released at return") {
    val before = persistentRddIds
    var unread: DataFrame = null
    var read: DataFrame = null
    val out = CacheScope.pinned { p =>
      unread = p(Seq(1, 2, 3).toDF("x"))
      read = p(Seq(4, 5).toDF("z"))
      val n = unread.count() // a driver-side loop's action
      read.select((col("z") + lit(n)).as("z"))
    }
    assert(unread.storageLevel == StorageLevel.NONE)
    assert(read.storageLevel != StorageLevel.NONE)
    assert(out.as[Long].collect().sorted.toSeq == Seq(7L, 8L))
    assert(awaitNoCachedRdds(before), "the read pin outlived the consuming action")
  }

  test("pinned: a pin the returned frame reads survives body actions, then its consumer") {
    val before = persistentRddIds
    var x: DataFrame = null
    val out = CacheScope.pinned { p =>
      x = p(Seq(1, 2, 3).toDF("x"))
      // in-body actions on the pin (a Lloyd loop's collects) must not
      // spend the release: the trigger watches the returned frame
      assert(x.count() == 3)
      assert(x.filter(col("x") > 1).collect().length == 2)
      x.select((col("x") * 10).as("y"))
    }
    Thread.sleep(500) // let the in-body actions' events drain
    assert(x.storageLevel != StorageLevel.NONE)
    assert(persistentRddIds.exists(id => !before(id)), "pin not materialized")
    assert(out.as[Int].collect().sorted.toSeq == Seq(10, 20, 30))
    assert(awaitNoCachedRdds(before), "pin outlived its consumer")
    // a second action recomputes without the cache
    assert(out.count() == 3)
  }

  test("pinned: superseded checkpoints release once the output ran; it still reruns") {
    val before = persistentRddIds
    val out = CacheScope.pinned { p =>
      var d = p.checkpoint(spark.range(0, 10).toDF("x"))
      for (_ <- 1 to 3) d = p.checkpoint(d.select((col("x") + 1).as("x")))
      d.select((col("x") * 2).as("y"))
    }
    assert((persistentRddIds -- before).size == 4) // marked, none run yet
    val last = directCheckpoints(out)
    assert(last.size == 1)
    val first = out.as[Long].collect().sorted.toSeq
    assert(first == (3L until 13L).map(_ * 2))
    assert(awaitNoCachedRdds(before ++ last), "a superseded checkpoint stayed")
    assert((persistentRddIds -- before) == last, "the last checkpoint was released")
    assert(out.as[Long].collect().sorted.toSeq == first)
  }

  test("pipelines leave no cache or stream view behind without clearCache") {
    spark.catalog.clearCache()
    val before = persistentRddIds
    val viewsBefore = streamViews
    // run as a user would — plain Dataset actions, NO harness
    // clearCache between them: the heaviest internal-persist users,
    // the driver loops, the checkpoint chains and a memory-sink stream
    val backing = Seq("q_cf_recommend", "q_ngram_jaccard", "q_kmeans",
      "q_silhouette", "q_pca_top", "q_pca_top2", "q_item_assoc",
      "q_neardup_clusters", "q_bfs", "q_lpa", "q_hits", "q_incr_clusters",
      "q_stream_window").flatMap { q =>
      val df = SparkEntry.queries(q)(spark, sf0)
      assert(df.collect().nonEmpty, q)
      directCheckpoints(df)
    }.toSet
    // the only survivors: checkpoints a returned frame reads directly
    assert(awaitNoCachedRdds(before ++ backing), "operator pin leaked past its query")
    assert(streamViews -- viewsBefore == Set.empty[String], "memory-sink view left behind")
  }
}
