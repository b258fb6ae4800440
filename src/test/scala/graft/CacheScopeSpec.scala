package graft

import org.apache.spark.sql.functions._

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

  test("CF and dedup pipelines leave no cache behind without clearCache") {
    spark.catalog.clearCache()
    val before = persistentRddIds
    // the two heaviest internal-persist users, run as a user would —
    // plain Dataset actions, NO harness clearCache between them
    assert(SparkEntry.queries("q_cf_recommend")(spark, sf0).collect().nonEmpty)
    assert(SparkEntry.queries("q_ngram_jaccard")(spark, sf0).collect().nonEmpty)
    assert(awaitNoCachedRdds(before), "operator persist leaked past its query")
  }
}
