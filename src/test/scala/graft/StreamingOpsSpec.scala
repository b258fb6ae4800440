package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._

  test("stream-static join enriches a stream with a dimension table (batch parity)") {
    val dim = Tables.customer(spark, sf0)
      .select($"c_custkey".as("user_id"), $"c_mktsegment")
    val batch = Tables.events(spark, sf0).join(dim, "user_id")
      .groupBy("c_mktsegment").count()
      .orderBy("c_mktsegment").as[(String, Long)].collect().toSeq

    val schema = spark.read.parquet(s"$sf0/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sf0)
    val q = StreamingOps.enrichWithStatic(stream, dim, Seq("user_id"))
      .groupBy("c_mktsegment").count()
      .writeStream.format("memory").queryName("stream_static_test")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("stream_static_test")
      .orderBy("c_mktsegment").as[(String, Long)].collect().toSeq
    assert(got == batch)
  }

  test("streamingNearDups matches the batch incremental pairs on the cross scope") {
    val docs = Tables.documents(spark, sf0)
    val isNew = $"doc_id" % 7 === 0
    // batch reference: incremental pairs, restricted to new-vs-old
    // (the streaming op's documented scope — no new-new)
    val batch = graft.operators.DedupOps.incrementalNearDups(
        docs.filter(!isNew), docs.filter(isNew))
      .filter(($"da" % 7 === 0) =!= ($"db" % 7 === 0))
      .select("da", "db").as[(Long, Long)].collect().toSet

    val stream = Tables.documentsStream(spark, sf0).filter(isNew)
    val q = StreamingOps.streamingNearDups(stream, docs.filter(!isNew))
      .writeStream.format("memory").queryName("stream_neardup_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_neardup_test")
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(got == batch && got.nonEmpty)
  }

  test("enrichWithStatic is append-mode safe: exact row-level parity, no state") {
    val dim = Tables.customer(spark, sf0)
      .select($"c_custkey".as("user_id"), $"c_mktsegment")
    val expect = Tables.events(spark, sf0).join(dim, "user_id")
      .select($"event_id", $"c_mktsegment")
      .as[(Long, String)].collect().sorted.toSeq

    val schema = spark.read.parquet(s"$sf0/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sf0)
    val q = StreamingOps.enrichWithStatic(stream, dim, Seq("user_id"))
      .select($"event_id", $"c_mktsegment")
      .writeStream.format("memory").queryName("stream_enrich_append_test")
      .outputMode("append") // stateless: append must emit every row exactly once
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("stream_enrich_append_test")
      .as[(Long, String)].collect().sorted.toSeq
    assert(got == expect)
  }

  test("welfordByKey over a MemoryStream matches exact mean/std, state carried across batches") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(String, Double)]
    val q = StreamingOps.welfordByKey(source.toDS())
      .writeStream.format("memory").queryName("welford_stream_test")
      .outputMode("update").start()
    // two micro-batches for the same key: state must carry over
    source.addData("a" -> 1.0, "a" -> 2.0, "b" -> 10.0)
    q.processAllAvailable()
    source.addData("a" -> 3.0, "a" -> 4.0)
    q.processAllAvailable()
    val rows = spark.table("welford_stream_test")
      .groupBy("key").agg(max(struct($"n", $"mean", $"std")).as("s"))
      .select($"key", $"s.n", $"s.mean", $"s.std")
      .as[(String, Long, Double, Double)].collect()
      .map { case (k, n, m, s) => k -> ((n, m, s)) }.toMap
    q.stop()
    val (an, am, as_) = rows("a")
    assert(an == 4L && math.abs(am - 2.5) < 1e-12)
    // population std of {1,2,3,4} = sqrt(1.25)
    assert(math.abs(as_ - math.sqrt(1.25)) < 1e-12)
    val (bn, bm, _) = rows("b")
    assert(bn == 1L && math.abs(bm - 10.0) < 1e-12)
  }

  test("streamingExactDedup passes first copy, drops in-horizon dups, evicts state") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = source.toDS().toDF("doc_id", "ts", "text")
    val q = StreamingOps.streamingExactDedup(df, "ts", "10 minutes")
      .select("doc_id", "text")
      .writeStream.format("memory").queryName("stream_dedup_test")
      .outputMode("append").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    source.addData((1L, t(0), "alpha"), (2L, t(1), "alpha"), (3L, t(2), "beta"))
    q.processAllAvailable()
    // same batch + later batch dups within the horizon are dropped
    source.addData((4L, t(3), "alpha"))
    q.processAllAvailable()
    // advance event time far past the watermark: "alpha" state evicted,
    // so a far-future copy passes again (exact within horizon only)
    source.addData((5L, t(40), "gamma"))
    q.processAllAvailable()
    source.addData((6L, t(41), "alpha"))
    q.processAllAvailable()
    val out = spark.table("stream_dedup_test").select("doc_id").collect().map(_.getLong(0)).toSet
    q.stop()
    assert(out.contains(1L) && out.contains(3L) && out.contains(5L))
    assert(!out.contains(2L) && !out.contains(4L))
    assert(out.contains(6L)) // state evicted past the horizon — documented semantics
  }

  test("windowedStats drops late rows beyond the watermark (bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(java.sql.Timestamp, Double)]
    val df = source.toDS().toDF("ts", "value")
    val q = StreamingOps.windowedStats(df, "ts", "value",
      window_ = "10 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("windowed_stats_test")
      .outputMode("append").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    source.addData(t(0) -> 1.0, t(5) -> 3.0) // window [10:00,10:10)
    q.processAllAvailable()
    source.addData(t(40) -> 7.0) // advances watermark to 10:30 → first window closes
    q.processAllAvailable()
    source.addData(t(1) -> 100.0) // LATE: before watermark, must be dropped
    q.processAllAvailable()
    source.addData(t(55) -> 9.0) // close the 10:40 window too
    q.processAllAvailable()
    val out = spark.table("windowed_stats_test").orderBy("w_start").collect()
    q.stop()
    assert(out.nonEmpty)
    val first = out.head
    assert(first.getLong(2) == 2L) // the late 100.0 never joined this window
    assert(math.abs(first.getDouble(3) - 2.0) < 1e-12)
  }

  test("hoppingStats: overlapping windows, each event counted window/slide times") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(java.sql.Timestamp, Double)]
    val df = source.toDS().toDF("ts", "value")
    val q = StreamingOps.hoppingStats(df, "ts", "value",
      window_ = "10 minutes", slide = "5 minutes", watermark = "1 hour")
      .writeStream.format("memory").queryName("hopping_stats_test")
      .outputMode("complete").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    source.addData(t(2) -> 1.0, t(7) -> 3.0, t(11) -> 5.0)
    q.processAllAvailable()
    val out = spark.table("hopping_stats_test")
      .orderBy("w_start").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
    q.stop()
    assert(out.toSeq == Seq(
      ("2026-01-01 09:55:00.0", 1L, 1.0),  // [9:55,10:05): t2
      ("2026-01-01 10:00:00.0", 2L, 4.0),  // [10:00,10:10): t2, t7
      ("2026-01-01 10:05:00.0", 2L, 8.0),  // [10:05,10:15): t7, t11
      ("2026-01-01 10:10:00.0", 1L, 5.0))) // [10:10,10:20): t11
    // every event contributes to exactly window/slide = 2 windows
    assert(out.map(_._2).sum == 6)
  }

  test("stream-stream interval join matches the batch join (bounded-state shape)") {
    implicit val sqlCtx = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val purchases = Seq((1L, t(30), "p1"), (1L, t(50), "p2"), (2L, t(30), "p3"))
    val views = Seq((1L, t(25), "v1"), (1L, t(29), "v2"), (1L, t(45), "v3"),
      (2L, t(0), "v4")) // 30 min before p3 — outside the 20-min lookback
    val ps = MemoryStream[(Long, java.sql.Timestamp, String)]
    val vs = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamingOps.intervalJoin(
      ps.toDS().toDF("user_id", "p_ts", "p_tag"),
      vs.toDS().toDF("user_id", "v_ts", "v_tag"),
      Seq("user_id"), "p_ts", "v_ts", "20 minutes", "1 hour")
    val q = joined.writeStream.format("memory").queryName("interval_join_test")
      .outputMode("append").start()
    ps.addData(purchases: _*)
    vs.addData(views: _*)
    q.processAllAvailable()
    val streamed = spark.table("interval_join_test")
      .select("p_tag", "v_tag").as[(String, String)].collect().toSet
    q.stop()
    val batch = StreamingOps.intervalJoin(
      purchases.toDF("user_id", "p_ts", "p_tag"),
      views.toDF("user_id", "v_ts", "v_tag"),
      Seq("user_id"), "p_ts", "v_ts", "20 minutes", "1 hour")
      .select("p_tag", "v_tag").as[(String, String)].collect().toSet
    assert(streamed == batch)
    // p1 sees v1+v2 (within 20 min), p2 sees v3, p3 sees nothing
    assert(batch == Set(("p1", "v1"), ("p1", "v2"), ("p2", "v3")))
  }

  test("intervalJoinLeftOuter emits unmatched rows only after the watermark seals them") {
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$min%02d:00")
    val ps = MemoryStream[(Long, java.sql.Timestamp, String)]
    val vs = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamingOps.intervalJoinLeftOuter(
      ps.toDS().toDF("user_id", "p_ts", "p_tag"),
      vs.toDS().toDF("user_id", "v_ts", "v_tag"),
      Seq("user_id"), "p_ts", "v_ts", "20 minutes", "1 minute")
    val q = joined.writeStream.format("memory").queryName("interval_outer_test")
      .outputMode("append").start()
    // p1 matches v1; p3 (user 2) has NO view in its lookback
    ps.addData((1L, t(10, 30), "p1"), (2L, t(10, 31), "p3"))
    vs.addData((1L, t(10, 25), "v1"))
    q.processAllAvailable()
    val early = spark.table("interval_outer_test")
      .select("p_tag", "v_tag").as[(String, Option[String])].collect().toSet
    // inner match emits immediately; the outer row is still HELD — the
    // watermark cannot yet prove no matching view will arrive
    assert(early == Set(("p1", Some("v1"))))
    // sentinels far ahead on BOTH sides advance the global watermark
    ps.addData((98L, t(12, 0), "p9"))
    vs.addData((99L, t(12, 0), "v9"))
    q.processAllAvailable()
    val late = spark.table("interval_outer_test")
      .select("p_tag", "v_tag").as[(String, Option[String])].collect().toSet
    q.stop()
    // p3 now emits with a NULL view; the sentinel p9 stays held (its
    // own horizon is never sealed) — exactly the gate's published-
    // region caveat
    assert(late == Set(("p1", Some("v1")), ("p3", None)))
  }

  test("rollingAnomalyByKey matches the batch window operator row for row") {
    // batch reference on real sf0.001 events (the q_ts_anomaly engine)
    val batch = graft.operators.TemporalOps.rollingAnomaly(
        Tables.events(spark, sf0).filter(col("user_id") < 30),
        Seq("user_id"), "ts", "value", "event_id")
      .select("user_id", "event_id", "seq", "value", "n_prior",
        "base_mean", "base_std", "z", "is_anomaly")
      .orderBy("user_id", "seq")
      .collect().toList

    val stream = Tables.eventsStream(spark, sf0)
      .filter(col("user_id") < 30)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .as[(Long, Long, Long, Double)]
    val q = StreamingOps.rollingAnomalyByKey(stream).toDF()
      .writeStream.format("memory").queryName("rolling_anomaly_test")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("rolling_anomaly_test")
      .select("user_id", "event_id", "seq", "value", "n_prior",
        "base_mean", "base_std", "z", "is_anomaly")
      .orderBy("user_id", "seq")
      .collect().toList

    assert(got.nonEmpty && got.length == batch.length)
    got.zip(batch).foreach { case (g, b) =>
      assert(g.getLong(0) == b.getLong(0) && g.getLong(1) == b.getLong(1))
      assert(g.getLong(2) == b.getInt(2).toLong) // seq: long vs row_number int
      assert(g.getDouble(3) == b.getDouble(3))
      assert(g.getLong(4) == b.getLong(4))
      // published-rounded stats and flags must agree EXACTLY (same
      // decimal-sum mean, same Welford recurrence, same round scales)
      Seq(5, 6, 7).foreach { i =>
        assert(g.isNullAt(i) == b.isNullAt(i), s"nullability col $i: $g vs $b")
        if (!g.isNullAt(i)) assert(g.getDouble(i) == b.getDouble(i), s"col $i: $g vs $b")
      }
      assert(g.getBoolean(8) == b.getBoolean(8))
    }
  }

  test("attributionByKey: touch state carries across batches, lookback enforced") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long, Long, String)]
    val q = StreamingOps.attributionByKey(source.toDS(),
        "purchase", Set("click", "view"), lookbackUs = 60L * 60000000)
      .toDF()
      .writeStream.format("memory").queryName("stream_attr_test")
      .outputMode("append").start()
    def mins(m: Long) = m * 60000000L
    // batch 1: user 1 clicks; user 2 purchases with no touch
    source.addData((1L, mins(0), 10L, "click"), (2L, mins(0), 20L, "purchase"))
    q.processAllAvailable()
    // batch 2: user 1 converts 30 min later (state from batch 1 must
    // credit the click); then converts again 100 min after the click
    // (outside the 60-min lookback -> organic)
    source.addData((1L, mins(30), 11L, "purchase"), (1L, mins(100), 12L, "purchase"))
    q.processAllAvailable()
    val rows = spark.table("stream_attr_test")
      .as[(Long, Long, Long, Option[String], Option[Long], Option[Long])]
      .collect().map(r => r._2 -> r).toMap
    q.stop()
    assert(rows(20L)._4.isEmpty)
    assert(rows(11L) == ((1L, 11L, mins(30), Some("click"), Some(10L), Some(30L))))
    assert(rows(12L)._4.isEmpty) // stale touch beyond lookback
  }

  test("windowedTypeCounts: per-window category counts accumulate across batches") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(java.sql.Timestamp, String)]
    val df = source.toDS().toDF("ts", "event_type")
    val q = StreamingOps.windowedTypeCounts(df, "ts", "event_type",
        "1 hour", "2 hours")
      .writeStream.format("memory").queryName("stream_topk_test")
      .outputMode("complete").start()
    def t(h: Int, min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$min%02d:00")
    source.addData((t(10, 0), "a"), (t(10, 5), "a"), (t(10, 10), "b"))
    q.processAllAvailable()
    // second batch adds to the SAME window and opens a new one
    source.addData((t(10, 20), "a"), (t(11, 0), "b"))
    q.processAllAvailable()
    val got = spark.table("stream_topk_test")
      .select(col("w_start").cast("string"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSet
    q.stop()
    assert(got == Set(
      ("2026-01-01 10:00:00", "a", 3L),
      ("2026-01-01 10:00:00", "b", 1L),
      ("2026-01-01 11:00:00", "b", 1L)))
  }

  test("upsertLatestByKey: cross-batch latest wins; a late-arriving older row never regresses the view") {
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Long, Long, String, Double)]
    val q = StreamingOps.upsertLatestByKey(source.toDS())
      .writeStream.format("memory").queryName("upsert_stream_test")
      .outputMode("update").start()
    // batch 1: key 1 at ts 10 then 20; key 2 at ts 5
    source.addData((1L, 10L, 100L, "a", 1.0), (1L, 20L, 101L, "b", 2.0),
      (2L, 5L, 102L, "c", 3.0))
    q.processAllAvailable()
    // batch 2: key 1 gets a LATE OLDER row (ts 15 < stored 20 — must
    // not regress) and key 2 advances; same-ts tie on key 2 resolved
    // by the larger id
    source.addData((1L, 15L, 103L, "x", 9.0), (2L, 5L, 104L, "d", 4.0))
    q.processAllAvailable()
    val got = spark.table("upsert_stream_test")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
          .orderBy($"last_ts_us".desc, $"last_event_id".desc)))
      .filter($"rn" === 1)
      .select("user_id", "last_event_id", "last_type", "last_value")
      .as[(Long, Long, String, Double)].collect().toSet
    q.stop()
    assert(got == Set((1L, 101L, "b", 2.0), (2L, 104L, "d", 4.0)))
  }

  test("streamingUniformSample: cross-batch k-smallest matches the batch sampler; state bounded at k") {
    implicit val sqlCtx = spark.sqlContext
    // ids 0..49 over 2 shards, delivered in two batches (reversed order
    // so the winners are split across batches); k = 5
    val ids = (0L until 50L).toList
    def tag(id: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s"$id|t".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def row(id: Long) =
      (id % 2, tag(id), id, id * 10, s"t${id % 3}", id / 10.0)
    val source = MemoryStream[(Long, String, Long, Long, String, Double)]
    val q = StreamingOps.streamingUniformSample(source.toDS(), 5)
      .writeStream.format("memory").queryName("sample_stream_test")
      .outputMode("update").start()
    source.addData(ids.drop(25).map(row): _*)
    q.processAllAvailable()
    source.addData(ids.take(25).map(row): _*)
    q.processAllAvailable()
    val t = spark.table("sample_stream_test")
      .withColumn("__mx", max($"seq").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"shard")))
      .filter($"seq" === $"__mx")
    // per-shard snapshots are capped at k even though each shard saw 25
    assert(t.groupBy("shard").count().as[(Long, Long)].collect()
      .forall(_._2 == 5L))
    val got = t.orderBy($"h", $"event_id").limit(5)
      .select($"event_id").as[Long].collect().toList
    q.stop()
    val want = ids.sortBy(tag).take(5)
    assert(got.sorted == want.sorted)
  }

  test("runStream gives the session its batch partitions back while the stream runs") {
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    // a batch value distinct from the stream's, so a held override shows
    val batch = (EntryHelpers.StreamShufflePartitions + 1).toString
    spark.conf.set(key, batch)
    val started = Promise[StreamingQuery]()
    val run = Future(EntryHelpers.runStream(spark) {
      // no data is ever added: the stream stays active until stopped
      val q = MemoryStream[Int].toDF().writeStream.format("noop").start()
      started.success(q)
      q
    })
    val q = Await.result(started.future, 60.seconds)
    try {
      val deadline = System.currentTimeMillis() + 10000
      while (spark.conf.get(key) != batch && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(q.isActive)
      assert(spark.conf.get(key) == batch)
    } finally {
      q.stop()
      Await.result(run, 60.seconds)
      spark.conf.set(key, old)
    }
  }
}
