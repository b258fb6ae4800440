package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming sink patterns beyond the memory sink: foreachBatch (the
  * "do arbitrary batch work per micro-batch" workhorse — here an
  * idempotent parquet write keyed by batch id) and the RocksDB state
  * store provider (the bounded-heap state backend any 100 TB streaming
  * aggregation runs on).
  */
class StreamingSinksSpec extends SparkSpec {
  import spark.implicits._

  test("foreachBatch writes each micro-batch to parquet; union equals the input") {
    val dir = java.nio.file.Files.createTempDirectory("graft_febatch").toString
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, Double)]
    val q = source.toDS().toDF("k", "v")
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotent: one directory per batch id, overwritten on retry
        batch.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
        ()
      }
      .start()
    source.addData(1L -> 1.0, 2L -> 2.0)
    q.processAllAvailable()
    source.addData(3L -> 3.0)
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(s"$dir/batch=*")
    assert(back.count() == 3)
    assert(back.agg(sum("v")).head().getDouble(0) == 6.0)
  }

  test("welfordByKey runs on the RocksDB state store with identical results") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      val source = MemoryStream[(String, Double)]
      val q = StreamingOps.welfordByKey(source.toDS())
        .writeStream.format("memory").queryName("welford_rocksdb_test")
        .outputMode("update").start()
      source.addData("a" -> 1.0, "a" -> 3.0)
      q.processAllAvailable()
      source.addData("a" -> 5.0)
      q.processAllAvailable()
      val latest = spark.table("welford_rocksdb_test")
        .orderBy($"n".desc).limit(1)
        .as[StreamingOps.WelfordRow].head()
      q.stop()
      assert(latest.n == 3L)
      assert(math.abs(latest.mean - 3.0) < 1e-12)
      // population std of {1,3,5} = sqrt(8/3)
      assert(math.abs(latest.std - math.sqrt(8.0 / 3.0)) < 1e-12)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("file sink + checkpoint: restart is exactly-once — no reprocessing, only new files") {
    val base = s"/tmp/graft_sink_restart_${System.nanoTime()}"
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    val docs = Tables.documents(spark, sf0).select($"doc_id", $"lang")
    docs.filter($"doc_id" < 200).write.parquet(src)
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(docs.schema).parquet(src)
      val q = stream.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 200)
    // restart against the same checkpoint with no new data: the source
    // log remembers every processed file — nothing is reprocessed
    runOnce()
    assert(spark.read.parquet(out).count() == 200)
    // land a new batch of files; ONLY those rows are appended
    docs.filter($"doc_id" >= 200 && $"doc_id" < 300)
      .write.mode("append").parquet(src)
    runOnce()
    val got = spark.read.parquet(out)
    assert(got.count() == 300)
    assert(got.select("doc_id").distinct().count() == 300) // exactly-once: no dups
  }

  /** The gate→sink CONTRACT (VERDICT r8 #5): a memory sink collects its
    * whole result table onto the driver, so a gate may use one ONLY
    * when that table is bounded by STATE size (keys, windows, bins,
    * k·shards — never raw-data size); every gate whose output grows
    * with the corpus must leave through the parquet file sink
    * (EntryHelpers.fileSinkRun — the zipf_sf1 interval-join
    * maxResultSize abort, SCALE.md r8 finding 3, is the failure class
    * this pins away). Sink capability forces the split the other way
    * too: the parquet sink is append-only, so update/complete-mode
    * gates CANNOT file-sink — which is exactly why every memory gate
    * below must also justify its driver-side bound.
    *
    * The test scans the Entry* registries and asserts each q_stream_*
    * gate uses its classified sink; a NEW streaming gate fails the
    * completeness check until it is classified here.
    */
  test("memorySinkRun drops its view at return; the frame keeps the sink's rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_memsink").toString
    Seq((1L, 2.0), (1L, 4.0), (2L, 8.0)).toDF("k", "v").write.parquet(s"$dir/in")
    val stream = spark.readStream.schema("k LONG, v DOUBLE").parquet(s"$dir/in")
    val out = EntryHelpers.memorySinkRun(
      stream.groupBy("k").agg(sum("v").as("s")), "sinks_spec", "complete")
    // no action has run on `out` yet: the view is gone all the same
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_"))
    assert(views.isEmpty, s"memory-sink view outlived memorySinkRun: ${views.mkString(", ")}")
    val first = out.orderBy("k").as[(Long, Double)].collect().toSeq
    assert(first == Seq(1L -> 6.0, 2L -> 8.0))
    assert(out.orderBy("k").as[(Long, Double)].collect().toSeq == first)
  }

  test("gate→sink contract: data-sized gates file-sink, memory gates are state-bounded") {
    // append-mode, data-sized output → parquet file sink
    val fileGates = Set(
      "q_stream_static_join",   // one row per streamed event
      "q_stream_dedup",         // one row per distinct doc
      "q_stream_interval_join", // join output, hot-key quadratic under skew
      "q_stream_interval_outer",// superset of the inner join
      "q_stream_attribution",   // one row per conversion
      "q_stream_anomaly",       // one scored row per keyed event
      "q_stream_incr_neardup")  // verified pair set grows with corpus
    // update/complete mode (append-only parquet sink can't express
    // them) AND driver table bounded by state size
    val memoryGates = Map( // name -> (outputMode, bound)
      "q_stream_sample" -> ("update", "k·shards·batches snapshots"),
      "q_stream_upsert" -> ("update", "one row per key per batch"),
      "q_stream_psi" -> ("complete", "bins × windows"),
      "q_stream_sessionize" -> ("complete",
        "session-window state itself (a 24h watermark cannot close tail sessions in append mode)"),
      "q_stream_welford" -> ("complete", "one row per group"),
      "q_stream_welford_state" -> ("update", "keys × batches"),
      "q_stream_window" -> ("complete", "tumbling windows"),
      "q_stream_hop" -> ("complete", "hopping windows"),
      "q_stream_topk" -> ("complete", "windows × categories"))

    val srcDir = java.nio.file.Paths.get("src/main/scala/graft")
    val sources = java.nio.file.Files.list(srcDir).toArray.map(_.toString)
      .filter(p => p.matches(".*/Entry[A-Za-z]+\\.scala"))
      .map(p => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(p)), "UTF-8"))
    // gate definition blocks: from `Query("q_stream_x", (s, dir)` to the
    // next `"q_` name (the block ends with the query's own oracle)
    val gateDef = """Query\("(q_stream_[a-z_]+)", \(s, dir\)""".r
    val blocks: Map[String, String] = sources.flatMap { text =>
      val starts = gateDef.findAllMatchIn(text).toList
      starts.map { m =>
        val from = m.end
        val to = text.indexOf("\"q_", from) match {
          case -1 => text.length
          case i => i
        }
        m.group(1) -> text.substring(from, to)
      }
    }.toMap
    // completeness: every gate in the registries is classified here
    assert(blocks.keySet == fileGates ++ memoryGates.keySet,
      s"unclassified streaming gates: ${blocks.keySet -- fileGates -- memoryGates.keySet}; " +
        s"stale contract entries: ${(fileGates ++ memoryGates.keySet) -- blocks.keySet}")
    // memory gates go through EntryHelpers.memorySinkRun(df, tag, mode)
    def memorySink(block: String): Option[String] =
      """memorySinkRun\([^\n]*, "([a-z]+)"\)""".r.findFirstMatchIn(block).map(_.group(1))
    for (g <- fileGates) {
      assert(blocks(g).contains("fileSinkRun"), s"$g must use the parquet file sink")
      assert(memorySink(blocks(g)).isEmpty && !blocks(g).contains("format(\"memory\")"),
        s"$g is data-sized: the memory sink is the driver-collect anti-pattern")
    }
    for ((g, (mode, _)) <- memoryGates) {
      assert(memorySink(blocks(g)).nonEmpty, s"$g expected a memory sink")
      assert(memorySink(blocks(g)).contains(mode),
        s"$g expected outputMode $mode (the mode is WHY memory is allowed)")
      assert(!blocks(g).contains("fileSinkRun"),
        s"$g classified memory-sink but uses fileSinkRun — reclassify")
    }
  }
}
