package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.1 sources: the reference reads positional CSV
  * (sampler_v02.py:41) and gzipped JSON-lines (a3_p1.py:12,17). The
  * engine's equivalents are the schema'd `spark.read.csv` /
  * `spark.read.json` connectors; these round-trips prove value parity
  * against the parquet ground truth, including the reference's
  * missing-JSON-field → null semantics.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val base = java.nio.file.Files
    .createTempDirectory("graft_sources").toString

  test("positional CSV with explicit schema round-trips the events table") {
    val events = Tables.events(spark, sf0)
      .select($"event_id", $"user_id", $"event_type", $"value")
    events.coalesce(1).write.mode("overwrite")
      .option("header", "false").csv(s"$base/events_csv")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val back = spark.read.schema(schema).option("header", "false")
      .csv(s"$base/events_csv")
    assert(back.count() == events.count())
    val a = events.agg(sum($"value".cast("decimal(28,12)"))).head().getDecimal(0)
    val b = back.agg(sum($"value".cast("decimal(28,12)"))).head().getDecimal(0)
    assert(a == b) // exact: doubles survive csv text round-trip
    assert(back.select("event_id").except(events.select("event_id")).isEmpty)
  }

  test("gzipped JSON-lines round-trips, with nulls for missing fields") {
    val docs = Tables.documents(spark, sf0).select($"doc_id", $"text", $"n_chars")
    docs.coalesce(1).write.mode("overwrite")
      .option("compression", "gzip").json(s"$base/docs_json")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("n_chars", LongType),
      StructField("not_there", BooleanType))) // reference: absent key → null
    val back = spark.read.schema(schema).json(s"$base/docs_json")
    assert(back.count() == docs.count())
    assert(back.filter($"not_there".isNotNull).isEmpty)
    // coalesce(missing, false) reproduces a3_p1's `verified` default
    assert(back.filter(coalesce($"not_there", lit(false)) === false).count() == docs.count())
    val joined = docs.join(back.select($"doc_id", $"text".as("t2")), "doc_id")
    assert(joined.filter($"text" =!= $"t2").isEmpty)
  }

  test("mergeSchema reconciles parquet batches written under different schemas") {
    val base = s"/tmp/graft_sources_spec_evo_${System.nanoTime()}"
    val docs = Tables.documents(spark, sf0)
    docs.filter($"doc_id" < 100).select("doc_id", "lang")
      .write.mode("overwrite").parquet(s"$base/v1")
    docs.filter($"doc_id" >= 100).select("doc_id", "lang", "source")
      .write.mode("overwrite").parquet(s"$base/v2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$base/v1", s"$base/v2")
    assert(merged.columns.toSet == Set("doc_id", "lang", "source"))
    assert(merged.count() == docs.count())
    // the old batch's missing column is null exactly there
    assert(merged.filter($"source".isNull).agg(max($"doc_id")).head().getLong(0) < 100)
    assert(merged.filter($"doc_id" >= 100 && $"source".isNull).isEmpty)
  }

  test("dynamic partition overwrite replaces only the batch's partitions") {
    val base = "/tmp/graft_dpo_spec"
    val full = Seq((1L, "p1", 10.0), (2L, "p1", 20.0),
      (3L, "p2", 30.0), (4L, "p3", 40.0)).toDF("id", "pt", "v")
    full.write.mode("overwrite").partitionBy("pt").parquet(base)
    // batch touches ONLY p2, with different cardinality and values
    val batch = Seq((30L, "p2", 300.0), (31L, "p2", 310.0))
      .toDF("id", "pt", "v")
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try batch.write.mode("overwrite").partitionBy("pt").parquet(base)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    val got = spark.read.parquet(base).select("id", "pt", "v")
      .as[(Long, String, Double)].collect().toSet
    // p1/p3 byte-for-byte intact; p2 fully replaced (row 3 gone)
    assert(got == Set((1L, "p1", 10.0), (2L, "p1", 20.0),
      (30L, "p2", 300.0), (31L, "p2", 310.0), (4L, "p3", 40.0)))
  }

  test("Tables reads each parquet footer once per file version") {
    val dir = s"$base/footer_memo"
    Seq((1L, "a")).toDF("n_nationkey", "n_name").write.parquet(s"$dir/nation.parquet")
    awaitListenerBus()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Tables.nation(spark, dir)
      Tables.nation(spark, dir)
      awaitListenerBus()
      assert(jobs.get == 1, "one footer job for two loads of one file")
    } finally spark.sparkContext.removeSparkListener(listener)
    // a rewritten table is read again, with its new schema
    Seq((1L, "a", 2L)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    assert(Tables.nation(spark, dir).columns.toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
  }
}
