package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed access to the driver-generated testdata tables (TESTDATA.md).
  *
  * Every loader takes the scale-factor directory explicitly so the same
  * operator code runs at sf0.001 (smoke), sf0.01 (oracle) and sf0.1
  * (bench) — and, by extension, at any path on a real cluster. Parquet
  * scans are columnar + vectorized; operators should `select` only the
  * columns they need so Catalyst prunes the scan (`ReadSchema`).
  */
object Tables {
  /** Parquet schemas already read, by file and by the session settings
    * that shape schema inference. A bare `spark.read.parquet` launches
    * one footer job per call; reading through the memoized schema
    * launches none after a file's first read. The file's modification
    * time and length are part of the key, so a rewritten file is read
    * again.
    */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[Seq[Any], org.apache.spark.sql.types.StructType]()

  private def parquetSchema(spark: SparkSession, file: String) = {
    val path = new org.apache.hadoop.fs.Path(file)
    val st = path.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(path)
    val settings = Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
      "spark.sql.parquet.inferTimestampNTZ.enabled").map(spark.conf.get)
    schemas.computeIfAbsent(
      Seq(st.getPath.toString, st.getModificationTime, st.getLen) ++ settings,
      _ => spark.read.parquet(file).schema)
  }

  /** `file` as a batch frame, its schema read once per file. */
  private def parquet(spark: SparkSession, file: String): DataFrame =
    spark.read.schema(parquetSchema(spark, file)).parquet(file)

  def region(spark: SparkSession, dir: String): DataFrame    = parquet(spark, s"$dir/region.parquet")
  def nation(spark: SparkSession, dir: String): DataFrame    = parquet(spark, s"$dir/nation.parquet")
  def customer(spark: SparkSession, dir: String): DataFrame  = parquet(spark, s"$dir/customer.parquet")
  def supplier(spark: SparkSession, dir: String): DataFrame  = parquet(spark, s"$dir/supplier.parquet")
  def part(spark: SparkSession, dir: String): DataFrame      = parquet(spark, s"$dir/part.parquet")
  def orders(spark: SparkSession, dir: String): DataFrame    = parquet(spark, s"$dir/orders.parquet")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = parquet(spark, s"$dir/lineitem.parquet")
  /** events.parquet's `ts` physical type has varied across testdata
    * generations — TIMESTAMP(NANOS) (surfacing as epoch-nanos LONG
    * under `spark.sql.legacy.parquet.nanosAsLong=true`, which all graft
    * session builders set) and TIMESTAMP(MICROS) (surfacing as
    * TIMESTAMP_NTZ). Normalize BY SCHEMA, not by assumption, so every
    * consumer sees the same session-TZ TimestampType at microsecond
    * precision either way — the lake-reality posture (a 100 TB lake
    * holds files written by years of writer versions).
    */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      // `div`, not `/`: Spark's `/` is DOUBLE division, and at epoch-nano
      // magnitude (~1.7e18) the rounded quotient can land one micro HIGH
      // before the cast truncates — integer division matches the parquet
      // reader's (and DuckDB's) exact truncation.
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // NTZ → session-TZ timestamp is value-preserving under the UTC
      // session every graft entrypoint pins.
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventsTs(parquet(spark, s"$dir/events.parquet"))
  /** The same table as an AvailableNow-able file stream (schema from
    * the memoized footer read), `ts` normalized identically to
    * [[events]] so streaming and batch forms share oracles.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = parquetSchema(spark, s"$dir/events.parquet")
    normalizeEventsTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
  }
  def documents(spark: SparkSession, dir: String): DataFrame = parquet(spark, s"$dir/documents.parquet")
  /** The documents table as an AvailableNow-able file stream (the
    * [[eventsStream]] construction on the docs corpus).
    */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = parquetSchema(spark, s"$dir/documents.parquet")
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
  }
  def embeddings(spark: SparkSession, dir: String): DataFrame = parquet(spark, s"$dir/embeddings.parquet")
}
