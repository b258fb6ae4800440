package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{CacheScope, Tables}
import graft.functions._
import graft.operators.TextOps

/** Per-row cost of the `functions/` kernels and the regex tokenizer.
  *
  * Each kernel is built through its public Column constructor and
  * projected over a cached copy of the workload's own generated column
  * (documents' text and tokens, embeddings' vectors), replicated up to
  * `minRows` rows. The same projection of the kernel's input columns
  * alone is timed next to it, and the difference is the kernel's cost:
  * scan and row-assembly cost cancel out.
  */
object Kernels {
  private final case class Kernel(name: String, input: DataFrame, args: Seq[String], expr: Column)

  private def replicated(df: DataFrame, minRows: Long): DataFrame = {
    val n = math.max(1L, df.count())
    val copies = math.max(1L, (minRows + n - 1) / n)
    df.crossJoin(df.sparkSession.range(copies).select(lit(0).as("__copy")))
      .drop("__copy").persist(StorageLevel.MEMORY_ONLY)
  }

  private def seconds(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    CacheScope.fullEval(df)
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** name -> nanoseconds per row, net of the identity projection. */
  def measure(spark: SparkSession, dir: String, minRows: Long = 20000L,
      reps: Int = 5): Map[String, Double] = {
    val docs = replicated(Tables.documents(spark, dir).select(
      col("text"),
      TextOps.tokens(col("text")).as("toks"),
      substring(col("text"), 1, 32).as("a"),
      substring(col("text"), 9, 32).as("b")), minRows)
    val embs = replicated(Tables.embeddings(spark, dir).select(col("embedding")), minRows)
    val kernels = Seq(
      Kernel("tokenize_regex", docs, Seq("text"), TextOps.tokens(col("text"))),
      Kernel("nfc_normalize", docs, Seq("text"), NfcNormalize(col("text"))),
      Kernel("minhash_sig", docs, Seq("toks"), MinHashSignature(col("toks"), 128)),
      Kernel("md5_min_shingle", docs, Seq("toks"), Md5MinShingle(col("toks"))),
      Kernel("md5_simhash", docs, Seq("toks"), Md5SimHash(col("toks"), 60)),
      Kernel("jaro_winkler", docs, Seq("a", "b"), JaroWinkler(col("a"), col("b"))),
      Kernel("array_dot", embs, Seq("embedding"), ArrayDot(col("embedding"), col("embedding"))),
      Kernel("srp_codes", embs, Seq("embedding"), SrpCodes(col("embedding"), 16, 6)))
    try {
      val rows = Map(docs -> docs.count(), embs -> embs.count())
      kernels.map { k =>
        val identity = k.input.select(k.args.map(col): _*)
        val kernel = k.input.select(k.expr.as("out"))
        seconds(identity)
        seconds(kernel)
        val timed = (1 to reps).map(_ => (seconds(identity), seconds(kernel)))
        val net = median(timed.map(_._2)) - median(timed.map(_._1))
        k.name -> net * 1e9 / rows(k.input)
      }.toMap
    } finally {
      docs.unpersist(blocking = true)
      embs.unpersist(blocking = true)
    }
  }
}
