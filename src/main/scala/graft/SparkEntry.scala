package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 is exposed as a named query over the
  * driver-generated testdata (`/root/testdata/sf*`), paired — where the
  * semantics are ANSI-SQL-expressible — with a DuckDB oracle in
  * [[oracleSql]]. Column names and rounding are aligned on both sides
  * because the driver hash-compares values after sorting columns by name.
  */
object SparkEntry {


  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The a3_p1 hypothesis-testing pipeline end-to-end: tokenize → dense
    * top-k rel-freqs → per-word two-predictor standardized OLS.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_reg_multi")(spark, "/root/testdata/sf0.001")

  /** Every registered query, declared once in its family slice
    * (Entry*.scala). Fails at init, naming the name, if any is declared
    * twice.
    */
  private val registry: Map[String, Query] = Query.byName(
    EntryCore.queries ++
    EntryDedup.queries ++
    EntrySimilarity.queries ++
    EntryCuration.queries ++
    EntryRelational.queries ++
    EntryTextModels.queries ++
    EntryFormats.queries ++
    EntryEval.queries)

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.view.mapValues(_.run).toMap

  /** The DuckDB replay each query is hash-compared against. */
  val oracleSql: Map[String, String] = registry.view.mapValues(_.oracle).toMap
}

/** One registered query: the Spark pipeline the driver runs over an sf
  * directory, and the DuckDB SQL whose result it must hash-equal.
  */
private[graft] final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

private[graft] object Query {
  /** Index `all` by name; a name declared twice throws, naming it. */
  def byName(all: Seq[Query]): Map[String, Query] = {
    val dups = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(dups.isEmpty, s"query declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all.map(q => q.name -> q).toMap
  }
}
