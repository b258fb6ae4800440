package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (builder
    // smoke tests); driver always calls with exactly two args → all
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json is static — written BEFORE the query loop so an
    // overlapped oracle checker (tools/check_incremental.py, driven by
    // tools/audit_lane.sh) can start comparing completed query dirs
    // while the engine pass is still running
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Optional per-query watchdog (large-SF audits: a quadratic exact
    // baseline that is feasible at the driver's gate scale can be
    // unbounded at sf10 — cancel it, record ENGINE_TIMEOUT, move on).
    // Unset (the driver's call) = no watchdog, behavior unchanged.
    val timeoutSec = sys.env.get("SPARK_GRAFT_QUERY_TIMEOUT").map(_.toLong)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      def run(): Unit = fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      try {
        timeoutSec match {
          case None => run()
          case Some(t) =>
            import scala.concurrent.{Await, Future, TimeoutException}
            import scala.concurrent.duration._
            import scala.concurrent.ExecutionContext.Implicits.global
            val f = Future(run())
            try Await.result(f, t.seconds)
            catch {
              case _: TimeoutException =>
                spark.sparkContext.cancelAllJobs()
                System.err.println(s"[verify] $name ENGINE_TIMEOUT > ${t}s")
                // drain the cancelled future so the session is clean
                // before the next query; drop its partial output
                try Await.result(f, 300.seconds)
                catch { case _: Throwable => () }
                try org.apache.commons.io.FileUtils.deleteDirectory(
                  new java.io.File(s"$outDir/$name"))
                catch { case _: Throwable => () }
            }
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // full chain to stderr — a swallowed cause (e.g. an executor-side
        // NPE surfacing as a bare message) is undebuggable otherwise
        e.printStackTrace()
      }
      // operator-internal caches are query-scoped (CacheScope.pinned
      // releases them when the consuming query finishes); clearCache is
      // belt-and-braces for the async release window and for any
      // evaluation path that bypasses the listener bus
      spark.catalog.clearCache()
    }
    // completion marker: the overlapped checker polls for this to know
    // no further query dirs will appear
    Files.writeString(Paths.get(s"$outDir/VERIFY_DONE"), "")
    spark.stop()
  }
}
