package graft
import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence artifact (plans/rNN/<query>_{before,after}.txt).
  *
  * Env contract (mirrors Bench so the dumped plan is the benched plan):
  *  - SPARK_GRAFT_SF_DIR   data dir (default /root/testdata/sf0.1)
  *  - SPARK_GRAFT_CPUS     local core count (default 32)
  *  - SPARK_GRAFT_PLAN_ONLY   comma-separated query names (required)
  *  - SPARK_GRAFT_PLAN_DIR    output dir (default plans/r12)
  *  - SPARK_GRAFT_PLAN_SUFFIX file suffix (default "before")
  *
  * Note: queries whose construction runs eager driver-side jobs
  * (census collects, iterate loops) execute those during the build;
  * the dumped plan is the plan of the RETURNED frame, exactly what
  * the bench's timed action executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r12")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val names = sys.env.getOrElse("SPARK_GRAFT_PLAN_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty)
    require(names.nonEmpty, "set SPARK_GRAFT_PLAN_ONLY=<q1,q2,...>")
    val spark = GraftSession.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val txt =
        try {
          val df = SparkEntry.queries(n)(spark, sfDir)
          df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        } catch { case t: Throwable => s"EXPLAIN FAILED: $t" }
      val p = java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt")
      java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
      println(s"wrote $p")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
