package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration for graft: Verify, Bench, PlanDump,
  * the test suites and the scale-data generator all build their session
  * here, so a config decision lives in one place. Cluster runs set the
  * same keys through `spark-submit --conf`.
  *
  *  - AQE on (default in Spark 4) carries the runtime re-planning this
  *    library leans on: runtime broadcast of small join sides, skew-join
  *    splitting, partition coalescing.
  *  - `spark.sql.shuffle.partitions` tracks total cores at small scale
  *    (NOT the 200 default — 6× task overhead for nothing on a 32-core
  *    box); use ~2-3× total cores on a cluster.
  *  - `maxPartitionBytes` 128m default: lower it if single-file inputs
  *    under-split (see [[PlanUtils.spread]] for the compute-side fix).
  *  - nanos-as-long: the testdata's TIMESTAMP(NANOS) parquet columns
  *    predate Spark's nanos support; [[Tables.events]] re-derives a
  *    typed timestamp.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, default 32. */
  def cores: Int = positiveIntVar(sys.env, "SPARK_GRAFT_CPUS", 32)

  /** `local[cores]` with `cores` shuffle partitions. `getOrCreate`: a
    * session already running in this JVM is reused (and gets these SQL
    * settings), so a caller that owns its own session can run any graft
    * main inside it.
    */
  def local(cores: Int = GraftSession.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `name`'s value in `env` as a positive Int, `default` when unset;
    * anything else fails naming the variable.
    */
  private[graft] def positiveIntVar(env: Map[String, String], name: String,
      default: Int): Int =
    env.get(name) match {
      case None => default
      case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(throw
        new IllegalArgumentException(s"$name must be a positive integer, got '$v'"))
    }
}
