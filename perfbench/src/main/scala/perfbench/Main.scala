package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{CacheScope, SparkEntry, Tables}

/** The benchmark's JVM side, one fork of a run: one workload's query
  * list as a closed loop with one client, on one session configured
  * like `graft.Bench`. A run is made of several forks, one after the
  * other, because a JVM has only one cold pass. Every pass evaluates
  * each query through `SparkEntry.queries(name)` and
  * `CacheScope.fullEval`.
  *
  * Pass 1 is the warm-up (JIT, codegen, class loading): its wall time
  * is the fork's cold-pass time, and it is left out of the warm-pass
  * statistics. Then `--passes` warm passes run. With `--trace 1` they
  * alternate between untraced and traced (spans plus listener records)
  * in ABBA order, and the `functions/` kernel microbench runs after
  * them. Timings go to `--out` as JSON. With `--verify-out`,
  * `graft.Verify` then writes every query's result there for the
  * oracle comparison; it runs after all timing and is never measured.
  *
  * Usage: Main --data DIR --queries q_a,q_b --passes N --trace 0|1
  *             --cpus N --out FILE [--verify-out DIR]
  */
object Main {
  private val TableLoaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def options(argv: Array[String]): Map[String, String] = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      val k = argv(i)
      require(k.startsWith("--"), s"unexpected argument $k")
      require(i + 1 < argv.length, s"$k needs a value")
      m(k.drop(2)) = argv(i + 1)
      i += 2
    }
    m.toMap
  }

  def main(argv: Array[String]): Unit = {
    val opt = options(argv)
    val cpus = opt("cpus").toInt
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val readyMs = Clock.nowMs
    val queries = opt("queries").split(",").toSeq.filter(_.nonEmpty)
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val passes = opt("passes").toInt
    val trace = opt("trace") == "1"

    val h = new Harness(spark, opt("data"), queries)
    val cold = h.pass(None)
    val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
    val traced = mutable.ArrayBuffer.empty[Map[String, Any]]
    // traced and untraced passes alternate in ABBA order, so that
    // warming up over the run does not favour either kind
    for (i <- 0 until passes) {
      if (trace && i % 2 == 1) traced += h.tracedPass()
      warm += h.pass(None)
      if (trace && i % 2 == 0) traced += h.tracedPass()
    }
    val kernels = if (trace) Kernels.measure(spark, opt("data")) else Map.empty
    val result = Map(
      "ready_ms" -> readyMs, "cpus" -> cpus, "cold" -> cold,
      "warm" -> warm.toList, "traced" -> traced.toList,
      "kernels" -> kernels, "vm_hwm_mb" -> vmHwmMb)
    Files.writeString(Paths.get(opt("out")), json.writeValueAsString(result))
    // Verify runs on this session and stops it
    opt.get("verify-out") match {
      case Some(out) => graft.Verify.main(Array(opt("data"), out, queries.mkString(",")))
      case None => spark.stop()
    }
    System.exit(0)
  }

  /** Peak resident set of this JVM in MB (Linux `VmHWM`). */
  private def vmHwmMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  final class Harness(spark: SparkSession, dir: String, queries: Seq[String]) {
    private val sc = spark.sparkContext
    private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    /** One query: build, plan and execute (traced or not), then clear
      * the cache. A query that throws is recorded with its error and
      * `ok = false`; its time is never a sample of a working query.
      */
    private def query(name: String, tracer: Option[Tracer]): Map[String, Any] = {
      val fn = SparkEntry.queries(name)
      val rddsBefore = sc.getPersistentRDDs.size
      var plan: Map[String, Int] = Map.empty
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val error =
        try {
          tracer match {
            case None => CacheScope.fullEval(fn(spark, dir))
            case Some(t) => t.span("query", name) {
              val df = t.span("build", name)(fn(spark, dir))
              val physical = t.span("plan", name)(df.queryExecution.executedPlan)
              t.span("exec", name)(CacheScope.fullEval(df))
              plan = PlanStats.counts(physical)
            }
          }
          None
        } catch { case NonFatal(e) => Some(e.toString.take(400)) }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      spark.catalog.clearCache()
      val base = Map("name" -> name, "wall_s" -> wall, "cpu_s" -> cpu,
        "ok" -> error.isEmpty, "error" -> error)
      if (tracer.isEmpty) base
      else {
        Bus.drain(sc)
        base ++ Map("plan" -> plan,
          "rdds_left" -> math.max(0, sc.getPersistentRDDs.size - rddsBefore))
      }
    }

    def pass(tracer: Option[Tracer]): Map[String, Any] = {
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val samples = queries.map(query(_, tracer))
      Map("wall_s" -> (System.nanoTime() - t0) / 1e9,
        "cpu_s" -> (os.getProcessCpuTime - c0) / 1e9,
        "queries" -> samples)
    }

    /** A warm pass with spans and listener records, preceded by direct
      * `Tables` loader calls (each opens one parquet file).
      */
    def tracedPass(): Map[String, Any] = {
      val recorder = new Recorder
      val tracer = new Tracer(sc)
      recorder.start(spark)
      val p =
        try {
          tracer.span("tables", "tables") {
            TableLoaders.foreach { case (t, load) => tracer.span("table", t)(load(spark, dir)) }
          }
          tracer.span("pass", "pass")(pass(Some(tracer)))
        } finally recorder.stop(spark)
      p ++ recorder.dump ++ Map("spans" -> tracer.spans)
    }
  }
}
