package graft

/** Per-query wall-clock bench over SparkEntry.queries.
  *
  * Measurement rules (each fixes an observed distortion):
  *  - FULL evaluation via [[CacheScope.fullEval]] (`toRdd.count()`
  *    under a named execution id): the executed plan's output
  *    projection materializes every column into the UnsafeRow stream,
  *    so projection-only queries (q_quality, q_token_counts, …) pay
  *    their real compute. A plain `df.count()` lets Catalyst prune all
  *    computed columns and times an empty scan. The execution id also
  *    lets operator-scoped caches release themselves between queries.
  *  - Cache isolation: every query runs against a clean cache
  *    (`catalog.clearCache()` between queries), so persist calls inside
  *    one operator can't evict or pre-warm another query's working set
  *    and the numbers are order-independent.
  *  - Stable order (sorted by name) + one DISCARDED warm-up pass +
  *    REPEATS measured passes, reporting the per-query MEDIAN. The
  *    warm-up pass pays codegen/classloading once, outside the stats:
  *    before it existed, the suite's alphabetically-first query
  *    (q_ann_ivf) absorbed the whole JVM cold start into its pass-1
  *    sample and its stddev read 4 s on a 1.4 s-median plan. The median
  *    of the measured passes is robust to the one-off scheduler/GC
  *    excursions that min-of-2 could not distinguish from real
  *    regressions — two consecutive rounds showed ±50% per-query
  *    drift on unchanged map-only plans.
  *  - Per-query spread (min/max/stddev over all repeats) is emitted in
  *    the JSON so a cross-round delta can be judged against the measured
  *    noise band instead of guessed at, plus the OS 1-min load average
  *    at start/end to flag a noisy-neighbor machine state.
  *  - Per-query process CPU time (user+sys, JVM-wide delta from
  *    `com.sun.management.OperatingSystemMXBean.getProcessCpuTime`)
  *    beside wall: wall-clock alone cannot distinguish "box busy"
  *    from "box warm" (rounds 9 and 10 each spent judge effort
  *    re-adjudicating a wall-clock drift that CPU time would have
  *    settled in one glance). CPU time is load-invariant — another
  *    process stealing cores stretches wall but not this process's
  *    user+sys — so cross-round comparisons get a lane that does not
  *    need a quiet box. (It is NOT work-invariant: a plan change that
  *    adds compute moves both lanes, which is exactly the signal.)
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "5").toInt
    val spark = GraftSession.local()
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // JVM-wide process CPU (user+sys) in nanoseconds — the
    // load-invariant lane. local[*] executors live in this JVM, so the
    // delta captures the whole query's compute, not just the driver.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuNanos: Long = osBean.getProcessCpuTime
    val loadStart = loadAvg
    // Warm the JVM (codegen, parquet reader classes) and the OS page
    // cache so per-query numbers measure the plans, not cold start.
    Seq("documents", "embeddings", "lineitem", "events", "orders", "customer")
      .foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case _: Throwable => () }
      }
    // Optional subset (comma-separated names): scaling studies and
    // single-query spread checks without paying the full-suite runtime.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // (wall seconds, cpu seconds, succeeded) — a crashing query must
    // never masquerade as a fast timing (it would read as a speedup in
    // round comparisons)
    def runOnce(name: String): (Double, Double, Boolean) = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val c0 = cpuNanos
      val ok =
        try { CacheScope.fullEval(fn(spark, sfDir)); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = (cpuNanos - c0) / 1e9
      spark.catalog.clearCache()
      (dt, dc, ok)
    }
    // Full sorted passes (not per-query bursts): consecutive runs of the
    // same query would share a hot cache state the driver run wouldn't.
    // Pass 0 is warm-up — measured queries then time plans, not codegen.
    names.foreach(runOnce)
    val passes = (1 to repeats).map(_ => names.map(n => n -> runOnce(n)).toMap)
    def fmt(v: Double): String = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def medianOf(ts: Seq[Double]): Double =
      if (ts.size % 2 == 1) ts(ts.size / 2)
      else (ts(ts.size / 2 - 1) + ts(ts.size / 2)) / 2.0
    case class Stat(median: Double, min: Double, max: Double, stddev: Double,
        cpuMedian: Double, ok: Boolean)
    val stats = names.map { n =>
      val runs = passes.map(_(n))
      val ok = runs.forall(_._3)
      val ts = runs.map(_._1).sorted
      val cs = runs.map(_._2).sorted
      val median = medianOf(ts)
      val mean = ts.sum / ts.size
      val sd = math.sqrt(ts.map(t => (t - mean) * (t - mean)).sum / ts.size)
      n -> Stat(median, ts.head, ts.last, sd, medianOf(cs), ok)
    }
    val results = stats.map { case (n, s) => n -> (if (s.ok) s.median else -1.0) }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // mirror the wall convention: a crashed query's cpu lane is -1.0,
    // never its real partial CPU (which would read as a speedup in
    // cross-round comparisons); getProcessCpuTime's documented -1
    // "unsupported" return would also surface as a negative delta here
    def cpuOf(s: Stat): Double = if (s.ok && s.cpuMedian >= 0) s.cpuMedian else -1.0
    val spread = stats.map { case (k, s) =>
      s"\"" + k + "\":{\"min\":" + fmt(s.min) + ",\"max\":" + fmt(s.max) +
        ",\"stddev\":" + fmt(s.stddev) + ",\"cpu_sec\":" + fmt(cpuOf(s)) + "}"
    }.mkString("{", ",", "}")
    val cpuQs = stats.map { case (k, s) => s"\"" + k + "\":" + fmt(cpuOf(s)) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    // any failure invalidates the headline number — a crashed query
    // must never read as a smaller (better) total
    val total = if (failed.nonEmpty) -1.0 else results.map(_._2).sum
    val cpuTotal =
      if (failed.nonEmpty) -1.0 else stats.map(_._2.cpuMedian).sum
    val failedJson = failed.mkString("[", ",", "]")
    // Contention self-report: BENCH_r09 started at load 10.7 and every
    // tail-visible query read 1.1–1.5× slower than the quiet-box truth —
    // a cross-round comparison on such an artifact is noise, not signal.
    // A start load above ~2 on an otherwise-idle box means someone else
    // is running; the flag lets round artifacts auto-disqualify
    // themselves from "faster/slower than last round" claims.
    val loadEnd = loadAvg
    val contended = loadStart > 2.0
    if (contended)
      System.err.println(f"WARN: bench started at load_avg $loadStart%.1f (> 2.0) - numbers are contention-inflated; re-run on a quiet box before cross-round comparison")
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","repeats":$repeats,"queries":$qs,"cpu_sec_total":${fmt(cpuTotal)},"cpu_sec":$cpuQs,"spread":$spread,"failed":$failedJson,"load_avg":{"start":${fmt(loadStart)},"end":${fmt(loadEnd)}},"contended":$contended,"sf":"$sfDir"}"""
    println(json)
    // Durable copy: the driver captures stdout by tail and has truncated
    // the line mid-JSON before (BENCH_r05) — the file can't be cut.
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
