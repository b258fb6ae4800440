package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Shared fixtures and DuckDB CTE builders for the Entry* registry
  * slices (split out of SparkEntry r8 — bodies verbatim).
  */
private[graft] object EntryHelpers {

  /** Fixed target mixture for the data-mixing gates: domain srcN gets
    * mass fraction (1 + N % 4) / 50 — deliberately skewed vs the
    * corpus' near-uniform actual distribution so weights land on both
    * sides of 1.0 (down- AND up-sampling paths exercised). Σ over the
    * 20 sources = 50/50 = 1. The oracle recomputes the same fractions
    * from the domain name.
    */
  private[graft] val mixTargets: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> (1.0 + i % 4) / 50.0).toMap

  /** q_lm_nll keep threshold (on the published 6-dp avg_nll) — sized so
    * the synthetic corpus lands docs on BOTH sides of the filter.
    */
  private[graft] val LmKeepBelow: Double = 6.0


  /** CF query items (exist with ≥25 raters at every sf — FIXTURES.md). */
  private[graft] val CfTargets = Seq(3L, 7L)

  private[graft] val HourUs = 3600L * 1000000L

  /** 20 overlapping 48 h maintenance windows on a 36 h stride from
    * 2024-01-01 — shared by q_range_join (explicit bucketized operator)
    * and q_range_join_rule (naive join + optimizer rule), which must
    * stay the same query for their common oracle to hash-match.
    */
  private[graft] def maintenanceWindows(s: SparkSession): DataFrame = {
    import s.implicits._
    val baseUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
    (0L until 20L).map { w =>
      (w, baseUs + w * 36 * HourUs, baseUs + w * 36 * HourUs + 48 * HourUs)
    }.toDF("w_id", "w_start_us", "w_end_us")
      .select(col("w_id"), timestamp_micros(col("w_start_us")).as("w_start"),
        timestamp_micros(col("w_end_us")).as("w_end"))
  }

  /** Collision-free memory-sink names if a streaming query reruns in
    * one session (no RNG/clock — determinism policy).
    */
  private[graft] val StreamSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Target state bytes per stream shuffle/state partition. */
  private val StatePartitionBytes: Long = 256L * 1024 * 1024

  /** Shuffle/state partition count for one STREAMING query, from its
    * input: `max(1, ⌈input bytes / 256 MB⌉)`. Every stateful micro-batch
    * pays a fixed cost per shuffle partition: one state-store provider
    * load plus one delta commit per store per partition per batch (a
    * stream-stream join keeps four stores per partition), however few
    * rows the partition holds. Measured on local[4] (4-core VM) at
    * sf0.01, state-store `commitTimeMs` summed over partitions and
    * batches read 1130, 1404 and 4885 ms with 8 partitions and 92, 83
    * and 604 ms with 1 for q_stream_window, q_stream_welford_state and
    * q_stream_interval_join, for the same 720, 5 and 210 state rows:
    * about 150-190 ms per extra partition on the single-store lanes. A
    * stream's state holds at most the rows it reads, so its input bytes
    * stand in for its state bytes: 256 MB of input is 1 partition,
    * 256 MB + 1 B is 2, a 100 GiB input is 400. Every gate corpus is
    * ≪ 256 MB, so every gate stream runs 1 partition.
    *
    * Spark pins the count in a stream's checkpoint at its first batch.
    * Every graft stream writes a fresh temp checkpoint, so no stored
    * layout conflicts with the derived count; a resumed checkpoint
    * would run with its own stored count whatever the session says.
    * Results do not depend on the count: all stream ops here are keyed
    * aggregates or joins, and the oracle gate re-proves it.
    */
  private[graft] def statePartitions(inputBytes: Long): Int =
    math.max(1L, (inputBytes + StatePartitionBytes - 1) / StatePartitionBytes).toInt

  /** Total size of the files a stream's file sources will read: each
    * `StreamingRelation` in the logical plan names its directory by the
    * `path` option and narrows it by `pathGlobFilter`. Sources with
    * nothing to list (a `MemoryStream`, a missing path) count 0 bytes.
    */
  private[graft] def streamInputBytes(df: DataFrame): Long = {
    import org.apache.hadoop.fs.{GlobFilter, Path}
    import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    val hadoopConf = df.sparkSession.sessionState.newHadoopConf()
    df.queryExecution.logical.collect { case r: StreamingRelation => r.dataSource }
      .flatMap { ds =>
        val opts = CaseInsensitiveMap(ds.options)
        val keep = opts.get("pathGlobFilter").map(new GlobFilter(_))
        opts.get("path").toSeq.flatMap { p =>
          val path = new Path(p)
          val fs = path.getFileSystem(hadoopConf)
          Option(fs.globStatus(path)).toSeq.flatten.flatMap { st =>
            val files = fs.listFiles(st.getPath, true)
            Iterator.continually(files).takeWhile(_.hasNext).map(_.next()).toSeq
          }.filter(f => keep.forall(_.accept(f.getPath)))
            .map(_.getLen)
        }
      }.sum
  }

  /** Start-and-await a streaming query with the session's shuffle
    * partitions set to the stream's [[statePartitions]] (sized from
    * [[streamInputBytes]] of `df`) for the duration of the start call
    * only: the stream's constructor clones the session
    * (`StreamExecution` → `cloneSession()`) before `start()` returns,
    * so the override binds the STREAM's state layout and the batch
    * value is back before the run is awaited. All 16 q_stream_* lanes
    * funnel through here.
    */
  private[graft] def runStream(df: DataFrame)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, statePartitions(streamInputBytes(df)).toString)
    val q = try start finally spark.conf.set(key, old)
    q.awaitTermination()
  }

  /** Run a stream to completion through a MEMORY sink (`mode` =
    * "update" or "complete") and return its result table — the sink
    * shape for the metric-sized streaming gates. The sink registers a
    * temp view `graft_stream_<tag>_<n>`; it is dropped before this
    * returns. The returned frame's resolved plan reads the sink itself,
    * so it keeps the result rows (on the driver) for as long as the
    * frame is referenced, and every action on it reads the same rows.
    */
  private[graft] def memorySinkRun(df: DataFrame, tag: String,
      mode: String): DataFrame = {
    val spark = df.sparkSession
    val qn = s"graft_stream_${tag}_${StreamSeq.incrementAndGet()}"
    runStream(df)(df.writeStream.format("memory").queryName(qn)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start())
    try spark.table(qn) finally spark.catalog.dropTempView(qn)
  }

  /** Run an append-mode stream through a PARQUET file sink and read the
    * result back — the production sink shape for DATA-SIZED streaming
    * output. The memory sink collects every result row onto the driver:
    * fine for the metric-sized aggregate gates, but a measured
    * `spark.driver.maxResultSize` abort for the interval join on the
    * Zipf-headed sf1 corpus (the hot user's join output alone is tens
    * of millions of rows). The file sink keeps rows on executors end to
    * end; reading the sink directory back is metadata-driven
    * (_spark_metadata), so the gate compares exactly what the stream
    * committed. The returned frame reads the temp directory lazily, so
    * the directory is not deleted here: it is registered with the local
    * Hadoop `FileSystem.deleteOnExit`, which deletes it when the JVM's
    * file systems close at shutdown.
    */
  private[graft] def fileSinkRun(df: DataFrame, tag: String): DataFrame = {
    val spark = df.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val dir = fs.makeQualified(new org.apache.hadoop.fs.Path(java.nio.file.Files
      .createTempDirectory(s"graft_${tag}_${StreamSeq.incrementAndGet()}_")
      .toString))
    fs.deleteOnExit(dir)
    runStream(df)(df.writeStream.format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/chk")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start())
    spark.read.schema(df.schema).parquet(s"$dir/out")
  }

  /** DuckDB replay of [[SimilarityOps.powerIterationPC]]: the same
    * recurrence unrolled as chained CTEs (the q_pagerank oracle
    * pattern). Every CTE is MATERIALIZED — DuckDB inlines plain CTEs,
    * and each round references the previous one ~4×, so un-hinted the
    * replay re-evaluates the chain 4^iters times (measured: a hang at
    * sf0.001; 0.1 s materialized). Cross-row sums cast products to
    * DECIMAL(38,12) like the engine; the final round(…, 6) absorbs the
    * engines' scale-12 cast-tie divergence (see the operator scaladoc).
    */
  private[graft] def pcaOracleSql(dims: Int, iters: Int): String = {
    val its = (1 to iters).map { t =>
      val pv = s"v${t - 1}"
      s"""dot$t AS MATERIALIZED (SELECT id, CAST(sum(CAST(x.e * v.w AS DECIMAL(38,12))) AS DOUBLE) AS dot
         |  FROM x JOIN $pv v USING (dim) GROUP BY id),
         |s$t AS MATERIALIZED (SELECT x.dim, CAST(sum(CAST(x.e * dot$t.dot AS DECIMAL(38,12))) AS DOUBLE) AS s
         |  FROM x JOIN dot$t USING (id) GROUP BY x.dim),
         |mv$t AS MATERIALIZED (SELECT CAST(sum(CAST(mu.mu * v.w AS DECIMAL(38,12))) AS DOUBLE) AS dm
         |  FROM mu JOIN $pv v USING (dim)),
         |w$t AS MATERIALIZED (SELECT s$t.dim,
         |    s$t.s - (SELECT n FROM nn) * mu.mu * (SELECT dm FROM mv$t) AS w
         |  FROM s$t JOIN mu USING (dim)),
         |v$t AS MATERIALIZED (SELECT dim, w / (SELECT max(abs(w)) FROM w$t) AS w FROM w$t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (
       |  SELECT vec_id AS id, d AS dim, CAST(embedding[d+1] AS DOUBLE) AS e
       |  FROM embeddings, range($dims) r(d)),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
       |mu AS MATERIALIZED (SELECT dim, CAST(sum(CAST(e AS DECIMAL(38,12))) AS DOUBLE)
       |              / (SELECT n FROM nn) AS mu FROM x GROUP BY dim),
       |v0 AS MATERIALIZED (SELECT d AS dim, CAST(1.0 AS DOUBLE) AS w FROM range($dims) r(d)),
       |$its,
       |nrm AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
       |        FROM v$iters)
       |SELECT CAST(dim AS INTEGER) AS dim,
       |       round(w / (SELECT nrm FROM nrm), 6) AS loading
       |FROM v$iters ORDER BY dim""".stripMargin
  }

  /** q_pca_top2 oracle: the [[pcaOracleSql]] recurrence, then the
    * normalized u₁, λ₁ = u₁ᵀCu₁ (one more matvec chain), and `iters`
    * DEFLATED rounds whose per-dim update mirrors the engine's double
    * dag term for term: w = s − n·μ·(μᵀv) − λ₁·u₁·(u₁ᵀv), left-assoc.
    */
  private[graft] def pca2OracleSql(dims: Int, iters: Int): String = {
    def roundCtes(prefix: String, prev0: String, defl: Boolean): String =
      (1 to iters).map { t =>
        val pv = if (t == 1) prev0 else s"$prefix${t - 1}"
        val deflSql = if (defl)
          s""",
             |uv$prefix$t AS MATERIALIZED (SELECT CAST(sum(CAST(u.w * v.w AS DECIMAL(38,12))) AS DOUBLE) AS uv
             |  FROM u1 u JOIN $pv v USING (dim))""".stripMargin
        else ""
        val deflTerm = if (defl)
          s" - (SELECT l FROM lam) * u1.w * (SELECT uv FROM uv$prefix$t)" else ""
        val deflJoin = if (defl) s" JOIN u1 ON u1.dim = s$prefix$t.dim" else ""
        s"""dot$prefix$t AS MATERIALIZED (SELECT id, CAST(sum(CAST(x.e * v.w AS DECIMAL(38,12))) AS DOUBLE) AS dot
           |  FROM x JOIN $pv v USING (dim) GROUP BY id),
           |s$prefix$t AS MATERIALIZED (SELECT x.dim, CAST(sum(CAST(x.e * dot$prefix$t.dot AS DECIMAL(38,12))) AS DOUBLE) AS s
           |  FROM x JOIN dot$prefix$t USING (id) GROUP BY x.dim),
           |mv$prefix$t AS MATERIALIZED (SELECT CAST(sum(CAST(mu.mu * v.w AS DECIMAL(38,12))) AS DOUBLE) AS dm
           |  FROM mu JOIN $pv v USING (dim))$deflSql,
           |w$prefix$t AS MATERIALIZED (SELECT s$prefix$t.dim,
           |    s$prefix$t.s - (SELECT n FROM nn) * mu.mu * (SELECT dm FROM mv$prefix$t)$deflTerm AS w
           |  FROM s$prefix$t JOIN mu USING (dim)$deflJoin),
           |$prefix$t AS MATERIALIZED (SELECT dim, w / (SELECT max(abs(w)) FROM w$prefix$t) AS w FROM w$prefix$t)"""
          .stripMargin
      }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (
       |  SELECT vec_id AS id, d AS dim, CAST(embedding[d+1] AS DOUBLE) AS e
       |  FROM embeddings, range($dims) r(d)),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM embeddings),
       |mu AS MATERIALIZED (SELECT dim, CAST(sum(CAST(e AS DECIMAL(38,12))) AS DOUBLE)
       |              / (SELECT n FROM nn) AS mu FROM x GROUP BY dim),
       |v0 AS MATERIALIZED (SELECT d AS dim, CAST(1.0 AS DOUBLE) AS w FROM range($dims) r(d)),
       |${roundCtes("v", "v0", defl = false)},
       |nrm1 AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
       |        FROM v$iters),
       |u1 AS MATERIALIZED (SELECT dim, w / (SELECT nrm FROM nrm1) AS w FROM v$iters),
       |dotU AS MATERIALIZED (SELECT id, CAST(sum(CAST(x.e * v.w AS DECIMAL(38,12))) AS DOUBLE) AS dot
       |  FROM x JOIN u1 v USING (dim) GROUP BY id),
       |sU AS MATERIALIZED (SELECT x.dim, CAST(sum(CAST(x.e * dotU.dot AS DECIMAL(38,12))) AS DOUBLE) AS s
       |  FROM x JOIN dotU USING (id) GROUP BY x.dim),
       |mvU AS MATERIALIZED (SELECT CAST(sum(CAST(mu.mu * v.w AS DECIMAL(38,12))) AS DOUBLE) AS dm
       |  FROM mu JOIN u1 v USING (dim)),
       |cU AS MATERIALIZED (SELECT sU.dim,
       |    sU.s - (SELECT n FROM nn) * mu.mu * (SELECT dm FROM mvU) AS w
       |  FROM sU JOIN mu USING (dim)),
       |lam AS MATERIALIZED (SELECT CAST(sum(CAST(u.w * c.w AS DECIMAL(38,12))) AS DOUBLE) AS l
       |  FROM u1 u JOIN cU c USING (dim)),
       |p0 AS MATERIALIZED (SELECT d AS dim, CAST(1.0 AS DOUBLE) AS w FROM range($dims) r(d)),
       |${roundCtes("p", "p0", defl = true)},
       |nrm2 AS MATERIALIZED (SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
       |        FROM p$iters)
       |SELECT CAST(u1.dim AS INTEGER) AS dim,
       |       round(u1.w, 6) + 0.0 AS pc1,
       |       round(p.w / (SELECT nrm FROM nrm2), 6) + 0.0 AS pc2
       |FROM u1 JOIN p$iters p USING (dim) ORDER BY dim""".stripMargin
  }

  /** q_kmeans oracle: `iters` Lloyd iterations unrolled as chained
    * MATERIALIZED CTEs (the pcaOracleSql pattern). Each iteration: a
    * one-row centroid CTE (k×dims columns), distances as left-assoc
    * `+` chains in dimension order (the engine's fold association),
    * lowest-index argmin via the same strict `<=` cascade, centroid
    * update as conditional DECIMAL(38,12) sums over one scan. Init =
    * the vectors of vec_id 0..k−1 (ids are dense from 0 at every SF).
    */
  private[graft] def kmeansOracleSql(dims: Int, k: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(dims, k, iters)}
       |SELECT vec_id, cluster, dist2 FROM asg ORDER BY vec_id""".stripMargin

  /** The kmeans replay as a reusable CTE chain ending in
    * `asg(vec_id, cluster, dist2)` — shared by q_kmeans and the
    * SemDeDup oracle (which appends within-cluster cosine CTEs).
    */
  private[graft] def kmeansCtes(dims: Int, k: Int, iters: Int): String = {
    val xCols = (0 until dims)
      .map(d => s"CAST(embedding[${d + 1}] AS DOUBLE) AS x$d").mkString(", ")
    val cent0 = (0 until k).flatMap(j => (0 until dims).map(d =>
      s"max(CASE WHEN vec_id = $j THEN x$d END) AS c${j}_$d")).mkString(", ")
    def distCols = (0 until k).map(j =>
      (0 until dims).map(d => s"(x$d - c${j}_$d) * (x$d - c${j}_$d)")
        .mkString(" + ") + s" AS d$j").mkString(", ")
    val argmin = {
      val cases = (0 until k - 1).map { j =>
        val conds = ((j + 1) until k).map(i => s"d$j <= d$i").mkString(" AND ")
        s"WHEN $conds THEN $j"
      }.mkString(" ")
      s"CASE $cases ELSE ${k - 1} END"
    }
    val steps = (1 to iters).map { t =>
      val upd = (0 until k).flatMap(j => (0 until dims).map(d =>
        s"CAST(sum(CASE WHEN cl = $j THEN CAST(x$d AS DECIMAL(38,12)) END) AS DOUBLE)" +
          s" / count(CASE WHEN cl = $j THEN 1 END) AS c${j}_$d")).mkString(", ")
      s"""a$t AS MATERIALIZED (
         |  SELECT *, $argmin AS cl
         |  FROM (SELECT x.*, $distCols FROM x CROSS JOIN cent${t - 1}) s$t
         |),
         |cent$t AS MATERIALIZED (SELECT $upd FROM a$t),""".stripMargin
    }.mkString("\n")
    val leastArgs = (0 until k).map(j => s"d$j").mkString(", ")
    s"""x AS MATERIALIZED (SELECT vec_id, $xCols FROM embeddings),
       |cent0 AS MATERIALIZED (SELECT $cent0 FROM x WHERE vec_id < $k),
       |$steps
       |f AS (SELECT vec_id, $distCols FROM x CROSS JOIN cent$iters),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, $argmin AS cluster, round(least($leastArgs), 6) AS dist2
       |  FROM f
       |)""".stripMargin
  }

  /** q_semdedup's census CTE chain: [[operators.SimilarityOps.chooseSemDedupK]]
    * replayed in ANSI SQL. One LONG-FORM Lloyd chain per ladder rung —
    * centroids are k ROWS (cl, c0..c{dims-1}), not k column groups, so
    * every rung shares one SQL shape and k never appears as a column
    * count (the wide [[kmeansCtes]] form cannot express a data-chosen
    * k). Parity with [[operators.ClusterOps.kmeansAssign]] surface by
    * surface:
    *  - init: `vec_id < K` ≡ the k smallest ids (dense from 0; ≡
    *    take-all when n < K on both sides);
    *  - distance: explicit left-assoc `+` chain in dimension order —
    *    the engine's fold (its +0.0 seed is exact on a non-negative
    *    first term);
    *  - argmin: rows at `d = min(d)` per vec_id, then `min(cl)` — the
    *    engine's `array_position(ds, array_min(ds))` first-index tie
    *    rule (equality over the SAME computed doubles, so the float
    *    compare is exact). The distance subquery is deliberately a
    *    PLAIN inline (computed twice — once for the min, once for the
    *    join): recomputing n×K cheap arithmetic rows beats
    *    materializing them (the n×K stream is the memory hazard at
    *    sf10, not the FLOPs);
    *  - update: DECIMAL(38,12) sums / exact counts, empty clusters
    *    carry the previous centroid via LEFT JOIN + coalesce;
    *  - census: integer-exact blocked pair counts (`//` DIV — a double
    *    sum could round apart from the engine AT the budget boundary,
    *    the adaptiveJaroPrefix lesson), smallest rung under `maxPairs`,
    *    steepest as fallback. Only `ladder.init` rungs are censused
    *    (the fallback is unconditional), mirroring the engine's
    *    early-stop walk.
    * Ends with `chosen(k)` and `asg(vec_id, cluster)` — the rung-asg
    * UNION filtered by the chosen k, so only linear (fit-sized) work
    * runs for non-chosen rungs; the quadratic pair stage downstream
    * sees one rung only.
    */
  private[graft] def semDedupLadderCtes(dims: Int, iters: Int,
      maxPairs: Long, ladder: Seq[Int]): String = {
    // a single-rung ladder would render `CASE  ELSE k END` (no WHEN
    // branch) and a dangling comma in the WITH list — fail loudly at
    // generation time instead of as a DuckDB syntax error at oracle
    // time (the engine-side chooseSemDedupK handles that ladder fine,
    // so without this guard the two sides would diverge on the edge)
    require(ladder.size >= 2,
      s"semDedupLadderCtes needs >= 2 rungs, got $ladder")
    val xCols = (0 until dims)
      .map(d => s"CAST(embedding[${d + 1}] AS DOUBLE) AS x$d").mkString(", ")
    val dist = (0 until dims)
      .map(d => s"(x.x$d - c.c$d) * (x.x$d - c.c$d)").mkString(" + ")
    def distRows(cent: String) =
      s"SELECT x.vec_id, c.cl, $dist AS d FROM xk x, $cent c"
    def assignSql(cent: String, pub: String) =
      s"""  SELECT dd.vec_id, $pub FROM (${distRows(cent)}) dd
         |  JOIN (SELECT vec_id, min(d) AS md
         |        FROM (${distRows(cent)}) mm GROUP BY vec_id) m
         |    ON m.vec_id = dd.vec_id AND dd.d = m.md
         |  GROUP BY dd.vec_id""".stripMargin
    val rungs = ladder.map { bigK =>
      val iterSteps = (1 to iters).map { t =>
        val upd = (0 until dims).map(d =>
          s"CAST(sum(CAST(x.x$d AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS c$d")
          .mkString(", ")
        val carry = (0 until dims)
          .map(d => s"coalesce(u.c$d, p.c$d) AS c$d").mkString(", ")
        s"""k${bigK}a$t AS MATERIALIZED (
           |${assignSql(s"k${bigK}c${t - 1}", "min(dd.cl) AS cl")}
           |),
           |k${bigK}u$t AS (
           |  SELECT a.cl, $upd
           |  FROM k${bigK}a$t a JOIN xk x USING (vec_id) GROUP BY a.cl
           |),
           |k${bigK}c$t AS MATERIALIZED (
           |  SELECT p.cl, $carry
           |  FROM k${bigK}c${t - 1} p LEFT JOIN k${bigK}u$t u ON u.cl = p.cl
           |)""".stripMargin
      }.mkString(",\n")
      val c0Cols = (0 until dims).map(d => s"x$d AS c$d").mkString(", ")
      s"""k${bigK}c0 AS MATERIALIZED (
         |  SELECT vec_id AS cl, $c0Cols FROM xk WHERE vec_id < $bigK
         |),
         |$iterSteps,
         |k${bigK}asg AS MATERIALIZED (
         |${assignSql(s"k${bigK}c$iters", "CAST(min(dd.cl) AS INTEGER) AS cluster")}
         |)""".stripMargin
    }.mkString(",\n")
    val loads = ladder.init.map { bigK =>
      s"""k${bigK}load AS (
         |  SELECT coalesce(sum((n * (n - 1)) // 2), 0) AS pairs
         |  FROM (SELECT count(*) AS n FROM k${bigK}asg GROUP BY cluster) s$bigK
         |)""".stripMargin
    }.mkString(",\n")
    val cases = ladder.init.map(bigK =>
      s"WHEN (SELECT pairs FROM k${bigK}load) <= $maxPairs THEN $bigK")
      .mkString(" ")
    val union = ladder.map(bigK =>
      s"  SELECT vec_id, cluster FROM k${bigK}asg" +
        s" WHERE (SELECT k FROM chosen) = $bigK")
      .mkString("\n  UNION ALL\n")
    s"""xk AS MATERIALIZED (SELECT vec_id, $xCols FROM embeddings),
       |$rungs,
       |$loads,
       |chosen AS (SELECT CASE $cases ELSE ${ladder.last} END AS k),
       |asg AS MATERIALIZED (
       |$union
       |)""".stripMargin
  }

  /** DuckDB replay of [[TextOps.bpeMerges]] as unrolled MATERIALIZED CTEs
    * (the kmeans/pagerank pattern — each round's wf CTE is referenced
    * twice, so materialization is load-bearing, NOTES.md). Same ␁-wrapped
    * symbol encoding; merge = literal `replace` (left-to-right
    * non-overlapping in both engines = greedy BPE); ties on
    * (n DESC, l, r) binary order.
    */
  /** chr(1) — the BPE symbol sentinel in DuckDB. */
  private[graft] val BpeS = "chr(1)"

  /** The shared BPE training CTE chain (toks/wf0/p·t·wf per round) —
    * replays [[operators.TextOps]]' merge loop verbatim; `where` scopes
    * the training corpus (empty = all docs). Ends with a trailing comma
    * so callers append their own tail CTEs.
    */
  private[graft] def bpeTrainCtes(rounds: Int, where: String): String = {
    val S = BpeS
    val steps = (1 to rounds).map { t =>
      s"""p$t AS MATERIALIZED (
         |  SELECT syms[i+1] AS l, syms[i+2] AS r, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT str_split(trim(enc, $S), $S || $S) AS syms, freq FROM wf${t - 1}) s$t
         |  JOIN range(128) ix$t(i) ON i + 2 <= len(syms)
         |  GROUP BY 1, 2
         |),
         |t$t AS MATERIALIZED (SELECT l, r, n FROM p$t ORDER BY n DESC, l ASC, r ASC LIMIT 1),
         |wf$t AS MATERIALIZED (
         |  SELECT freq, replace(enc, $S || l || $S || $S || r || $S, $S || l || r || $S) AS enc
         |  FROM wf${t - 1}, t$t
         |),""".stripMargin
    }.mkString("\n")
    s"""toks AS MATERIALIZED (
       |  SELECT unnest(regexp_extract_all(lower(text), '((?:[\\.,!?;"])|(?:(?:\\#|\\@)?[A-Za-z0-9_\\-]+(?:''[a-z]{1,3})?))', 1)) AS word
       |  FROM documents $where
       |), wf0 AS MATERIALIZED (
       |  SELECT count(*) AS freq,
       |         array_to_string(list_transform(str_split(word, ''), c -> $S || c || $S), '') AS enc
       |  FROM toks GROUP BY word
       |),
       |$steps""".stripMargin
  }

  private[graft] def bpeMergesOracleSql(rounds: Int, vocabTopK: Int): String = {
    val S = BpeS
    val mergeRows = (1 to rounds).map(t =>
      s"SELECT $t AS round, 'merge' AS kind, l, r, n FROM t$t").mkString("\nUNION ALL ")
    s"""WITH ${bpeTrainCtes(rounds, "")}
       |vocab AS MATERIALIZED (
       |  SELECT sym, CAST(sum(freq) AS BIGINT) AS n FROM (
       |    SELECT unnest(str_split(trim(enc, $S), $S || $S)) AS sym, freq FROM wf$rounds
       |  ) ex GROUP BY sym ORDER BY n DESC, sym ASC LIMIT $vocabTopK
       |)
       |$mergeRows
       |UNION ALL SELECT 0 AS round, 'vocab' AS kind, sym AS l, '' AS r, n FROM vocab""".stripMargin
  }

  /** Oracle for q_bpe_encode: replay the train loop on the train split,
    * then apply each round's selected pair (in order) to the distinct
    * eval vocabulary via the same literal replace, and aggregate per
    * eval doc.
    */
  private[graft] def bpeEncodeOracleSql(rounds: Int, evalMod: Long): String = {
    val S = BpeS
    val apply = (1 to rounds).map { t =>
      s"""evv$t AS (
         |  SELECT word, replace(enc, $S || l || $S || $S || r || $S, $S || l || r || $S) AS enc
         |  FROM evv${t - 1}, t$t
         |),""".stripMargin
    }.mkString("\n")
    s"""WITH ${bpeTrainCtes(rounds, s"WHERE doc_id % $evalMod <> 0")}
       |ev AS MATERIALIZED (
       |  SELECT doc_id, word, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '((?:[\\.,!?;"])|(?:(?:\\#|\\@)?[A-Za-z0-9_\\-]+(?:''[a-z]{1,3})?))', 1)) AS word
       |    FROM documents WHERE doc_id % $evalMod = 0
       |  ) et GROUP BY 1, 2
       |),
       |evv0 AS MATERIALIZED (
       |  SELECT word,
       |         array_to_string(list_transform(str_split(word, ''), c -> $S || c || $S), '') AS enc
       |  FROM (SELECT DISTINCT word FROM ev) dw
       |),
       |$apply
       |ns AS (
       |  SELECT word, CAST(len(str_split(trim(enc, $S), $S || $S)) AS BIGINT) AS n_syms
       |  FROM evv$rounds
       |)
       |SELECT ev.doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
       |       CAST(sum(cnt * n_syms) AS BIGINT) AS n_tokens,
       |       round(CAST(sum(cnt * n_syms) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS tokens_per_word
       |FROM ev JOIN ns USING (word)
       |GROUP BY ev.doc_id ORDER BY ev.doc_id""".stripMargin
  }

  /** Exact half-up 4-dp mean of a CENT-GRID metric (events.value is a
    * 2-dp decimal stored as double; round(v·100) recovers the exact
    * integer cents — the true value is ON the grid, so no rounding tie
    * exists there). The mean is then rounded half-up at 4 dp in PURE
    * INTEGER arithmetic — floor((2·100·Σcents + n) / (2n)) — and the
    * published value scaled/10⁴ is an exact double.
    *
    * Why not round(double, 4): the exact mean rational lands exactly
    * ON x.xxxx5 boundaries (cents/(100n) does so for many n), where
    * Spark rounds the double's binary expansion and DuckDB its
    * shortest decimal repr — divergence in BOTH directions (the
    * q_robust_z lesson; resurfaced by the sf10 audit on
    * q_semi_sample's 9,470 per-user means, 6 boundary hits). Integer
    * half-up of the exact rational is engine-free arithmetic.
    *
    * The quotient runs in decimal(38,0) lanes; the division is exact
    * by construction (numerator reduced by its pmod remainder), so
    * decimal division's scale rules can't round it. int64 bound:
    * 200·Σcents ≤ 7e17 at a 10¹²-row corpus.
    */
  private[graft] def decMean(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    PlanUtils.halfUpMean4(sum(round(c * lit(100)).cast("long")), count(lit(1)))

  /** DuckDB rendering of [[decMean]] (hugeint `//` is the same floor
    * division the pmod-reduced decimal quotient computes).
    */
  private[graft] def decMeanSql(expr: String): String =
    ratioRoundSql(s"CAST(sum(CAST(round($expr * 100) AS BIGINT)) AS HUGEINT)",
      "100 * count(*)", 4)

  /** DuckDB rendering of [[PlanUtils.ratioRound]]: exact half-up of
    * num/den at scale s via hugeint floor division. `num`/`den` must
    * be integer-valued SQL expressions, den > 0.
    */
  private[graft] def ratioRoundSql(num: String, den: String, s: Int): String = {
    val p = math.pow(10, s).toLong
    s"""(CAST((CASE WHEN ($num) < 0 THEN -1 ELSE 1 END)
       | * ((2 * abs(CAST(($num) AS HUGEINT)) * $p + ($den))
       |    // (2 * CAST(($den) AS HUGEINT))) AS DOUBLE) / $p.0)""".stripMargin
  }

  /** Top-k size for the regression pipeline (reference uses 1000 on a
    * real vocabulary; the synthetic corpus has ~31 distinct tokens).
    */
  private[graft] val RegK = 20

  /** Shared observations: outcome = 1 + n_chars%5, control = doc_id%3==0. */
  private[graft] def regObs(s: SparkSession, dir: String): DataFrame =
    RegressionOps.denseWordObservations(Tables.documents(s, dir), RegK,
      lit(1) + pmod(col("n_chars"), lit(5L)),
      (pmod(col("doc_id"), lit(3L)) === 0).cast("int"))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */


  /** DuckDB CTE chain for marker-based language ID: markers/toks/hits/
    * best(doc_id, lang, hits). Shared by q_lang_id and q_curation.
    */
  private[graft] val LangCtes: String =
    """markers(lang, word) AS (VALUES
      |  ('en','the'),('en','and'),('en','of'),('en','to'),('en','a'),
      |  ('fr','le'),('fr','la'),('fr','et'),('fr','les'),('fr','des'),
      |  ('es','el'),('es','la'),('es','de'),('es','los'),('es','y'),
      |  ('de','der'),('de','die'),('de','und'),('de','das'),('de','ein')
      |), ltoks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      |  FROM documents
      |), hits AS (
      |  SELECT doc_id, lang, count(*) AS hits
      |  FROM ltoks JOIN markers USING (word) GROUP BY doc_id, lang
      |), best AS (
      |  SELECT doc_id, lang, hits FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id
      |                                 ORDER BY hits DESC, lang) AS rn
      |    FROM hits) x WHERE rn = 1
      |)""".stripMargin

  /** Unrolled Bradley–Terry MM rounds for the q_bradley_terry oracle:
    * p{t} derives from p{t-1} via the same 9-dp-rounded / decimal-
    * summed update the engine runs. MATERIALIZED throughout — the
    * recurrence references each prior round twice (the pagerank
    * inlining lesson).
    */
  private[graft] def btRoundsSql(rounds: Int): String =
    (1 to rounds).map { t =>
      s"""d$t AS MATERIALIZED (
         |  SELECT s.i,
         |    CAST(sum(CAST(round(CAST(s.n AS DOUBLE) / (pi.p + pj.p), 9)
         |             AS DECIMAL(38,12))) AS DOUBLE) AS den
         |  FROM sym s JOIN p${t - 1} pi ON pi.i = s.i
         |  JOIN p${t - 1} pj ON pj.i = s.j
         |  GROUP BY s.i
         |), r$t AS MATERIALIZED (
         |  SELECT t.i, round(CAST(t.wins AS DOUBLE) / d.den, 9) AS praw
         |  FROM tot t JOIN d$t d ON d.i = t.i
         |), p$t AS MATERIALIZED (
         |  SELECT i, round(praw / (SELECT CAST(sum(CAST(praw AS DECIMAL(38,12)))
         |                               AS DOUBLE) FROM r$t), 9) AS p
         |  FROM r$t
         |)""".stripMargin
    }.mkString(",\n")

  /** Unrolled k-center greedy rounds for the q_kcenter oracle: each
    * round picks the farthest point (s{t}), looks up its quantized
    * vector (c{t}) and min-updates every point's distance² (m{t}) —
    * all in exact int64. MATERIALIZED: m{t} feeds both the next argmax
    * and the next update.
    */
  private[graft] def kcRoundsSql(rounds: Int): String =
    (1 to rounds).map { t =>
      s"""s$t AS MATERIALIZED (
         |  SELECT vec_id, d2 FROM m${t - 1} ORDER BY d2 DESC, vec_id LIMIT 1
         |), c$t AS MATERIALIZED (
         |  SELECT p.vec_id, p.q FROM pts p JOIN s$t s ON s.vec_id = p.vec_id
         |), m$t AS MATERIALIZED (
         |  SELECT p.vec_id,
         |    least(m.d2, CAST(sum((p.q[d+1] - c.q[d+1]) * (p.q[d+1] - c.q[d+1]))
         |                AS BIGINT)) AS d2
         |  FROM pts p JOIN m${t - 1} m ON m.vec_id = p.vec_id
         |  CROSS JOIN c$t c, range(64) r(d)
         |  GROUP BY p.vec_id, m.d2
         |)""".stripMargin
    }.mkString(",\n")

  /** Unrolled MMR selection rounds 2..`select` for the q_mmr oracle:
    * each round anti-joins the accumulated picks (a{t-1}), computes
    * the redundancy max over 6-dp pair sims and picks the score
    * argmax with the nn_id tie-break — the engine's loop replayed.
    */
  private[graft] def mmrRoundsSql(select: Int, lambda: Double): String = {
    val score = s"CAST($lambda AS DOUBLE) * r.rel - (CAST(1 AS DOUBLE) " +
      s"- CAST($lambda AS DOUBLE)) * coalesce(m.mxs, CAST(0 AS DOUBLE))"
    (2 to select).map { t =>
      s"""rem$t AS (
         |  SELECT c.q_id, c.nn_id, c.rel FROM cand c
         |  WHERE NOT EXISTS (SELECT 1 FROM a${t - 1} s
         |                    WHERE s.q_id = c.q_id AND s.nn_id = c.nn_id)
         |), mx$t AS (
         |  SELECT r.q_id, r.nn_id, max(p.s) AS mxs
         |  FROM rem$t r JOIN ps p ON p.q_id = r.q_id AND p.a = r.nn_id
         |  JOIN a${t - 1} s ON s.q_id = p.q_id AND s.nn_id = p.b
         |  GROUP BY r.q_id, r.nn_id
         |), pick$t AS MATERIALIZED (
         |  SELECT q_id, nn_id, $t AS mmr_rank, score FROM (
         |    SELECT r.q_id, r.nn_id, $score AS score,
         |           row_number() OVER (PARTITION BY r.q_id
         |             ORDER BY $score DESC, r.nn_id) AS rk
         |    FROM rem$t r LEFT JOIN mx$t m
         |      ON m.q_id = r.q_id AND m.nn_id = r.nn_id) x
         |  WHERE rk = 1
         |), a$t AS MATERIALIZED (
         |  SELECT * FROM a${t - 1} UNION ALL SELECT * FROM pick$t
         |)""".stripMargin
    }.mkString(",\n")
  }

  /** Unrolled TextRank rounds for the q_textrank oracle: 9-dp
    * contribution terms decimal-summed per node, damped update
    * re-rounded 9dp — the engine's fixpoint path replayed. */
  private[graft] def trRoundsSql(rounds: Int, damping: Double): String =
    (1 to rounds).map { t =>
      s"""tc$t AS MATERIALIZED (
         |  SELECT e.dst AS word,
         |    CAST(sum(CAST(round(e.frac * r.r, 9) AS DECIMAL(38,12))) AS DOUBLE) AS s
         |  FROM tre e JOIN tr${t - 1} r ON r.word = e.src GROUP BY e.dst
         |), tr$t AS MATERIALIZED (
         |  SELECT n.word,
         |    round((CAST(1 AS DOUBLE) - CAST($damping AS DOUBLE))
         |            / CAST((SELECT nn FROM trcnt) AS DOUBLE)
         |          + CAST($damping AS DOUBLE) * coalesce(c.s, CAST(0 AS DOUBLE)), 9) AS r
         |  FROM trnodes n LEFT JOIN tc$t c USING (word)
         |)""".stripMargin
    }.mkString(",\n")

  /** DuckDB CTE for quality features: qf(doc_id, n_tokens, punct_ratio,
    * stop_ratio, score). Shared by q_quality and q_curation.
    */
  private[graft] val QualityCte: String =
    """qf AS (
      |  SELECT doc_id, n_tokens, punct_ratio, stop_ratio,
      |         least(n_tokens / 64.0, 1.0) * 0.5
      |           + (1.0 - punct_ratio) * 0.3
      |           + least(stop_ratio * 4.0, 1.0) * 0.2 AS score
      |  FROM (
      |    SELECT doc_id,
      |           len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
      |           CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
      |             / greatest(length(text), 1) AS punct_ratio,
      |           CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |                                t -> t IN ('the','a','of','to','and'))) AS DOUBLE)
      |             / greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1) AS stop_ratio
      |    FROM documents) f
      |)""".stripMargin


  /** Planted-PII corpus for q_pii_redact (inline on both sides). */
  private[graft] val PiiRows: Seq[(Long, String)] = Seq(
    (1L, "contact me at alice@example.com or 555-123-4567"),
    (2L, "server at 192.168.0.1 responded to 10.0.0.255 fine"),
    (3L, "no identifiers in this row at all"),
    (4L, "bob@test.org cc carol.smith@mail.example.co same ip 8.8.8.8"),
    (5L, "call 555-000-1111 then 555-000-2222 about alice@example.com"))

  /** Shared oracle for the source round-trip queries: the parquet
    * truth the CSV/JSON copies must reproduce exactly.
    */
  private[graft] val DocsMetaOracle: String =
    "SELECT doc_id, lang, source, n_chars FROM documents ORDER BY doc_id"

  /** Shared oracle for q_welford (batch UDAF) and q_stream_welford_state
    * (the flatMapGroupsWithState custom-state mirror): both must land on
    * the same per-type count/mean/population-std.
    */
  /** Rolling-anomaly oracle — shared verbatim by the batch
    * (q_ts_anomaly) and streaming (q_stream_anomaly) gates, so the two
    * engines' parity is checked against one ANSI definition.
    */
  /** Shared oracle for q_als_round (standalone) and q_als_item
    * (wrapped): int64-exact user normal equations + Cramer solve.
    */
  private[graft] val AlsUserOracle: String =
    s"""WITH ${Ratings.OracleDedupCte},
       |f AS (
       |  SELECT user_id, rating,
       |         10 + item_id % 7 AS i1, 5 + item_id % 11 AS i2
       |  FROM ratings
       |), s AS (
       |  SELECT user_id, count(*) AS n_items,
       |         CAST(sum(i1 * i1) AS BIGINT) AS s11,
       |         CAST(sum(i1 * i2) AS BIGINT) AS s12,
       |         CAST(sum(i2 * i2) AS BIGINT) AS s22,
       |         CAST(sum(rating * i1) AS BIGINT) AS t1,
       |         CAST(sum(rating * i2) AS BIGINT) AS t2
       |  FROM f GROUP BY user_id
       |), m AS (
       |  SELECT user_id, n_items,
       |         CAST(s11 AS DOUBLE) / 100.0 + 0.1 AS a11,
       |         CAST(s12 AS DOUBLE) / 100.0 AS a12,
       |         CAST(s22 AS DOUBLE) / 100.0 + 0.1 AS a22,
       |         CAST(t1 AS DOUBLE) / 10.0 AS b1,
       |         CAST(t2 AS DOUBLE) / 10.0 AS b2
       |  FROM s
       |)
       |SELECT user_id, n_items,
       |       round((a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12), 6) + 0.0 AS x1,
       |       round((a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12), 6) + 0.0 AS x2
       |FROM m ORDER BY user_id""".stripMargin

  /** Shared oracle for q_attribution / q_stream_attribution: IGNORE
    * NULLS running last-touch under the (ts, event_id) total order.
    */
  private[graft] val AttributionOracle: String =
    """WITH t AS (
      |  SELECT user_id, ts, event_type, event_id,
      |         last_value(CASE WHEN event_type IN ('click', 'view', 'signup')
      |                         THEN struct_pack(t_us := epoch_us(ts),
      |                                          t_type := event_type,
      |                                          t_id := event_id)
      |                    END IGNORE NULLS)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |  FROM events
      |), c AS (
      |  SELECT user_id, event_id AS conv_event_id, epoch_us(ts) AS conv_ts_us,
      |         touch,
      |         touch IS NOT NULL
      |           AND epoch_us(ts) - touch.t_us <= 86400000000 AS in_w
      |  FROM t WHERE event_type = 'purchase'
      |)
      |SELECT user_id, conv_event_id, conv_ts_us,
      |       CASE WHEN in_w THEN touch.t_type END AS touch_type,
      |       CASE WHEN in_w THEN touch.t_id END AS touch_event_id,
      |       CASE WHEN in_w THEN (conv_ts_us - touch.t_us) // 60000000 END
      |         AS mins_since_touch
      |FROM c ORDER BY user_id, conv_event_id""".stripMargin

  private[graft] val TsAnomalyOracle: String =
    """WITH b AS (
      |  SELECT user_id, event_id, value,
      |         row_number() OVER wo AS seq,
      |         count(*) OVER wf AS n_prior,
      |         round(CAST(sum(CAST(value AS DECIMAL(28,12))) OVER wf AS DOUBLE)
      |               / count(*) OVER wf, 6) AS base_mean,
      |         round(stddev_pop(value) OVER wf, 6) AS base_std
      |  FROM events WHERE user_id < 30
      |  WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id),
      |         wf AS (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
      |), c AS (
      |  SELECT user_id, event_id, seq, value, n_prior, base_mean, base_std,
      |         CASE WHEN n_prior >= 4 AND base_std > 0
      |              THEN round((value - base_mean) / base_std, 4) + 0.0 END AS z
      |  FROM b
      |)
      |SELECT user_id, event_id, seq, value, n_prior, base_mean, base_std, z,
      |       coalesce(abs(z) > 3.0, FALSE) AS is_anomaly
      |FROM c ORDER BY user_id, seq""".stripMargin

  /** Shared DuckDB CTE chain for the exact-integer ACF lanes —
    * consumed by the q_acf oracle (publication) and the q_ljung_box
    * oracle (portmanteau aggregation on the same lanes).
    */
  private[graft] val AcfCtes: String =
    """WITH daily AS (
      |  SELECT event_type AS grp, epoch_us(ts) // 86400000000 AS day,
      |         sum(CAST(CAST(floor(value * 10) AS BIGINT) AS HUGEINT)) AS s
      |  FROM events GROUP BY 1, 2
      |), span AS (SELECT grp, min(day) AS d0, max(day) AS d1
      |            FROM daily GROUP BY grp),
      |grid AS (SELECT grp, unnest(generate_series(d0, d1)) AS day FROM span),
      |dense AS (
      |  SELECT g.grp, g.day, coalesce(d.s, CAST(0 AS HUGEINT)) AS s
      |  FROM grid g LEFT JOIN daily d ON g.grp = d.grp AND g.day = d.day
      |), lagged AS (
      |  SELECT grp, s,
      |         lag(s, 1) OVER w AS l1, lag(s, 2) OVER w AS l2,
      |         lag(s, 3) OVER w AS l3, lag(s, 4) OVER w AS l4,
      |         lag(s, 5) OVER w AS l5, lag(s, 6) OVER w AS l6,
      |         lag(s, 7) OVER w AS l7
      |  FROM dense WINDOW w AS (PARTITION BY grp ORDER BY day)
      |), pairs AS (
      |  SELECT grp, k, s, xl FROM (
      |    SELECT grp, s, r.k AS k,
      |           CASE r.k WHEN 1 THEN l1 WHEN 2 THEN l2 WHEN 3 THEN l3
      |                    WHEN 4 THEN l4 WHEN 5 THEN l5 WHEN 6 THEN l6
      |                    WHEN 7 THEN l7 END AS xl
      |    FROM lagged
      |    CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS k) r
      |  ) WHERE xl IS NOT NULL
      |), perk AS (
      |  SELECT grp, k, sum(s * xl) AS p_k, sum(xl) AS a_k, sum(s) AS b_k,
      |         CAST(count(*) AS BIGINT) AS n_pairs
      |  FROM pairs GROUP BY 1, 2
      |), tot AS (
      |  SELECT grp, CAST(count(*) AS HUGEINT) AS n, sum(s) AS t,
      |         sum(s * s) AS q
      |  FROM dense GROUP BY grp
      |)""".stripMargin

  private[graft] val WelfordOracle: String =
    """SELECT event_type, count(value) AS n, round(avg(value), 4) AS mean_value,
      |       round(stddev_pop(value), 4) AS std_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Shared signature CTE chain for the simhash oracle family:
    * bit-exact md5-derived SimHash reconstruction in pure SQL,
    * ending in `sigs(doc_id, sig)`.
    */
  private[graft] val SimhashSigsCte: String =
    """toks AS (
      |  SELECT doc_id, t AS token, count(*) AS cnt FROM (
      |    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
      |    FROM documents) x
      |  GROUP BY doc_id, t
      |), hashed AS (
      |  SELECT doc_id, cnt, ('0x' || substring(md5(token), 1, 15))::BIGINT AS h
      |  FROM toks
      |), bitw AS (
      |  SELECT doc_id, i,
      |         sum(CASE WHEN (h >> CAST(i AS INTEGER)) & 1 = 1 THEN cnt ELSE -cnt END) AS w
      |  FROM hashed, range(60) r(i) GROUP BY doc_id, i
      |), sigs AS (
      |  SELECT doc_id,
      |         CAST(sum(CASE WHEN w > 0 THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END) AS BIGINT) AS sig
      |  FROM bitw GROUP BY doc_id
      |)""".stripMargin

  /** Shared oracle for q_naive_bayes (standalone) and q_confusion
    * (wrapped as a CTE): the full NB replay — same counts, 9-dp ln
    * terms, decimal sums, row_number argmax.
    */
  private[graft] val NaiveBayesOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, lang AS label,
      |         regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      |  FROM documents
      |), trtok AS (
      |  SELECT label, unnest(ws) AS w FROM toks WHERE doc_id % 5 <> 0
      |), cwc AS (
      |  SELECT label, w, count(*) AS cwc FROM trtok GROUP BY label, w
      |), cls AS (
      |  SELECT label, count(*) AS nc FROM trtok GROUP BY label
      |), nd AS (
      |  SELECT label, count(*) AS ndc FROM toks WHERE doc_id % 5 <> 0 GROUP BY label
      |), ntot AS (
      |  SELECT count(*) AS n FROM toks WHERE doc_id % 5 <> 0
      |), voc AS (
      |  SELECT count(DISTINCT w) AS v FROM trtok
      |), classes AS (
      |  SELECT cls.label AS c, cls.nc,
      |         round(ln(CAST(nd.ndc AS DOUBLE) / CAST(ntot.n AS DOUBLE)), 9) AS prior
      |  FROM cls JOIN nd USING (label), ntot
      |), evtok AS (
      |  SELECT doc_id, label AS true_label, unnest(ws) AS w
      |  FROM toks WHERE doc_id % 5 = 0
      |), terms AS (
      |  SELECT e.doc_id, e.true_label, k.c, k.prior,
      |         round(ln(CAST(coalesce(cwc.cwc, 0) + 1 AS DOUBLE)
      |                  / CAST(k.nc + voc.v AS DOUBLE)), 9) AS t
      |  FROM evtok e CROSS JOIN classes k CROSS JOIN voc
      |  LEFT JOIN cwc ON cwc.label = k.c AND cwc.w = e.w
      |), scores AS (
      |  SELECT doc_id, true_label, c,
      |         sum(CAST(t AS DECIMAL(28,12))) + CAST(any_value(prior) AS DECIMAL(28,12)) AS score
      |  FROM terms GROUP BY doc_id, true_label, c
      |)
      |SELECT doc_id, true_label, c AS pred_label, c = true_label AS correct,
      |       CAST(round(score, 6) AS DOUBLE) AS logp
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |                                   ORDER BY score DESC, c) AS rn
      |      FROM scores) x
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Shared oracle for q_simhash / q_sql_simhash. */
  private[graft] val SimhashOracle: String =
    s"WITH $SimhashSigsCte\nSELECT doc_id, sig FROM sigs ORDER BY doc_id"

  /** Shared oracle for q_sessionize / q_stream_sessionize: the
    * gaps-and-islands mirror of `session_window` (split strictly
    * beyond the 30-minute gap — see NOTES.md on exact-gap merging).
    */
  private[graft] val SessionizeOracle: String =
    """WITH m AS (
      |  SELECT user_id, ts,
      |         CASE WHEN lag(ts) OVER w IS NULL THEN 1
      |              WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
      |              ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), s AS (
      |  SELECT user_id, ts,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                        ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m
      |)
      |SELECT user_id, epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
      |       count(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, start_us""".stripMargin

  /** Shared oracle for q_range_join / q_range_join_rule: DuckDB's own
    * (naive) inequality join over the same 20 maintenance windows.
    */
  private[graft] val RangeJoinOracle: String =
    s"""WITH w AS (
       |  SELECT i AS w_id,
       |         TIMESTAMP '2024-01-01 00:00:00' + to_hours(36 * i) AS w_start,
       |         TIMESTAMP '2024-01-01 00:00:00' + to_hours(36 * i + 48) AS w_end
       |  FROM range(20) t(i)
       |)
       |SELECT w.w_id, count(*) AS n, ${decMeanSql("e.value")} AS mean_value
       |FROM events e JOIN w ON e.ts >= w.w_start AND e.ts <= w.w_end
       |GROUP BY w.w_id ORDER BY w.w_id""".stripMargin

  /** DuckDB CTE mirroring [[MultimodalOps.asMedia]]'s metadata. */
  private[graft] val MediaCte: String =
    """media AS (
      |  SELECT doc_id AS media_id,
      |         (['image','audio','video'])[CAST(doc_id % 3 + 1 AS INTEGER)] AS kind,
      |         CAST(16 + n_chars % 241 AS INTEGER) AS width,
      |         CAST(16 + (n_chars * 7) % 241 AS INTEGER) AS height,
      |         CAST(1 + (doc_id * 13) % 120 AS INTEGER) AS n_frames
      |  FROM documents
      |)""".stripMargin

  /** Exact decimal dot product between two aliased `v` rows (DuckDB). */
  private[graft] def DotSql(a: String, b: String): String =
    s"""CAST(sum(CAST(CAST($a.embedding[d+1] AS DOUBLE) * CAST($b.embedding[d+1] AS DOUBLE)
       |          AS DECIMAL(38,18))) AS DOUBLE)""".stripMargin

  /** Shared DuckDB CTEs for cosine queries: v (vectors) + nrm (norms). */
  private[graft] val CosineCte: String =
    s"""v AS (SELECT vec_id, embedding FROM embeddings),
       |nrm AS (
       |  SELECT vec_id, sqrt(CAST(sum(CAST(CAST(embedding[d+1] AS DOUBLE)
       |         * CAST(embedding[d+1] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)) AS nrm
       |  FROM v, range(64) r(d) GROUP BY vec_id
       |)""".stripMargin

  /** DuckDB inverted-index shingle CTEs (3-gram, distinct per doc):
    * sh(doc_id, s), sz(doc_id, n), co(da, db, inter). `range(2000)`
    * caps docs at ~2000 words (corpus max is ~100).
    */
  private[graft] def ShingleCte(src: String): String =
    s"""toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM $src
       |), sh AS (
       |  SELECT DISTINCT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
       |  FROM toks JOIN range(2000) t(i) ON i + 3 <= len(ws)
       |), sz AS (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
       |), co AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |)""".stripMargin

  /** [[ShingleCte]] with the pair table PREFIX-FILTERED — the exact
    * same (sh, sz, co ⊇ all pairs with Jaccard ≥ `minJac`) contract,
    * feasible on corpora where the naive shared-shingle self-join
    * explodes (zipf_sf10: hot trigrams appear in ~16k docs each, so
    * plain `co` is ~1e9+ pairs and DuckDB OOMs at 48 GB). Losslessness
    * is the prefix-filtering principle (Chaudhuri et al., ICDE'06;
    * ppjoin Lemma 1, Xiao et al., WWW'08): under ONE global total
    * order (ascending document frequency, ties by shingle text), if
    * |A∩B| ≥ α then the (|A|−α+1)-prefix of A and the (|B|−α+1)-prefix
    * of B share an element; Jaccard ≥ t gives |A∩B| ≥ ⌈t·max(|A|,|B|)⌉,
    * so the per-set (n − ⌈t·n⌉ + 1)-prefixes suffice. Candidates from
    * the prefix join are then verified with their EXACT intersection
    * size — pairs below t may drop out of `co`, pairs at/above t never
    * do, and every consumer filters at ≥ t. MATERIALIZED throughout
    * (each CTE is referenced repeatedly downstream).
    */
  private[graft] def ShinglePrefixCte(src: String, minJac: Double): String =
    s"""toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM $src
       |), sh AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
       |  FROM toks JOIN range(2000) t(i) ON i + 3 <= len(ws)
       |), sz AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
       |), sdf AS MATERIALIZED (
       |  SELECT s, count(*) AS df FROM sh GROUP BY s
       |), pfx AS MATERIALIZED (
       |  SELECT doc_id, s FROM (
       |    SELECT sh.doc_id, sh.s,
       |           row_number() OVER (PARTITION BY sh.doc_id
       |                              ORDER BY sdf.df, sh.s) AS rk,
       |           count(*) OVER (PARTITION BY sh.doc_id) AS n
       |    FROM sh JOIN sdf USING (s)) q
       |  WHERE rk <= n - CAST(ceil($minJac * n) AS BIGINT) + 1
       |), cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM pfx a JOIN pfx b ON a.s = b.s AND a.doc_id < b.doc_id
       |), co AS MATERIALIZED (
       |  SELECT c.da, c.db, count(*) AS inter
       |  FROM cand c
       |  JOIN sh a ON a.doc_id = c.da
       |  JOIN sh b ON b.doc_id = c.db AND b.s = a.s
       |  GROUP BY c.da, c.db
       |)""".stripMargin

  /** DuckDB CTE chain mirroring CFOps (support filters → centering →
    * cosine similarities → 50-neighbor cap) for targets (3, 7).
    */
  private[graft] val CfCte: String =
    """items_ok AS (
      |  SELECT item_id FROM ratings GROUP BY item_id
      |  HAVING count(DISTINCT user_id) >= 25
      |), r1 AS (
      |  SELECT r.* FROM ratings r JOIN items_ok USING (item_id)
      |), users_ok AS (
      |  SELECT user_id FROM r1 GROUP BY user_id
      |  HAVING count(DISTINCT item_id) >= 5
      |), r2 AS MATERIALIZED (
      |  SELECT r1.* FROM r1 JOIN users_ok USING (user_id)
      |), centered AS MATERIALIZED (
      |  SELECT user_id, item_id, rating,
      |         rating - avg(rating) OVER (PARTITION BY item_id) AS rc
      |  FROM r2
      |), norms AS (
      |  SELECT item_id,
      |         sqrt(CAST(sum(CAST(rc * rc AS DECIMAL(30,15))) AS DOUBLE)) AS nrm
      |  FROM centered GROUP BY item_id
      |), tvec AS (
      |  SELECT * FROM centered WHERE item_id IN (3, 7)
      |), dots AS (
      |  SELECT c.item_id, t.item_id AS t_item,
      |         CAST(sum(CAST(c.rc * t.rc AS DECIMAL(30,15))) AS DOUBLE) AS dot,
      |         count(*) AS n_common
      |  FROM centered c JOIN tvec t
      |    ON c.user_id = t.user_id AND c.item_id <> t.item_id
      |  GROUP BY c.item_id, t.item_id
      |), sims AS (
      |  SELECT d.t_item, d.item_id, d.dot / (ni.nrm * nt.nrm) AS sim, d.n_common
      |  FROM dots d
      |  JOIN norms ni ON ni.item_id = d.item_id
      |  JOIN norms nt ON nt.item_id = d.t_item
      |  WHERE d.n_common >= 2 AND ni.nrm > 0 AND nt.nrm > 0
      |    AND d.dot / (ni.nrm * nt.nrm) > 0
      |), nbrs AS (
      |  SELECT t_item, item_id, sim, n_common FROM (
      |    SELECT *, row_number() OVER (PARTITION BY t_item
      |                                 ORDER BY sim DESC, item_id) AS rn
      |    FROM sims) x
      |  WHERE rn <= 50
      |)""".stripMargin

  /** DuckDB CTE mirroring [[regObs]] (dense top-k word observations). */
  private[graft] val RegObsCte: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '((?:[\.,!?;"])|(?:(?:\#|\@)?[A-Za-z0-9_\-]+(?:''[a-z]{1,3})?))', 1)) AS word
      |  FROM documents
      |), doclen AS (
      |  SELECT doc_id, count(*) AS total FROM toks GROUP BY doc_id
      |), tf AS (
      |  SELECT doc_id, word, count(*) AS cnt FROM toks GROUP BY doc_id, word
      |), top AS (
      |  SELECT word FROM toks GROUP BY word ORDER BY count(*) DESC, word LIMIT 20
      |), d AS (
      |  SELECT doc_id, CAST(1 + n_chars % 5 AS DOUBLE) AS y,
      |         CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS DOUBLE) AS c
      |  FROM documents
      |), dense AS (
      |  SELECT t.word, d.doc_id,
      |         CAST(coalesce(tf.cnt, 0) AS DOUBLE) / dl.total AS x, d.y, d.c
      |  FROM d JOIN doclen dl ON dl.doc_id = d.doc_id
      |  CROSS JOIN top t
      |  LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.word = t.word
      |)""".stripMargin

  /** DuckDB CTE chain: per-word multi-regression t + EXACT Student-t
    * two-sided p via the elementary finite series (Abramowitz & Stegun
    * 26.7.3/4) evaluated by a recursive CTE — extracted r8 so
    * q_reg_pvalues and q_fdr_bh share one replay. Appends to
    * [[RegObsCte]] (which must be opened as WITH RECURSIVE); exposes
    * `pfin(word, t1, p1)`.
    */
  private[graft] val PvalCtes: String =
    """st AS (
      |  SELECT word, count(*) AS n, corr(x, y) AS ry1, corr(c, y) AS ry2,
      |         corr(x, c) AS r12
      |  FROM dense GROUP BY word
      |), ts AS (
      |  SELECT word, CAST(n - 3 AS BIGINT) AS nu,
      |         ((ry1 - ry2 * r12) / (1 - r12 * r12))
      |           * sqrt((n - 3) * (1 - r12 * r12)
      |                  / (1 - (ry1*ry1 + ry2*ry2 - 2*ry1*ry2*r12) / (1 - r12*r12))) AS t1
      |  FROM st
      |), pv AS (
      |  SELECT word, nu, t1, atan(abs(t1) / sqrt(CAST(nu AS DOUBLE))) AS theta
      |  FROM ts
      |), ser AS (
      |  SELECT word, nu, theta, cos(theta) * cos(theta) AS c2,
      |         CAST(CASE WHEN nu % 2 = 1 THEN 1 ELSE 0 END AS BIGINT) AS e,
      |         CASE WHEN nu % 2 = 1 THEN cos(theta) ELSE 1.0 END AS term,
      |         CASE WHEN nu % 2 = 1 THEN (CASE WHEN nu >= 3 THEN cos(theta) ELSE 0.0 END)
      |              ELSE 1.0 END AS acc
      |  FROM pv
      |  UNION ALL
      |  SELECT word, nu, theta, c2, e + 2,
      |         term * c2 * (e + 1) / (e + 2),
      |         acc + term * c2 * (e + 1) / (e + 2)
      |  FROM ser WHERE e + 2 <= nu - 2
      |), tail AS (
      |  SELECT word, arg_max(acc, e) AS s, any_value(nu) AS nu,
      |         any_value(theta) AS theta
      |  FROM ser GROUP BY word
      |), pfin AS (
      |  SELECT t.word, t.t1,
      |         1.0 - (CASE WHEN f.nu % 2 = 1
      |                     THEN 2.0 / pi() * (f.theta + sin(f.theta) * f.s)
      |                     ELSE sin(f.theta) * f.s END) AS p1
      |  FROM ts t JOIN tail f ON f.word = t.word
      |)""".stripMargin
}
