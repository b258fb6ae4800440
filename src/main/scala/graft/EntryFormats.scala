package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import graft.EntryHelpers._

/** file formats, join shapes, sessionization, range joins, multimodal codecs, streaming sinks.
  *
  * One registry slice of [[SparkEntry]]: `queries` declares each gated
  * Spark pipeline once, as a [[Query]] beside the DuckDB replay the
  * driver hash-compares it against.
  */
private[graft] object EntryFormats {

  val queries: Seq[Query] = Seq(
    // §2.1 S2/S3 driver-gated: documents metadata round-tripped through
    // the CSV and JSON-lines sources (write to scratch, read back with
    // an explicit schema — the reference's file-shaped inputs). The
    // oracle reads the parquet table directly, so a lossy or misparsed
    // round trip hash-mismatches.
    Query("q_csv_roundtrip", (s, dir) => {
      val path = s"/tmp/graft_src_${new java.io.File(dir).getName}/docs_csv"
      val meta = Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars")
      meta.write.mode("overwrite").option("header", "true").csv(path)
      s.read.schema(meta.schema).option("header", "true").csv(path)
        .orderBy("doc_id")
    }, DocsMetaOracle),
    Query("q_json_roundtrip", (s, dir) => {
      val path = s"/tmp/graft_src_${new java.io.File(dir).getName}/docs_json"
      val meta = Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars")
      meta.write.mode("overwrite").json(path)
      s.read.schema(meta.schema).json(path)
        .orderBy("doc_id")
    }, DocsMetaOracle),
    // The reference's ACTUAL input format is gzip-compressed JSON-lines
    // (`Assignment 3/a3_p1.py:12` reads hdfs:/data/Software_5.json.gz).
    // Same round trips through the codec path — the writes produce .gz
    // part files, the reads decompress via the file-extension codec
    // resolution any Hadoop-compatible path uses — against the same
    // parquet-truth oracle, so a codec or parse fault hash-mismatches.
    // gzip codec path: same truth — only the file format differs
    Query("q_csv_gz", (s, dir) => {
      val path = s"/tmp/graft_src_${new java.io.File(dir).getName}/docs_csv_gz"
      val meta = Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars")
      meta.write.mode("overwrite").option("header", "true")
        .option("compression", "gzip").csv(path)
      s.read.schema(meta.schema).option("header", "true").csv(path)
        .orderBy("doc_id")
    }, DocsMetaOracle),
    Query("q_json_gz", (s, dir) => {
      val path = s"/tmp/graft_src_${new java.io.File(dir).getName}/docs_json_gz"
      val meta = Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars")
      meta.write.mode("overwrite").option("compression", "gzip").json(path)
      s.read.schema(meta.schema).json(path)
        .orderBy("doc_id")
    }, DocsMetaOracle),
    // ORC — the second columnar format bundled with Spark (typed,
    // striped, predicate-pushdown-capable like parquet); a 100 TB lake
    // is rarely single-format, so the engine gates both.
    Query("q_orc_roundtrip", (s, dir) => {
      val path = s"/tmp/graft_src_${new java.io.File(dir).getName}/docs_orc"
      val meta = Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars")
      meta.write.mode("overwrite").orc(path)
      s.read.schema(meta.schema).orc(path)
        .orderBy("doc_id")
    }, DocsMetaOracle),
    // Parquet re-write under zstd — the compression codec current
    // training-data pipelines standardize on (better ratio than snappy
    // at comparable read speed); gates the codec path end to end.
    Query("q_parquet_zstd", (s, dir) => {
      val path = s"/tmp/graft_src_${new java.io.File(dir).getName}/docs_pq_zstd"
      val meta = Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars")
      meta.write.mode("overwrite").option("compression", "zstd").parquet(path)
      s.read.parquet(path)
        .orderBy("doc_id")
    }, DocsMetaOracle),
    // Schema evolution across parquet batches — the data-lake reality
    // that ingest batches gain columns over time. Even doc ids land in
    // an old-schema batch (doc_id, lang), odd ids in the widened one
    // (+ source, n_chars); `mergeSchema` reconciles on read and the
    // old batch's missing columns surface as nulls (coalesced to
    // sentinels so the oracle's CASE mirrors them exactly).
    // the old-schema batch (even ids) lost source/n_chars on write; the
    // merged read must resurface exactly those rows with the sentinels
    Query("q_schema_evolution", (s, dir) => {
      val path = s"/tmp/graft_src_${new java.io.File(dir).getName}/docs_evo"
      val meta = Tables.documents(s, dir)
      meta.filter(pmod(col("doc_id"), lit(2L)) === 0)
        .select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$path/v1")
      meta.filter(pmod(col("doc_id"), lit(2L)) === 1)
        .select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$path/v2")
      s.read.option("mergeSchema", "true").parquet(s"$path/v1", s"$path/v2")
        .select(col("doc_id"), col("lang"),
          coalesce(col("source"), lit("_absent")).as("source"),
          coalesce(col("n_chars"), lit(-1L)).as("n_chars"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang,
        |       CASE WHEN doc_id % 2 = 0 THEN '_absent' ELSE source END AS source,
        |       CASE WHEN doc_id % 2 = 0 THEN -1 ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Relational completeness: FULL OUTER reconciliation — custkeys
    // with orders vs high-balance customers; genuine nulls on BOTH
    // sides (ordering customers below the balance bar, rich customers
    // who never ordered), collapsed to sentinels so the gate is
    // null-representation-proof across engines.
    Query("q_full_outer", (s, dir) => {
      val withOrders = Tables.orders(s, dir)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"))
      val rich = Tables.customer(s, dir).filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("custkey"), col("c_acctbal"))
      withOrders.join(rich, Seq("custkey"), "full_outer")
        .select(col("custkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          round(coalesce(col("c_acctbal"), lit(-1.0)), 2).as("acctbal"))
        .orderBy("custkey")
    },
      """WITH wo AS (
        |  SELECT o_custkey AS custkey, count(*) AS n_orders FROM orders GROUP BY 1
        |), rich AS (
        |  SELECT c_custkey AS custkey, c_acctbal FROM customer WHERE c_acctbal > 9000
        |)
        |SELECT coalesce(wo.custkey, rich.custkey) AS custkey,
        |       coalesce(wo.n_orders, 0) AS n_orders,
        |       round(coalesce(rich.c_acctbal, -1.0), 2) AS acctbal
        |FROM wo FULL OUTER JOIN rich ON wo.custkey = rich.custkey
        |ORDER BY custkey""".stripMargin),
    // Relational completeness: PIVOT — per-source doc counts spread
    // across the five language columns (explicit value list, so the
    // plan is ONE aggregate pass — no per-language scans).
    Query("q_pivot", (s, dir) =>
      Tables.documents(s, dir).groupBy("source")
        .pivot("lang", Seq("de", "en", "es", "fr", "zh")).count()
        .select(col("source") +: Seq("de", "en", "es", "fr", "zh")
          .map(l => coalesce(col(l), lit(0L)).as(l)): _*)
        .orderBy("source"),
      """SELECT source,
        |       count(CASE WHEN lang = 'de' THEN 1 END) AS de,
        |       count(CASE WHEN lang = 'en' THEN 1 END) AS en,
        |       count(CASE WHEN lang = 'es' THEN 1 END) AS es,
        |       count(CASE WHEN lang = 'fr' THEN 1 END) AS fr,
        |       count(CASE WHEN lang = 'zh' THEN 1 END) AS zh
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),
    // §2.7 set ops beyond EXCEPT: INTERSECT (custkeys with orders AND
    // high balance).
    Query("q_intersect", (s, dir) =>
      Tables.orders(s, dir).select(col("o_custkey").as("custkey"))
        .intersect(Tables.customer(s, dir).filter(col("c_acctbal") > 5000)
          .select(col("c_custkey").as("custkey")))
        .orderBy("custkey"),
      """SELECT custkey FROM (
        |  (SELECT DISTINCT o_custkey AS custkey FROM orders)
        |  INTERSECT
        |  (SELECT DISTINCT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000)
        |) t ORDER BY custkey""".stripMargin),
    // Beyond the reference: the TPC-H Q5 shape — a 6-way star join
    // (region→nation→supplier ⋈ customer→orders→lineitem with the
    // local-supplier correlation) declared relationally and left to
    // Catalyst: the dim chain broadcasts, filters push into the scans,
    // and the fact side shuffles only on its join keys. Exercises the
    // four otherwise-dim-only tables (region/nation/supplier/part are
    // the star schema's lookup side at 100 TB).
    Query("q_star_join", (s, dir) => {
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      val su = Tables.supplier(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(su, l("l_suppkey") === su("s_suppkey")
          && c("c_nationkey") === su("s_nationkey"))
        .join(n, su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(n("n_name").as("n_name"))
        .agg(round(sum((l("l_extendedprice") * (lit(1) - l("l_discount")))
          .cast("decimal(28,12)")).cast("double"), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    },
      """SELECT n_name,
        |       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,12))) AS DOUBLE), 4) AS revenue,
        |       count(*) AS n_items
        |FROM region, nation, customer, orders, lineitem, supplier
        |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey
        |  AND s_nationkey = n_nationkey AND c_nationkey = s_nationkey
        |  AND o_custkey = c_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    // Beyond the reference: hierarchical aggregation (ROLLUP) — the
    // partial-agg tree Catalyst plans for grouping sets.
    Query("q_rollup", (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(28,12)")).cast("double").as("sum_qty"))
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          round(col("sum_qty"), 4).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(28,12))) AS DOUBLE), 4) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    // Beyond the reference: CUBE — all grouping-set combinations from
    // one expand + one exchange (completes the grouping-set family
    // next to q_rollup).
    Query("q_cube", (s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(28,12)")).cast("double").as("sum_qty"))
        .select(col("l_returnflag"), col("l_linestatus"), col("n"),
          round(col("sum_qty"), 4).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(CAST(sum(CAST(l_quantity AS DECIMAL(28,12))) AS DOUBLE), 4) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),
    // Beyond the reference: exact percentiles (sort-based, interpolated
    // — matches DuckDB quantile_cont bit-for-bit after rounding).
    Query("q_percentiles", (s, dir) =>
      Tables.events(s, dir).groupBy("event_type")
        .agg(expr("percentile(value, array(0.5D, 0.9D))").as("q"))
        .select(col("event_type"), round(col("q")(0), 4).as("med_value"),
          round(col("q")(1), 4).as("p90_value"))
        .orderBy("event_type"),
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 4) AS med_value,
        |       round(quantile_cont(value, 0.9), 4) AS p90_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Beyond the reference: AS-OF join — point-in-time-correct lookup
    // of each purchase's latest preceding view per user. Sort-based
    // rewrite (one keyed exchange, no inequality-join pair explosion);
    // oracle = DuckDB's native ASOF LEFT JOIN.
    Query("q_asof_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      // deterministic representative per (user, ts) — the asOfJoin tie
      // contract; max_by/arg_max match across engines
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts")
        .agg(max_by(col("value"), col("event_id")).as("v_value"),
          max(col("event_id")).as("v_event"))
      TemporalOps.asOfJoin(purchases, views, Seq("user_id"), "ts",
        Seq("v_event", "v_value"))
        .select(col("user_id"), col("event_id").as("p_event"),
          unix_micros(col("ts")).as("p_ts_us"),
          col("asof_v_event").as("v_event"),
          round(col("asof_v_value"), 4).as("v_value"))
        .orderBy("user_id", "p_event")
    },
      """WITH p AS (
        |  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'purchase'
        |), v AS (
        |  SELECT user_id, ts, arg_max(value, event_id) AS v_value,
        |         max(event_id) AS v_event
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
        |)
        |SELECT p.user_id, p.event_id AS p_event, epoch_us(p.ts) AS p_ts_us,
        |       v.v_event, round(v.v_value, 4) AS v_value
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        |ORDER BY p.user_id, p_event""".stripMargin),
    // Beyond the reference: sessionization — 30-minute-gap session
    // windows per user (merging session agg; streaming-capable).
    Query("q_sessionize", (s, dir) =>
      TemporalOps.sessionize(Tables.events(s, dir), Seq("user_id"), "ts", "30 minutes")
        .select(col("user_id"), unix_micros(col("s_start")).as("start_us"),
          unix_micros(col("s_end")).as("end_us"), col("n_events"))
        .orderBy("user_id", "start_us"),
      SessionizeOracle),
    // The SAME sessionization run as a REAL stream: AvailableNow over
    // the parquet source with a watermark, merging session_window state
    // across micro-batches, memory sink — hash-matched against the
    // same DuckDB oracle as the batch q_sessionize, so the streaming
    // session path is part of the correctness gate end to end (the
    // unit parity test in TemporalOpsSpec covers multi-batch merging).
    // identical semantics by construction: the streaming session run
    // must converge to exactly the batch answer
    Query("q_stream_sessionize", (s, dir) => {
      val stream = Tables.eventsStream(s, dir)
      val sessions = TemporalOps.sessionize(
        stream.withWatermark("ts", "24 hours"), Seq("user_id"), "ts", "30 minutes")
      memorySinkRun(sessions, "sessionize", "complete")
        .select(col("user_id"), unix_micros(col("s_start")).as("start_us"),
          unix_micros(col("s_end")).as("end_us"), col("n_events"))
        .orderBy("user_id", "start_us")
    }, SessionizeOracle),
    // Beyond the reference: range (interval-containment) join — events
    // against 20 OVERLAPPING 48h maintenance windows on a 36h stride,
    // via the bucketized equi-join rewrite (no nested-loop product).
    // Aggregated per window so the oracle output stays small.
    Query("q_range_join", (s, dir) => {
      val ev = Tables.events(s, dir).select("ts", "value")
      TemporalOps.rangeJoinPoints(ev, "ts", maintenanceWindows(s), "w_start", "w_end",
        48 * HourUs)
        .groupBy("w_id")
        .agg(count(lit(1)).as("n"), decMean(col("value")).as("mean_value"))
        .orderBy("w_id")
    }, RangeJoinOracle),
    // The SAME range join written the NAIVE way — `ts BETWEEN w_start
    // AND w_end` as a raw inequality inner join, which Spark alone
    // plans as BroadcastNestedLoopJoin — with the RewriteRangeJoin
    // optimizer rule enabled: the rule rewrites it to the bucketized
    // equi-join automatically (plan gated in PlanShapeSpec: no nested
    // loop survives). Hash-matches q_range_join's oracle, so the
    // rule's semantics-preservation claim is re-proven by the driver
    // gate every round, not just in unit tests.
    // identical semantics by construction — the rule-driven naive join
    // must hash-match the explicit bucketized operator's oracle
    Query("q_range_join_rule", (s, dir) => {
      graft.plans.RewriteRangeJoin.ensure(s)
      // the conf must outlive this builder (optimization runs lazily at
      // action time), so it stays set on the session; the rule only
      // matches inner joins whose condition is exactly a timestamp
      // band, so no other registered query's plan can change
      s.conf.set("spark.graft.rangeJoin.bucketWidthUs", (48 * HourUs).toString)
      val ev = Tables.events(s, dir).select("ts", "value")
      ev.join(maintenanceWindows(s),
          col("ts") >= col("w_start") && col("ts") <= col("w_end"))
        .groupBy("w_id")
        .agg(count(lit(1)).as("n"), decMean(col("value")).as("mean_value"))
        .orderBy("w_id")
    }, RangeJoinOracle),
    // Beyond the reference: ordered analytic window — per-user running
    // event count and running value sum by event time.
    Query("q_window_running", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir).filter(col("user_id") < 20)
        .select(col("user_id"), col("event_id"),
          row_number().over(w).as("event_seq"),
          // decimal-domain round, cast after (r8 divergence-#6 rule)
          round(sum(col("value").cast("decimal(28,12)")).over(w), 4)
            .cast("double").as("running_value"))
        .orderBy("user_id", "event_seq")
    },
      """SELECT user_id, event_id,
        |       row_number() OVER w AS event_seq,
        |       CAST(round(sum(CAST(value AS DECIMAL(28,12))) OVER w, 4) AS DOUBLE) AS running_value
        |FROM events WHERE user_id < 20
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_seq""".stripMargin),
    // Skew-safe join: events keyed by event_type (5 distinct values —
    // key cardinality far below cluster parallelism, so an unsalted
    // shuffle join runs on ≤ 5 reducers no matter the cluster size;
    // AQE can split a skewed partition but never a single hot KEY).
    // PlanUtils.saltedJoin splits every key across 8 salted reducers;
    // the shuffle_hash hint keeps the tiny dim from broadcasting so
    // the gated plan exercises the salted SHUFFLE path it exists for.
    // The oracle is the plain unsalted join — hash equality proves
    // row-identity every round (also plan-gated in PlanUtilsSpec).
    // plain unsalted join: equality proves saltedJoin's row-identity
    Query("q_salted_join", (s, dir) => {
      import s.implicits._
      val dim = Seq(("click", 1.0), ("error", 0.25), ("purchase", 10.0),
        ("signup", 5.0), ("view", 0.5)).toDF("event_type", "weight")
      val ev = Tables.events(s, dir).select("event_type", "value").hint("shuffle_hash")
      PlanUtils.saltedJoin(ev, dim, "event_type", col("value"), 8)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum((col("value") * col("weight")).cast("decimal(28,12)"))
            .cast("double"), 4).as("weighted_value"))
        .orderBy("event_type")
    },
      """WITH dim(event_type, weight) AS (VALUES
        |  ('click', 1.0), ('error', 0.25), ('purchase', 10.0),
        |  ('signup', 5.0), ('view', 0.5))
        |SELECT e.event_type, count(*) AS n,
        |       round(CAST(sum(CAST(e.value * d.weight AS DECIMAL(28,12))) AS DOUBLE), 4)
        |         AS weighted_value
        |FROM events e JOIN dim d USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),
    // Multimodal: metadata-only resize plan over binary media rows.
    Query("q_mm_resize", (s, dir) =>
      MultimodalOps.resizePlan(MultimodalOps.asMedia(Tables.documents(s, dir)), 128)
        .orderBy("media_id"),
      s"""WITH $MediaCte
         |SELECT media_id, kind, width, height,
         |       CASE WHEN greatest(width, height) > 128
         |            THEN CAST(floor(width * 128.0 / greatest(width, height)) AS INTEGER)
         |            ELSE width END AS out_w,
         |       CASE WHEN greatest(width, height) > 128
         |            THEN CAST(floor(height * 128.0 / greatest(width, height)) AS INTEGER)
         |            ELSE height END AS out_h
         |FROM media ORDER BY media_id""".stripMargin),
    // Multimodal: every-7th-frame sampling for video rows — a
    // METADATA-ONLY plan by design (the scale posture: a video pipeline
    // samples frame indices first and decodes only those; the real
    // decode counterpart is q_mm_video_real).
    Query("q_mm_frames", (s, dir) =>
      MultimodalOps.sampleFrames(MultimodalOps.asMedia(Tables.documents(s, dir)), 7)
        .orderBy("media_id", "frame_no"),
      s"""WITH $MediaCte
         |SELECT media_id, n_frames, CAST(f AS INTEGER) AS frame_no
         |FROM media CROSS JOIN unnest(range(0, CAST(n_frames AS BIGINT), 7)) AS t(f)
         |WHERE kind = 'video'
         |ORDER BY media_id, frame_no""".stripMargin),
    // Multimodal STUB tier (named as such): batched binary decode with
    // the deterministic md5 placeholder kernel through real
    // Dataset.mapPartitions plumbing, exploded per dim. Gates the BATCH
    // SHAPE a drop-in production decoder inherits; the real-codec gates
    // (q_mm_decode_real / q_mm_jpeg / q_mm_audio_real / q_mm_video_real)
    // gate actual codecs.
    Query("q_mm_decode_stub", (s, dir) =>
      MultimodalOps.decodeFeatures(MultimodalOps.asMedia(Tables.documents(s, dir)), 8)
        .toDF()
        .select(col("media_id"), col("n_bytes"), posexplode(col("features")))
        .select(col("media_id"), col("n_bytes"), col("pos").as("d"),
          round(col("col").cast("double"), 6).as("f"))
        .orderBy("media_id", "d"),
      """SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
        |       CAST(d AS INTEGER) AS d,
        |       round(CAST(('0x' || substring(md5(text || ':' || CAST(d AS VARCHAR)), 1, 6)) AS BIGINT)
        |             / 16777216.0, 6) AS f
        |FROM documents CROSS JOIN range(8) t(d)
        |ORDER BY media_id, d""".stripMargin),
    // Multimodal: the REAL codec path — deterministic pixel patterns
    // rendered and encoded to genuine PNG bytes, decoded back through
    // javax.imageio, reduced to exact per-channel pixel sums. The
    // oracle recomputes the sums from the pixel formula with no codec
    // anywhere, so a green row proves the engine's encode→decode round
    // trip is bit-lossless through a real image format.
    // codec-free recomputation of the decoded per-channel sums straight
    // from the deterministic pixel formula (MultimodalOps.pixelChannels)
    Query("q_mm_decode_real", (s, dir) =>
      MultimodalOps.decodePngStats(MultimodalOps.encodePng(
          MultimodalOps.syntheticImageMeta(Tables.documents(s, dir))))
        .toDF()
        .orderBy("media_id"),
      """WITH meta AS (
        |  SELECT doc_id AS media_id,
        |         8 + (doc_id % 25) AS w, 8 + ((doc_id * 7) % 25) AS h
        |  FROM documents
        |)
        |SELECT media_id, CAST(w * h AS BIGINT) AS n_px,
        |       CAST(sum((7*x + 3*y + (media_id % 256)) % 256) AS BIGINT) AS r_sum,
        |       CAST(sum((5*x + 11*y + 2*(media_id % 256)) % 256) AS BIGINT) AS g_sum,
        |       CAST(sum((13*x + 17*y + 3*(media_id % 256)) % 256) AS BIGINT) AS b_sum
        |FROM meta CROSS JOIN range(33) xs(x) CROSS JOIN range(33) ys(y)
        |WHERE x < w AND y < h
        |GROUP BY media_id, w, h
        |ORDER BY media_id""".stripMargin),
    // Multimodal near-dup: perceptual average-hash over the DECODED
    // PNGs (integer-exact 8×7 cell grid, 56-bit signature) paired via
    // the same pigeonhole block join as q_simhash_pairs. The oracle
    // recomputes the hash codec-free from the pixel formula and runs
    // the quadratic all-pairs scan — green proves the codec round
    // trip AND pigeonhole completeness in one gate.
    // perceptual-hash pairs: hash recomputed codec-free from the pixel
    // formula (integer cross-multiplied cell bits); the Hamming scan is
    // the banded LOSSLESS rewrite (the q_simhash_pairs oracle construction):
    // 4 disjoint 16-bit bands of the 64-bit signature — hamming <= 3
    // touches at most 3 bands, so one band is bit-equal and the band
    // equi-join loses no qualifying pair; each candidate re-verified by
    // the explicit hamming predicate. The naive a.id < b.id form is
    // 1.25e11 comparisons at zipf_sf10 (> 900 s in DuckDB). The
    // arithmetic >> on a sign-bit signature is mask-corrected by
    // & 65535. Equality proves codec losslessness AND pigeonhole
    // completeness.
    Query("q_mm_phash", (s, dir) => {
      val sigs = MultimodalOps.pngAHash(MultimodalOps.encodePng(
          MultimodalOps.syntheticImageMeta(Tables.documents(s, dir))))
        .toDF().select(col("media_id").as("id"), col("sig"))
      DedupOps.hammingPairs(sigs, maxHamming = 3, bits = 56)
        .orderBy("id_a", "id_b")
    },
      """WITH meta AS (
        |  SELECT doc_id AS media_id,
        |         8 + (doc_id % 25) AS w, 8 + ((doc_id * 7) % 25) AS h
        |  FROM documents
        |), px AS (
        |  SELECT media_id, w, h, (y * 7) // h AS cy, (x * 8) // w AS cx,
        |         (7*x + 3*y + media_id % 256) % 256
        |           + (5*x + 11*y + 2*(media_id % 256)) % 256
        |           + (13*x + 17*y + 3*(media_id % 256)) % 256 AS l
        |  FROM meta CROSS JOIN range(33) xs(x) CROSS JOIN range(33) ys(y)
        |  WHERE x < w AND y < h
        |), cells AS (
        |  SELECT media_id, cy * 8 + cx AS c,
        |         CAST(sum(l) AS BIGINT) AS cs, count(*) AS cn
        |  FROM px GROUP BY media_id, cy, cx
        |), tots AS (
        |  SELECT media_id, CAST(sum(cs) AS BIGINT) AS tot,
        |         CAST(sum(cn) AS BIGINT) AS n
        |  FROM cells GROUP BY media_id
        |), sigs AS MATERIALIZED (
        |  SELECT c.media_id AS id,
        |         CAST(sum(CASE WHEN cs * t.n > t.tot * cn
        |                       THEN (1::BIGINT << CAST(c AS INTEGER))
        |                       ELSE 0 END) AS BIGINT) AS sig
        |  FROM cells c JOIN tots t USING (media_id) GROUP BY c.media_id
        |), bands AS (
        |  SELECT id, i AS band, (sig >> CAST(16 * i AS INTEGER)) & 65535 AS bv
        |  FROM sigs, range(4) r(i)
        |), cand AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bv = b.bv AND a.id < b.id
        |)
        |SELECT c.id_a, c.id_b, bit_count(xor(x.sig, y.sig)) AS hamming
        |FROM cand c
        |JOIN sigs x ON x.id = c.id_a
        |JOIN sigs y ON y.id = c.id_b
        |WHERE bit_count(xor(x.sig, y.sig)) <= 3
        |ORDER BY id_a, id_b""".stripMargin),
    // Multimodal: the LOSSY codec tier — real JPEG encode (explicit
    // quality) + decode, certified by |decoded mean - exact mean| <=
    // tol per channel; published sums are the exact (oracle-
    // recomputable) ones, the boolean carries the fidelity proof.
    // lossy tier: exact sums recomputed codec-free; TRUE = the decoded
    // means sat within tolerance (the certificate gate construction)
    Query("q_mm_jpeg", (s, dir) =>
      MultimodalOps.jpegFidelityStats(MultimodalOps.encodeJpeg(
          MultimodalOps.syntheticImageMeta(Tables.documents(s, dir))))
        .toDF()
        .orderBy("media_id"),
      """WITH meta AS (
        |  SELECT doc_id AS media_id,
        |         8 + (doc_id % 25) AS w, 8 + ((doc_id * 7) % 25) AS h
        |  FROM documents
        |)
        |SELECT media_id, CAST(w * h AS BIGINT) AS n_px,
        |       CAST(sum((7*x + 3*y + (media_id % 256)) % 256) AS BIGINT) AS r_sum,
        |       CAST(sum((5*x + 11*y + 2*(media_id % 256)) % 256) AS BIGINT) AS g_sum,
        |       CAST(sum((13*x + 17*y + 3*(media_id % 256)) % 256) AS BIGINT) AS b_sum,
        |       TRUE AS within_tol
        |FROM meta CROSS JOIN range(33) xs(x) CROSS JOIN range(33) ys(y)
        |WHERE x < w AND y < h
        |GROUP BY media_id, w, h
        |ORDER BY media_id""".stripMargin),
    // Multimodal: the REAL audio codec path — deterministic 16-bit PCM
    // stereo samples encoded to genuine WAV files and decoded back
    // through javax.sound.sampled, reduced to exact per-channel sample
    // sums. Oracle recomputes the sums from the sample formula with no
    // codec anywhere (same gate construction as q_mm_decode_real).
    // codec-free recomputation of the decoded per-channel sample sums
    // straight from the PCM formula (MultimodalOps.sampleValue)
    Query("q_mm_audio_real", (s, dir) =>
      MultimodalOps.decodeWavStats(MultimodalOps.encodeWav(
          MultimodalOps.syntheticAudioMeta(Tables.documents(s, dir))))
        .toDF()
        .orderBy("media_id"),
      """WITH meta AS (
        |  SELECT doc_id AS media_id, 64 + (doc_id % 441) AS n FROM documents
        |)
        |SELECT media_id, CAST(n AS BIGINT) AS n_frames,
        |       CAST(sum(((31*i + (media_id % 65536)) % 65536) - 32768) AS BIGINT) AS l_sum,
        |       CAST(sum(((31*i + 7 + (media_id % 65536)) % 65536) - 32768) AS BIGINT) AS r_sum
        |FROM meta CROSS JOIN range(504) t(i)
        |WHERE i < n
        |GROUP BY media_id, n
        |ORDER BY media_id""".stripMargin),
    // Multimodal: the REAL video codec path — deterministic per-frame
    // pixel patterns encoded as genuine multi-frame animated GIFs
    // (fixed gray palette → lossless) and decoded frame by frame
    // through javax.imageio's sequence reader, reduced to exact
    // per-frame luminance sums. Oracle recomputes every frame's sum
    // from the formula with no codec anywhere — one row per (clip,
    // frame), so a dropped or duplicated frame hash-mismatches.
    // codec-free recomputation of every decoded FRAME's luminance sum
    // straight from the per-frame formula (MultimodalOps.framePixel)
    Query("q_mm_video_real", (s, dir) =>
      MultimodalOps.decodeGifFrameStats(MultimodalOps.encodeGif(
          MultimodalOps.syntheticVideoMeta(Tables.documents(s, dir))))
        .toDF()
        .orderBy("media_id", "frame_no"),
      """WITH meta AS (
        |  SELECT doc_id AS media_id,
        |         8 + (doc_id % 17) AS w, 8 + ((doc_id * 7) % 17) AS h,
        |         2 + ((doc_id * 13) % 5) AS nf
        |  FROM documents
        |)
        |SELECT media_id, CAST(f AS INTEGER) AS frame_no,
        |       CAST(w * h AS BIGINT) AS n_px,
        |       CAST(sum((7*x + 3*y + 11*f + (media_id % 256)) % 256) AS BIGINT) AS lum_sum
        |FROM meta CROSS JOIN range(7) fs(f)
        |  CROSS JOIN range(25) xs(x) CROSS JOIN range(25) ys(y)
        |WHERE f < nf AND x < w AND y < h
        |GROUP BY media_id, f, w, h
        |ORDER BY media_id, frame_no""".stripMargin),
    // Structured Streaming: the one-pass sampler + running stats run as
    // a REAL stream (AvailableNow over the parquet source, memory sink)
    // with the same DuckDB oracle as the batch plan — streaming parity
    // is part of the correctness gate, not just a unit test.
    Query("q_stream_welford", (s, dir) => {
      val stream = Tables.eventsStream(s, dir)
      val sampled = RelationalOps.hashBucketSample(stream, "user_id", 16, 3)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          decMean(col("value")).as("mean_value"),
          round(stddev_pop(col("value")), 4).as("std_value"))
      memorySinkRun(sampled, "welford", "complete").orderBy("event_type")
    },
      s"""SELECT event_type, count(*) AS n, ${decMeanSql("value")} AS mean_value,
         |       round(stddev_pop(value), 4) AS std_value
         |FROM events WHERE (user_id * 2654435761) % 16 = 3
         |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // The CUSTOM-STATE streaming path: welfordByKey's explicit
    // flatMapGroupsWithState recurrence (update mode — one cumulative
    // row per key per micro-batch) run as a real stream and gated
    // against the SAME oracle as the batch q_welford UDAF. If
    // AvailableNow splits into several micro-batches, the final state
    // is the row with the largest n per key (n strictly grows).
    // identical semantics by construction: the custom-state streaming
    // run must converge to the batch Welford answer
    Query("q_stream_welford_state", (s, dir) => {
      import s.implicits._
      val stream = Tables.eventsStream(s, dir)
        .select(col("event_type"), col("value")).as[(String, Double)]
      val stats = graft.streaming.StreamingOps.welfordByKey(stream)
      memorySinkRun(stats.toDF(), "welford_state", "update").groupBy(col("key").as("event_type"))
        .agg(max(col("n")).as("n"),
          max_by(round(col("mean"), 4), col("n")).as("mean_value"),
          max_by(round(col("std"), 4), col("n")).as("std_value"))
        .orderBy("event_type")
    }, WelfordOracle),
    // Watermarked tumbling-window stats as a REAL stream (AvailableNow,
    // complete mode): the standard event-time aggregation shape, gated
    // against the batch date_trunc oracle.
    Query("q_stream_window", (s, dir) => {
      val stream = Tables.eventsStream(s, dir)
      val agg = graft.streaming.StreamingOps.windowedStats(stream, "ts", "value",
        "1 hour", "2 hours")
      memorySinkRun(agg, "window", "complete")
        .select(unix_micros(col("w_start")).as("start_us"), col("n"),
          col("mean_value"))
        .orderBy("start_us")
    },
      s"""SELECT epoch_us(date_trunc('hour', ts)) AS start_us, count(*) AS n,
         |       ${decMeanSql("value")} AS mean_value
         |FROM events GROUP BY date_trunc('hour', ts)
         |ORDER BY start_us""".stripMargin),
    // Stream–static enrichment: every streamed event picks up its
    // user's dimension attributes (customer stands in for the user
    // table). Stateless append-mode join, static side broadcast per
    // micro-batch; the batch-join oracle proves row-level parity —
    // nothing dropped, nothing duplicated, no state needed.
    // the batch join IS the truth for a stateless stream-static join
    Query("q_stream_static_join", (s, dir) => {
      val stream = Tables.eventsStream(s, dir)
      val dim = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"), col("c_acctbal"))
      val enriched = graft.streaming.StreamingOps
        .enrichWithStatic(stream, dim, Seq("user_id"))
        .select(col("event_id"), col("user_id"), col("segment"),
          round(col("c_acctbal"), 2).as("acctbal"))
      // file sink: enriched output is corpus-sized (one row per event)
      fileSinkRun(enriched, "enrich").orderBy("event_id")
    },
      """SELECT event_id, user_id, c_mktsegment AS segment,
        |       round(c_acctbal, 2) AS acctbal
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin),
    // Streaming exact dedup: first copy per content digest passes, later
    // copies drop (dropDuplicatesWithinWatermark — state keyed by the
    // 16-byte digest, evicted past the horizon). Event time is a
    // deterministic function of doc_id; the corpus span (≤ ~84 min at
    // sf0.1) sits far inside the 30-day horizon, so the stream's answer
    // must equal batch DISTINCT exactly — which doc survives is arrival-
    // order-dependent, so the gate compares the digest SET, not ids.
    // the streamed dedup must converge to batch DISTINCT on digests
    Query("q_stream_dedup", (s, dir) => {
      val stream = Tables.documentsStream(s, dir)
        // +1 day: an event time of EXACTLY epoch 0 (doc_id 0) equals the
        // stream's initial watermark and is dropped as late — boundary
        // artifact of the synthetic clock, not of the operator
        .withColumn("ts", timestamp_seconds(col("doc_id") + lit(86400L)))
      val deduped = graft.streaming.StreamingOps.streamingExactDedup(
        stream, "ts", "30 days")
      // file sink: the survivor set is corpus-sized (distinct docs)
      fileSinkRun(deduped, "sdedup")
        .select(lower(hex(col("text_hash"))).as("text_hash"))
        .orderBy("text_hash")
    },
      """SELECT DISTINCT md5(text) AS text_hash FROM documents
        |ORDER BY text_hash""".stripMargin),
    // Stream-stream interval join: each purchase enriched with the same
    // user's views from the preceding 24 hours — both sides REAL
    // streams with watermarks bounding the buffered state. Inner-join
    // emission is watermark-independent, so the AvailableNow run must
    // produce exactly the batch inequality-join answer. The lookback is
    // sized so the gate is content-bearing at EVERY test SF (80 rows at
    // sf0.001, 8.7k at sf0.1 — a 30-minute lookback emitted 2 rows at
    // sf0.001, testing machinery but not join content).
    // batch inequality-join truth for the stream-stream interval join
    Query("q_stream_interval_join", (s, dir) => {
      def ev = Tables.eventsStream(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_event"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("v_event"),
          col("value").as("v_value"))
      val joined = graft.streaming.StreamingOps.intervalJoin(
        purchases, views, Seq("user_id"), "p_ts", "v_ts", "24 hours", "24 hours")
      // file sink: the join output is DATA-sized (quadratic in a hot
      // user's event density on Zipf corpora) — never driver-collected
      fileSinkRun(joined, "sij")
        .select(col("user_id"), col("p_event"), unix_micros(col("p_ts")).as("p_ts_us"),
          col("v_event"), round(col("v_value"), 4).as("v_value"))
        .orderBy("user_id", "p_event", "v_event")
    },
      """WITH p AS (
        |  SELECT user_id, ts AS p_ts, event_id AS p_event
        |  FROM events WHERE event_type = 'purchase'
        |), v AS (
        |  SELECT user_id, ts AS v_ts, event_id AS v_event, value AS v_value
        |  FROM events WHERE event_type = 'view'
        |)
        |SELECT p.user_id, p.p_event, epoch_us(p.p_ts) AS p_ts_us,
        |       v.v_event, round(v.v_value, 4) AS v_value
        |FROM p JOIN v ON p.user_id = v.user_id
        |  AND v.v_ts <= p.p_ts
        |  AND v.v_ts >= p.p_ts - INTERVAL 24 HOUR
        |ORDER BY p.user_id, p.p_event, v.v_event""".stripMargin),
    // LEFT OUTER stream-stream interval join: unmatched purchases
    // emit with NULLs once the watermark seals the lookback — the
    // state-EVICTION path the inner gate never exercises. Published
    // region cut to leftTs ≤ min(max p_ts, max v_ts) − lookback on
    // BOTH sides (operator scaladoc: a terminal stream run can never
    // prove a non-match at the horizon), so stream ≡ batch exactly.
    // batch LEFT JOIN truth with the SAME horizon cut the stream
    // publishes (min(max p_ts, max v_ts) − 24h): unmatched purchases
    // carry NULLs — outer-emission parity is the tested property
    Query("q_stream_interval_outer", (s, dir) => {
      def ev = Tables.eventsStream(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_event"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("v_event"),
          col("value").as("v_value"))
      val joined = graft.streaming.StreamingOps.intervalJoinLeftOuter(
        purchases, views, Seq("user_id"), "p_ts", "v_ts", "24 hours", "1 second")
      // one batch scan for BOTH per-type max timestamps (was two
      // separate driver jobs = two corpus scans)
      val mx = Tables.events(s, dir).agg(
        max(when(col("event_type") === "purchase", unix_micros(col("ts")))),
        max(when(col("event_type") === "view", unix_micros(col("ts")))))
        .head()
      val horizonUs = math.min(mx.getLong(0), mx.getLong(1)) -
        24L * 3600 * 1000000
      fileSinkRun(joined, "sijo")
        .filter(unix_micros(col("p_ts")) <= horizonUs)
        .select(col("user_id"), col("p_event"), unix_micros(col("p_ts")).as("p_ts_us"),
          col("v_event"), round(col("v_value"), 4).as("v_value"))
        .orderBy(col("user_id"), col("p_event"),
          col("v_event").asc_nulls_first)
    },
      """WITH p AS (
        |  SELECT user_id, ts AS p_ts, event_id AS p_event
        |  FROM events WHERE event_type = 'purchase'
        |), v AS (
        |  SELECT user_id, ts AS v_ts, event_id AS v_event, value AS v_value
        |  FROM events WHERE event_type = 'view'
        |), h AS (
        |  SELECT least((SELECT max(epoch_us(p_ts)) FROM p),
        |               (SELECT max(epoch_us(v_ts)) FROM v))
        |         - 86400000000 AS horizon_us
        |)
        |SELECT p.user_id, p.p_event, epoch_us(p.p_ts) AS p_ts_us,
        |       v.v_event, round(v.v_value, 4) AS v_value
        |FROM p CROSS JOIN h LEFT JOIN v ON p.user_id = v.user_id
        |  AND v.v_ts <= p.p_ts
        |  AND v.v_ts >= p.p_ts - INTERVAL 24 HOUR
        |WHERE epoch_us(p.p_ts) <= h.horizon_us
        |ORDER BY p.user_id, p.p_event, v.v_event NULLS FIRST""".stripMargin),
  )
}
