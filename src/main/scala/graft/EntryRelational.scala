package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import graft.EntryHelpers._

/** windows, relational ops, graph centralities, clustering, privacy/audit, streaming aggregates.
  *
  * One registry slice of [[SparkEntry]]: `queries` declares each gated
  * Spark pipeline once, as a [[Query]] beside the DuckDB replay the
  * driver hash-compares it against.
  */
private[graft] object EntryRelational {

  val queries: Seq[Query] = Seq(
    // Time-series densification: per-user 6-hour bucket counts with
    // zero-filled gaps between each user's first and last event — the
    // explode runs on the per-key span table, never the event stream.
    // dense bucket axis per user via generate-series over the span;
    // integer // on epoch micros matches the engine's div exactly
    Query("q_fill_gaps", (s, dir) =>
      TemporalOps.fillGaps(Tables.events(s, dir), Seq("user_id"), "ts")
        .orderBy("user_id", "bucket_us"),
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) // 21600000000 AS bucket, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), s AS (
        |  SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM c GROUP BY 1
        |), dense AS (
        |  SELECT user_id, b0 + i AS bucket FROM s JOIN range(200) t(i) ON i <= b1 - b0
        |)
        |SELECT d.user_id, d.bucket * 21600000000 AS bucket_us,
        |       coalesce(n, 0) AS n
        |FROM dense d LEFT JOIN c ON c.user_id = d.user_id AND c.bucket = d.bucket
        |ORDER BY d.user_id, bucket_us""".stripMargin),
    // Hopping-window aggregation: 6-hour windows every 3 hours — each
    // event lands in exactly window/slide = 2 windows, generated INLINE
    // at the scan (no join, no window-axis table); one window-keyed
    // partial-combined exchange. fillGaps' tumbling buckets are the
    // slide == window degenerate case.
    // hopping windows: win = 2·slide, so each event belongs to exactly
    // the two slide-aligned starts (t div slide − j)·slide, j ∈ {0,1}
    Query("q_hop_window", (s, dir) =>
      TemporalOps.hopWindowStats(Tables.events(s, dir), "ts", "value")
        .orderBy("win_start_us"),
      """WITH ev AS (SELECT epoch_us(ts) AS t, value FROM events),
        |h AS (
        |  SELECT ((t // 10800000000) - j) * 10800000000 AS win_start_us, value
        |  FROM ev CROSS JOIN range(2) r(j)
        |)
        |SELECT win_start_us, count(*) AS n,
        |       round(CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE), 4) AS sum_value
        |FROM h GROUP BY win_start_us ORDER BY win_start_us""".stripMargin),
    // Triangle counting over the synthetic crawl graph: undirected
    // simple projection (normalize + distinct), wedge join + closing-
    // edge join — three keyed exchanges, one shared edge persist.
    // Counted once per triangle at its lowest vertex.
    // triangles: same synthetic edge formula as q_pagerank, normalized
    // to undirected simple edges; x<y<z is structural after least/
    // greatest normalization, so each triangle appears exactly once
    Query("q_triangles", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1 // dense ids
      val nodes = docs.select(col("doc_id").as("node"))
      GraphOps.triangleCounts(GraphOps.syntheticEdges(nodes, n))
        .orderBy("node")
    },
      """WITH p AS (SELECT count(*) AS n FROM documents),
        |raw AS (
        |  SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM documents, p
        |  UNION ALL SELECT doc_id, (doc_id * 2 + 3) % n FROM documents, p
        |  UNION ALL SELECT doc_id, (doc_id * doc_id + 5) % n FROM documents, p
        |),
        |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |      FROM raw WHERE src <> dst)
        |SELECT e1.a AS node, count(*) AS n_triangles
        |FROM e e1
        |JOIN e e2 ON e2.a = e1.b
        |JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |GROUP BY e1.a ORDER BY node""".stripMargin),
    // Bounded-horizon EWMA smoothing: 6-lag truncation, α = ½ — every
    // weight a power of two, so scaling is EXACT and the published
    // smoothed value needs no rounding: bit-identical in any engine.
    // EWMA: the same 6 unrolled lag terms under the same total order;
    // power-of-two weights make every product exact, the +-chain
    // associates left like the engine's fold — raw doubles hash-match
    Query("q_ewma", (s, dir) =>
      TemporalOps.ewma(Tables.events(s, dir).filter(col("user_id") < 30),
          Seq("user_id"), "ts", "value", "event_id")
        .select(col("user_id"), col("event_id"), col("value"), col("ewma"))
        .orderBy("user_id", "event_id"),
      """WITH seq AS (
        |  SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
        |         lag(CAST(value AS DOUBLE), 1) OVER w AS l1,
        |         lag(CAST(value AS DOUBLE), 2) OVER w AS l2,
        |         lag(CAST(value AS DOUBLE), 3) OVER w AS l3,
        |         lag(CAST(value AS DOUBLE), 4) OVER w AS l4,
        |         lag(CAST(value AS DOUBLE), 5) OVER w AS l5,
        |         lag(CAST(value AS DOUBLE), 6) OVER w AS l6
        |  FROM events WHERE user_id < 30
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id, event_id, v AS value,
        |       (COALESCE(v * 1.0, 0.0) + COALESCE(l1 * 0.5, 0.0)
        |        + COALESCE(l2 * 0.25, 0.0) + COALESCE(l3 * 0.125, 0.0)
        |        + COALESCE(l4 * 0.0625, 0.0) + COALESCE(l5 * 0.03125, 0.0)
        |        + COALESCE(l6 * 0.015625, 0.0))
        |       /
        |       (COALESCE(CASE WHEN v IS NOT NULL THEN 1.0 END, 0.0)
        |        + COALESCE(CASE WHEN l1 IS NOT NULL THEN 0.5 END, 0.0)
        |        + COALESCE(CASE WHEN l2 IS NOT NULL THEN 0.25 END, 0.0)
        |        + COALESCE(CASE WHEN l3 IS NOT NULL THEN 0.125 END, 0.0)
        |        + COALESCE(CASE WHEN l4 IS NOT NULL THEN 0.0625 END, 0.0)
        |        + COALESCE(CASE WHEN l5 IS NOT NULL THEN 0.03125 END, 0.0)
        |        + COALESCE(CASE WHEN l6 IS NOT NULL THEN 0.015625 END, 0.0)) AS ewma
        |FROM seq ORDER BY user_id, event_id""".stripMargin),
    // HITS hubs/authorities over the same synthetic crawl graph as
    // q_pagerank: 2 unnormalized scatter/gather rounds, BIGINT-exact
    // (normalization is a per-round positive scalar — ratios gate).
    // HITS: 2 rounds unrolled — scatter (sum h over in-edges) then
    // gather (sum a over out-edges), isolated-node zeros via LEFT JOIN
    Query("q_hits", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1 // dense ids
      val nodes = docs.select(col("doc_id").as("node"))
      GraphOps.hits(nodes, GraphOps.syntheticEdges(nodes, n), rounds = 2)
        .select(col("node").as("doc_id"), col("hub"), col("auth"))
        .orderBy("doc_id")
    },
      """WITH p AS (SELECT count(*) AS n FROM documents),
        |e AS (
        |  SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM documents, p
        |  UNION ALL SELECT doc_id, (doc_id * 2 + 3) % n FROM documents, p
        |  UNION ALL SELECT doc_id, (doc_id * doc_id + 5) % n FROM documents, p
        |),
        |h0 AS (SELECT doc_id AS node, CAST(1 AS BIGINT) AS h FROM documents),
        |a1 AS (SELECT h0.node, CAST(coalesce(x.s, 0) AS BIGINT) AS a FROM h0
        |       LEFT JOIN (SELECT e.dst AS node, sum(h.h) AS s FROM e
        |                  JOIN h0 h ON h.node = e.src GROUP BY e.dst) x USING (node)),
        |h1 AS (SELECT a1.node, CAST(coalesce(x.s, 0) AS BIGINT) AS h FROM a1
        |       LEFT JOIN (SELECT e.src AS node, sum(a.a) AS s FROM e
        |                  JOIN a1 a ON a.node = e.dst GROUP BY e.src) x USING (node)),
        |a2 AS (SELECT h1.node, CAST(coalesce(x.s, 0) AS BIGINT) AS a FROM h1
        |       LEFT JOIN (SELECT e.dst AS node, sum(h.h) AS s FROM e
        |                  JOIN h1 h ON h.node = e.src GROUP BY e.dst) x USING (node)),
        |h2 AS (SELECT a2.node, CAST(coalesce(x.s, 0) AS BIGINT) AS h FROM a2
        |       LEFT JOIN (SELECT e.src AS node, sum(a.a) AS s FROM e
        |                  JOIN a2 a ON a.node = e.dst GROUP BY e.src) x USING (node))
        |SELECT h2.node AS doc_id, h2.h AS hub, a2.a AS auth
        |FROM h2 JOIN a2 USING (node) ORDER BY doc_id""".stripMargin),
    // Market-basket association rules at the pair tier: parts that
    // co-occur in the same order, with support / confidence / lift.
    // Engine generates pairs INSIDE each basket row (no corpus
    // self-join); the oracle IS the naive self-join — equality proves
    // the in-row generation complete.
    // association rules: the oracle is the NAIVE basket self-join the
    // engine refuses to run — equality proves the engine's in-row
    // upper-triangle pair generation is complete. Metrics are single
    // IEEE divides off BIGINT counts: published raw, bit-exact.
    Query("q_item_assoc", (s, dir) =>
      RelationalOps.assocRules(Tables.lineitem(s, dir), "l_orderkey",
          "l_partkey", minSupport = 2)
        .orderBy("item_a", "item_b"),
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
        |nb AS (SELECT count(DISTINCT bk) AS n FROM items),
        |pc AS (
        |  SELECT a.it AS item_a, b.it AS item_b, count(*) AS n_ab
        |  FROM items a JOIN items b ON a.bk = b.bk AND a.it < b.it
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ic AS (SELECT it, count(*) AS n FROM items GROUP BY it)
        |SELECT item_a, item_b, n_ab, ia.n AS n_a, ib.n AS n_b,
        |       CAST(n_ab AS DOUBLE) / ia.n AS conf_ab,
        |       CAST(n_ab AS DOUBLE) / ib.n AS conf_ba,
        |       (CAST(n_ab AS DOUBLE) * nb.n) /
        |       (CAST(ia.n AS DOUBLE) * ib.n) AS lift
        |FROM pc JOIN ic ia ON ia.it = pc.item_a
        |        JOIN ic ib ON ib.it = pc.item_b, nb
        |ORDER BY item_a, item_b""".stripMargin),
    // SCD type-2 dimension build: per-user event_type timelines
    // compressed to validity intervals (gaps-and-islands + lead).
    // SCD2: same gaps-and-islands (IS DISTINCT FROM = Spark's <=>
    // negated) and the same (ts, event_id) total order in both windows
    Query("q_scd2", (s, dir) =>
      TemporalOps.scd2(Tables.events(s, dir).filter(col("user_id") < 40),
          Seq("user_id"), "ts", "event_id", "event_type")
        .orderBy("user_id", "version"),
      """WITH marked AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         (row_number() OVER w = 1 OR
        |          lag(event_type) OVER w IS DISTINCT FROM event_type)
        |         AS is_new
        |  FROM events WHERE user_id < 40
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |starts AS (
        |  SELECT user_id, event_type, ts, event_id FROM marked WHERE is_new)
        |SELECT user_id, event_type, ts AS valid_from,
        |       event_id AS first_event_id,
        |       lead(ts) OVER w AS valid_to,
        |       row_number() OVER w AS version
        |FROM starts
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, version""".stripMargin),
    // Unpivot/melt — the inverse reshape of q_pivot: lineitem's four
    // metric columns to (metric, value) long form, values pass-through
    // exact. Plans as a single Expand projection — no shuffle at all.
    // unpivot: the UNION ALL long form — values pass through untouched
    Query("q_unpivot", (s, dir) =>
      Tables.lineitem(s, dir).filter(col("l_orderkey") % 97 === 0)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric"),
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |       l_quantity AS value
        |FROM lineitem WHERE l_orderkey % 97 = 0
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM lineitem WHERE l_orderkey % 97 = 0
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem WHERE l_orderkey % 97 = 0
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |FROM lineitem WHERE l_orderkey % 97 = 0
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin),
    // Hive-style partitioned layout + partition PRUNING — the #1 scan
    // optimization at 100 TB: the lang='en' read must touch only the
    // en/ directory (PartitionFilters in the scan node, pinned by
    // PlanShapeSpec), never a corpus-wide scan + filter.
    // partition pruning: the layout round-trip must surface exactly the
    // filtered slice of the source table
    Query("q_partition_prune", (s, dir) => {
      val path = s"/tmp/graft_src_${new java.io.File(dir).getName}/docs_partitioned"
      Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").partitionBy("lang").parquet(path)
      s.read.parquet(path).filter(col("lang") === "en")
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin),
    // ANALYZE-style column profile: min/max/nulls/exact-NDV for the
    // four lineitem metric columns in ONE scan (multi-distinct plans
    // as a single Expand), melted to long form row-locally.
    // profile: one UNION ALL branch per column — min/max are
    // pass-through data values (exact), counts are integers
    Query("q_profile", (s, dir) =>
      RelationalOps.profile(Tables.lineitem(s, dir),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_name"),
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")
        .map(c =>
          s"""SELECT '$c' AS col_name, CAST(min($c) AS DOUBLE) AS min_v,
             |  CAST(max($c) AS DOUBLE) AS max_v,
             |  count(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
             |  count(DISTINCT $c) AS ndv, count(*) AS n_rows
             |FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),
    // Distribution-shape companion to q_profile: equi-width histograms
    // for two lineitem metrics in ONE scan — the row-local (col, bin)
    // fan-out keeps the exchange at (cols × bins) partial rows;
    // floor(x/w) in double is engine-exact.
    // histogram: one UNION ALL branch per (column, width); floor of an
    // IEEE double division is bit-identical on both engines
    Query("q_histogram", (s, dir) =>
      RelationalOps.histogram(Tables.lineitem(s, dir),
          Seq("l_extendedprice" -> 5000.0, "l_quantity" -> 5.0))
        .orderBy("col_name", "bin"),
      Seq("l_extendedprice" -> "5000.0", "l_quantity" -> "5.0")
        .map { case (c, w) =>
          s"""SELECT '$c' AS col_name,
             |  CAST(floor($c / $w) AS BIGINT) AS bin, count(*) AS n
             |FROM lineitem GROUP BY 2""".stripMargin }
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name, bin")),
    // Exact pairwise Pearson correlations of the four lineitem metrics
    // in ONE aggregate pass (all moments as exact decimal sums; only
    // the closed-form corr is double). Feature-redundancy screen.
    // correlation matrix: identical exact decimal moments, then the
    // SAME double expression shape as the engine (op-for-op — IEEE
    // equality needs matching evaluation order); `+ 0.0` folds any
    // rounded -0.0 to +0.0 on both engines
    Query("q_corr_matrix", (s, dir) =>
      RelationalOps.correlationMatrix(Tables.lineitem(s, dir),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_a", "col_b"), {
      val cs = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def dm(c: String) = s"CAST($c AS DECIMAL(18,2))"
      val moments = cs.zipWithIndex.flatMap { case (c, i) => Seq(
        s"CAST(sum(${dm(c)}) AS DOUBLE) AS s_$i",
        s"CAST(sum(${dm(c)} * ${dm(c)}) AS DOUBLE) AS ss_$i") } ++
        (for { i <- cs.indices; j <- cs.indices if i < j } yield
          s"CAST(sum(${dm(cs(i))} * ${dm(cs(j))}) AS DOUBLE) AS sp_${i}_$j")
      val branches = (for { i <- cs.indices; j <- cs.indices if i < j } yield
        s"""SELECT '${cs(i)}' AS col_a, '${cs(j)}' AS col_b,
           |  CASE WHEN (n*ss_$i - s_$i*s_$i) > 0 AND (n*ss_$j - s_$j*s_$j) > 0
           |       THEN round((n*sp_${i}_$j - s_$i*s_$j)
           |            / sqrt((n*ss_$i - s_$i*s_$i) * (n*ss_$j - s_$j*s_$j)), 6) + 0.0
           |  END AS corr, n_rows FROM m""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH m AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS n_rows,
         |  ${moments.mkString(",\n  ")}
         |  FROM lineitem
         |)
         |$branches
         |ORDER BY col_a, col_b""".stripMargin
    }),
    // CDC snapshot diff: two deterministic snapshots of orders — keys
    // missing from old (mod-11) read as inserts, keys missing from new
    // (mod-13) as deletes, mod-7 price bumps as updates — classified by
    // ONE full-outer key join; unchanged keys dropped.
    // snapshot diff: the same two snapshot CTEs full-outer-joined;
    // IS DISTINCT FROM mirrors the engine's null-safe struct compare
    Query("q_snapshot_diff", (s, dir) => {
      val ord = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val prev = ord.filter(col("o_orderkey") % 11 =!= 0)
      val cur = ord.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      RelationalOps.snapshotDiff(prev, cur, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 11 <> 0),
        |n AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
        |            WHEN n.o_orderkey IS NULL THEN 'delete'
        |            ELSE 'update' END AS change,
        |       o.o_orderstatus AS old_o_orderstatus,
        |       n.o_orderstatus AS new_o_orderstatus,
        |       o.o_totalprice AS old_o_totalprice,
        |       n.o_totalprice AS new_o_totalprice
        |FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
        |   OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
        |ORDER BY o_orderkey""".stripMargin),
    // Overlapping-interval union per user: each event opens a VARIABLE
    // half-open interval (10-30 min, deterministic in event_id — long
    // intervals genuinely swallow later shorts, exercising the cummax);
    // overlap-connected sets merge, exact epoch-micros spans published.
    // interval merge: the same cummax gaps-and-islands in SQL; exact
    // integer micros, strict-overlap islands (touching stays separate)
    Query("q_interval_merge", (s, dir) =>
      TemporalOps.intervalMerge(Tables.events(s, dir), Seq("user_id"),
          "event_id", unix_micros(col("ts")),
          unix_micros(col("ts")) +
            (lit(600L) + col("event_id") % 1200L) * 1000000L)
        .orderBy("user_id", "start_us"),
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS s_us,
        |         epoch_us(ts) + (600 + event_id % 1200) * 1000000 AS e_us
        |  FROM events),
        |m AS (
        |  SELECT user_id, event_id, s_us, e_us,
        |         CASE WHEN max(e_us) OVER wp IS NULL
        |              OR s_us >= max(e_us) OVER wp THEN 1 ELSE 0 END AS brk
        |  FROM iv
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY s_us, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s AS (
        |  SELECT user_id, s_us, e_us,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY s_us, event_id
        |                        ROWS UNBOUNDED PRECEDING) AS island
        |  FROM m)
        |SELECT user_id, min(s_us) AS start_us, max(e_us) AS end_us,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, island
        |ORDER BY user_id, start_us""".stripMargin),
    // OHLC candles: first/last/min/max value per (event_type, 6 h
    // bucket) — order-aware aggregation as ONE hash aggregate
    // (min_by/max_by over the packed order), no window, no sort.
    // OHLC: DuckDB's ordered aggregates replay the min_by/max_by pair;
    // values pass through exact, buckets are integer micros
    Query("q_ohlc", (s, dir) =>
      TemporalOps.ohlc(Tables.events(s, dir), Seq("event_type"),
          "ts", "event_id", "value", 21600L * 1000000L)
        .orderBy("event_type", "bucket_us"),
      """WITH ev AS (
        |  SELECT event_type, event_id, value, epoch_us(ts) AS t,
        |         (epoch_us(ts) // 21600000000) * 21600000000 AS bucket_us
        |  FROM events)
        |SELECT event_type, bucket_us,
        |       first(value ORDER BY t, event_id) AS open,
        |       max(value) AS high, min(value) AS low,
        |       last(value ORDER BY t, event_id) AS close,
        |       count(*) AS n
        |FROM ev GROUP BY event_type, bucket_us
        |ORDER BY event_type, bucket_us""".stripMargin),
    // VWAP per synthetic symbol (partkey mod 100) per calendar month:
    // decimal-exact sums feed the published ratio, one hash aggregate.
    // First gate exercising the l_shipdate date column (UTC calendar
    // extraction portability).
    // VWAP: decimal-exact sums rounded IN DECIMAL to 4 dp, then cast —
    // a scale-4 decimal → double conversion is correctly rounded on
    // both engines, so the sums AND their quotient (vwap is defined
    // from the published sums) are bit-identical; the raw scale-12
    // quotient was not (double→decimal(28,12) casts differ at the last
    // scale digit and the ratio surfaces the tie). year/month cast to
    // INTEGER to match Spark's int-typed calendar fields.
    Query("q_vwap", (s, dir) =>
      TemporalOps.vwap(Tables.lineitem(s, dir)
            .withColumn("symbol", pmod(col("l_partkey"), lit(100L))),
          Seq("symbol"), "l_shipdate", "l_extendedprice", "l_quantity")
        .orderBy("symbol", "y", "m"),
      """SELECT l_partkey % 100 AS symbol,
        |       CAST(year(l_shipdate) AS INTEGER) AS y,
        |       CAST(month(l_shipdate) AS INTEGER) AS m,
        |       count(*) AS n,
        |       CAST(round(sum(CAST(l_quantity AS DECIMAL(28,12))), 4) AS DOUBLE)
        |         AS sum_qty,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,12))), 4) AS DOUBLE)
        |         AS sum_price,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,12))), 4) AS DOUBLE)
        |             / CAST(round(sum(CAST(l_quantity AS DECIMAL(28,12))), 4) AS DOUBLE)
        |         AS vwap
        |FROM lineitem GROUP BY 1, 2, 3
        |ORDER BY symbol, y, m""".stripMargin),
    // MERGE INTO (SCD1 upsert): deterministic change set — mod-13
    // deletes, mod-7 replacements, mod-97 fresh-key inserts — applied
    // by anti-join + union; the oracle rebuilds the merged table
    // declaratively.
    // MERGE: the declarative rebuild — deletes filtered, replacements
    // CASEd in place, inserts appended; + 2.5 / + 0.25 are single IEEE
    // adds, bit-identical on both engines
    Query("q_merge_upsert", (s, dir) => {
      val base = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val changes = base.filter(col("o_orderkey") % 13 === 0)
        .withColumn("__del", lit(true))
        .unionByName(base
          .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 13 =!= 0)
          .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
            (col("o_totalprice") + lit(2.5)).as("o_totalprice"),
            lit(false).as("__del")))
        .unionByName(base.filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
            lit("N").as("o_orderstatus"),
            (col("o_totalprice") + lit(0.25)).as("o_totalprice"),
            lit(false).as("__del")))
      RelationalOps.mergeUpsert(base, changes, Seq("o_orderkey"), "__del")
        .orderBy("o_orderkey")
    },
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)
        |SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE o_orderstatus END
        |         AS o_orderstatus,
        |       CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 2.5
        |            ELSE o_totalprice END AS o_totalprice
        |FROM base WHERE o_orderkey % 13 <> 0
        |UNION ALL
        |SELECT o_orderkey + 100000000, 'N', o_totalprice + 0.25
        |FROM base WHERE o_orderkey % 97 = 0
        |ORDER BY o_orderkey""".stripMargin),
    // Expectation-suite data-quality report: five rules (pk unique,
    // two fk integrity, one range, one sign) — each ONE aggregate or
    // anti-join, report constant-sized at any corpus scale.
    // data-quality report: one UNION ALL branch per expectation
    Query("q_dq_checks", (s, dir) => {
      val ord = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      val cust = Tables.customer(s, dir)
      DataQualityOps.report(Seq(
        DataQualityOps.uniqueKey(ord, "orders_pk_unique", "o_orderkey"),
        DataQualityOps.refIntegrity(li, "lineitem_orders_fk", "l_orderkey",
          ord, "o_orderkey"),
        DataQualityOps.refIntegrity(ord, "orders_customer_fk", "o_custkey",
          cust, "c_custkey"),
        DataQualityOps.expectAll(li, "l_quantity_in_1_30",
          col("l_quantity").between(1, 30)),
        DataQualityOps.expectAll(ord, "o_totalprice_positive",
          col("o_totalprice") > 0)))
        .orderBy("rule")
    },
      """SELECT 'orders_pk_unique' AS rule, count(*) AS n_checked,
        |       count(*) - count(DISTINCT o_orderkey) AS n_violations
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem_orders_fk', count(*),
        |       count(CASE WHEN o.o_orderkey IS NULL THEN 1 END)
        |FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |  ON l.l_orderkey = o.o_orderkey
        |UNION ALL
        |SELECT 'orders_customer_fk', count(*),
        |       count(CASE WHEN c.c_custkey IS NULL THEN 1 END)
        |FROM orders r LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |  ON r.o_custkey = c.c_custkey
        |UNION ALL
        |SELECT 'l_quantity_in_1_30', count(*),
        |       count(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 30,
        |                                    FALSE) THEN 1 END)
        |FROM lineitem
        |UNION ALL
        |SELECT 'o_totalprice_positive', count(*),
        |       count(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 1 END)
        |FROM orders
        |ORDER BY rule""".stripMargin),
    // Purged time-block folds (horizon-leakage guard): 6-hour blocks
    // mod 5, 15-minute embargo purged at every block edge; per-fold
    // stats + an arithmetic no-leak certificate. Map-only integer
    // arithmetic on epoch micros.
    // same block/embargo integer arithmetic on epoch micros; NULLS
    // FIRST pins the purged row's position to Spark's asc default
    Query("q_time_folds", (s, dir) => {
      val B = 21600000000L // 6 h in µs
      val E = 900000000L // 15 min in µs
      TemporalOps.purgedTimeFolds(Tables.events(s, dir), "ts", 5, B, E)
        .groupBy("fold")
        .agg(count(lit(1)).as("n"),
          min(pmod(unix_micros(col("ts")), lit(B))).as("min_off"),
          max(pmod(unix_micros(col("ts")), lit(B))).as("max_off"))
        .withColumn("no_leak",
          col("fold").isNull || (col("min_off") >= E && col("max_off") < B - E))
        .orderBy(col("fold").asc_nulls_first)
    },
      """WITH t AS (
        |  SELECT CASE WHEN epoch_us(ts) % 21600000000 >= 900000000
        |              AND epoch_us(ts) % 21600000000 < 21600000000 - 900000000
        |         THEN (epoch_us(ts) // 21600000000) % 5 END AS fold,
        |         epoch_us(ts) % 21600000000 AS off
        |  FROM events)
        |SELECT fold, count(*) AS n, min(off) AS min_off, max(off) AS max_off,
        |       fold IS NULL OR (min(off) >= 900000000
        |         AND max(off) < 21600000000 - 900000000) AS no_leak
        |FROM t GROUP BY fold ORDER BY fold NULLS FIRST""".stripMargin),
    // ε-DP count release: per-event-type counts + seeded Laplace(1/ε)
    // noise (inverse-CDF on the md5-open uniform, ln term rounded 9dp
    // for engine parity, raw-double publication).
    // DP counts: same md5-open uniform, same inverse-CDF shape op for
    // op; noisy_n published RAW (one multiply + one add on identical
    // doubles after the 9-dp ln rounding)
    Query("q_dp_counts", (s, dir) =>
      DataQualityOps.dpNoisyCounts(Tables.events(s, dir), "event_type",
          eps = 0.5, seed = "dp1")
        .orderBy("event_type"),
      """WITH g AS (
        |  SELECT event_type, count(*) AS n FROM events GROUP BY event_type
        |), u AS (
        |  SELECT event_type, n,
        |         (('0x' || substring(md5(event_type || '|dp1'), 1, 6))::BIGINT
        |           + 0.5) / 16777216.0 AS u
        |  FROM g
        |)
        |SELECT event_type, CAST(0.5 AS DOUBLE) AS epsilon,
        |       CAST(n AS DOUBLE) + (-2.0) * sign(u - 0.5)
        |         * round(ln(1.0 - 2.0 * abs(u - 0.5)), 9) AS noisy_n
        |FROM u ORDER BY event_type""".stripMargin),
    // LOCAL-DP collection: k-ary randomized response over event types
    // (p = 3/4) + the collector's debiased frequency estimate; true
    // counts published as the realized-error certificate.
    // RR replay: same per-row hash lanes (honesty bits + lie draw),
    // same category indexing, one debias division of exact ints
    Query("q_rr_freq", (s, dir) =>
      DataQualityOps.rrFrequency(Tables.events(s, dir), col("event_id"),
          col("event_type"), seed = "rr1")
        .orderBy("cat"),
      s"""WITH cats AS (
        |  SELECT cat, CAST(row_number() OVER (ORDER BY cat) AS BIGINT) - 1 AS idx
        |  FROM (SELECT DISTINCT event_type AS cat FROM events)
        |), kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM cats),
        |b AS (
        |  SELECT c.idx,
        |    ('0x' || substring(md5(CAST(e.event_id AS VARCHAR) || '|rr1'), 1, 6))::BIGINT AS h1,
        |    ('0x' || substring(md5(CAST(e.event_id AS VARCHAR) || '|rr1'), 7, 6))::BIGINT AS h2
        |  FROM events e JOIN cats c ON c.cat = e.event_type
        |), r AS (
        |  SELECT CASE WHEN k.k < 2 OR h1 % 4 < 3 THEN idx
        |              ELSE (idx + 1 + h2 % (k.k - 1)) % k.k END AS rep_idx
        |  FROM b CROSS JOIN kk k
        |), rep AS (
        |  SELECT rep_idx AS idx, CAST(count(*) AS BIGINT) AS n_reported
        |  FROM r GROUP BY 1
        |), tr AS (SELECT idx, CAST(count(*) AS BIGINT) AS n_true FROM b GROUP BY idx),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events)
        |SELECT c.cat, coalesce(t.n_true, 0) AS n_true,
        |       coalesce(p.n_reported, 0) AS n_reported,
        |       CASE WHEN k.k >= 2 THEN
        |         ${ratioRoundSql("4 * (k.k - 1) * coalesce(p.n_reported, 0) - nn.n",
                    "nn.n * (3 * k.k - 4)", 6)} + 0.0 END AS pi_hat
        |FROM cats c LEFT JOIN tr t USING (idx) LEFT JOIN rep p USING (idx)
        |CROSS JOIN nn CROSS JOIN kk k
        |ORDER BY cat""".stripMargin),
    // Link prediction (Liben-Nowell/Kleinberg): common-neighbor count
    // + Jaccard for non-adjacent 2-hop pairs of the synthetic link
    // graph — wedge join keyed by the shared neighbor, anti-join
    // against the edge set, broadcast degree joins.
    // k-core: unrolled synchronous peeling over the same synthetic
    // graph — keep nodes of degree >= 4, restrict edges, repeat
    // link prediction: same wedge enumeration, NOT EXISTS for the
    // non-adjacency filter, inclusion-exclusion union degree
    Query("q_link_pred", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val nodes = docs.select(col("doc_id").as("node"))
      GraphOps.linkPrediction(GraphOps.syntheticEdges(nodes, n), minCommon = 2)
        .orderBy("a", "b")
    },
      """WITH p AS (SELECT count(*) AS n FROM documents),
        |raw AS (
        |  SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM documents, p
        |  UNION ALL SELECT doc_id, (doc_id * 2 + 3) % n FROM documents, p
        |  UNION ALL SELECT doc_id, (doc_id * doc_id + 5) % n FROM documents, p
        |),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM raw WHERE src <> dst
        |),
        |sym AS MATERIALIZED (
        |  SELECT a AS node, b AS nbr FROM und
        |  UNION ALL SELECT b AS node, a AS nbr FROM und
        |),
        |cn AS (
        |  SELECT x.node AS a, y.node AS b, count(*) AS n_common
        |  FROM sym x JOIN sym y ON x.nbr = y.nbr AND x.node < y.node
        |  GROUP BY x.node, y.node HAVING count(*) >= 2
        |),
        |deg AS (SELECT node, count(*) AS deg FROM sym GROUP BY node)
        |SELECT cn.a, cn.b, cn.n_common,
        |       round(CAST(cn.n_common AS DOUBLE)
        |             / (da.deg + db.deg - cn.n_common), 6) AS jaccard
        |FROM cn
        |JOIN deg da ON da.node = cn.a
        |JOIN deg db ON db.node = cn.b
        |WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.a = cn.a AND und.b = cn.b)
        |ORDER BY a, b""".stripMargin),
    // GDPR cascade-delete audit: the mod-97 custkeys as the deletion
    // request list, FK-cascaded through orders → lineitem and into
    // events; broadcast semi-join probes, one scan per table.
    // cascade replay: the same key list, semi-joins as IN subqueries
    Query("q_gdpr_cascade", (s, dir) => {
      val cust = Tables.customer(s, dir)
      RelationalOps.cascadeDeleteReport(cust, Tables.orders(s, dir),
          Tables.lineitem(s, dir), Tables.events(s, dir),
          cust.filter(col("c_custkey") % 97 === 0)
            .select(col("c_custkey").as("custkey")))
        .orderBy("table_name")
    },
      """WITH del AS (
        |  SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0
        |), delord AS (
        |  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM del)
        |)
        |SELECT 'customer' AS table_name, count(*) AS n_before,
        |       CAST(sum(CASE WHEN c_custkey IN (SELECT k FROM del) THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
        |       count(*) - CAST(sum(CASE WHEN c_custkey IN (SELECT k FROM del) THEN 1 ELSE 0 END) AS BIGINT) AS n_after
        |FROM customer
        |UNION ALL
        |SELECT 'events', count(*),
        |       CAST(sum(CASE WHEN user_id IN (SELECT k FROM del) THEN 1 ELSE 0 END) AS BIGINT),
        |       count(*) - CAST(sum(CASE WHEN user_id IN (SELECT k FROM del) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM events
        |UNION ALL
        |SELECT 'lineitem', count(*),
        |       CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM delord) THEN 1 ELSE 0 END) AS BIGINT),
        |       count(*) - CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM delord) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'orders', count(*),
        |       CAST(sum(CASE WHEN o_custkey IN (SELECT k FROM del) THEN 1 ELSE 0 END) AS BIGINT),
        |       count(*) - CAST(sum(CASE WHEN o_custkey IN (SELECT k FROM del) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders
        |ORDER BY table_name""".stripMargin),
    // RFM customer segmentation: value-level equi-depth quintile
    // scores over recency/frequency/monetary — no per-row global
    // sort; every window runs on the distinct-value table.
    // RFM replay: the equiDepth boundary construction per metric on
    // the distinct-value tables; sums CAST to BIGINT (HUGEINT rule)
    Query("q_rfm", (s, dir) =>
      RelationalOps.rfmSegments(Tables.orders(s, dir)).orderBy("o_custkey"), {
      def sc(m: String, a: String): String =
        s"""${a}_b AS MATERIALIZED (
           |  SELECT min(CASE WHEN cum >= (i * nt.n + 4) // 5 THEN v END) AS b
           |  FROM (SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
           |        FROM (SELECT $m AS v, count(*) AS cnt FROM st GROUP BY 1))
           |       CROSS JOIN nt CROSS JOIN range(1, 5) r(i)
           |  GROUP BY i),
           |${a}_s AS MATERIALIZED (
           |  SELECT cust, CAST(1 + sum(CASE WHEN st.$m > b.b THEN 1 ELSE 0 END) AS BIGINT) AS $a
           |  FROM st CROSS JOIN ${a}_b b GROUP BY cust)""".stripMargin
      s"""WITH st AS MATERIALIZED (
         |  SELECT o_custkey AS cust,
         |         date_diff('day', CAST(max(o_orderdate) AS DATE), a.mx) AS recency_days,
         |         count(*) AS frequency,
         |         CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,12))), 4) AS DOUBLE) AS monetary
         |  FROM orders CROSS JOIN
         |       (SELECT CAST(max(o_orderdate) AS DATE) AS mx FROM orders) a
         |  GROUP BY o_custkey, a.mx
         |),
         |nt AS (SELECT count(*) AS n FROM st),
         |${sc("recency_days", "r_score")},
         |${sc("frequency", "f_score")},
         |${sc("monetary", "m_score")}
         |SELECT st.cust AS o_custkey, st.recency_days, st.frequency, st.monetary,
         |       r.r_score, f.f_score, m.m_score,
         |       r.r_score::VARCHAR || f.f_score::VARCHAR || m.m_score::VARCHAR AS segment
         |FROM st
         |JOIN r_score_s r USING (cust)
         |JOIN f_score_s f USING (cust)
         |JOIN m_score_s m USING (cust)
         |ORDER BY o_custkey""".stripMargin
    }),
    // k-anonymity release (Samarati/Sweeney suppression ladder):
    // (nation, segment) groups of ≥ 5 customers release as-is;
    // undersized groups generalize segment → 'ANY', then collapse to
    // the fully-generalized bucket — every published row with a live
    // quasi-identifier covers ≥ 5 individuals.
    // k-anonymity ladder replay: level-0 groups ≥ 5 as-is, residue
    // generalizes segment then collapses to the ('ANY','ANY') bucket
    Query("q_kanon", (s, dir) =>
      DataQualityOps.kAnonymize(Tables.customer(s, dir),
          col("c_nationkey"), col("c_mktsegment"), k = 5)
        .orderBy("level", "q1", "q2"),
      """WITH g0 AS (
        |  SELECT CAST(c_nationkey AS VARCHAR) AS q1, c_mktsegment AS q2,
        |         count(*) AS n
        |  FROM customer GROUP BY 1, 2
        |), g1 AS (
        |  SELECT q1, CAST(sum(n) AS BIGINT) AS n FROM g0 WHERE n < 5 GROUP BY q1
        |), rel2 AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n FROM g1 WHERE n < 5
        |)
        |SELECT q1, q2, n, 0 AS level FROM g0 WHERE n >= 5
        |UNION ALL
        |SELECT q1, 'ANY', n, 1 FROM g1 WHERE n >= 5
        |UNION ALL
        |SELECT 'ANY', 'ANY', n, 2 FROM rel2 WHERE n IS NOT NULL
        |ORDER BY level, q1, q2""".stripMargin),
    // Distinct l-diversity audit (Machanavajjhala 2006) — the
    // homogeneity-attack check k-anonymity misses: per (nation,
    // segment) group, distinct kilo-bucketed account balances and the
    // modal bucket's count; diverse iff >= 3 distinct sensitive values.
    // l-diversity replay: sensitive-value histogram then per-group
    // rollup; diverse iff >= 3 distinct kilo-buckets
    Query("q_ldiversity", (s, dir) =>
      DataQualityOps.lDiversity(Tables.customer(s, dir),
          col("c_nationkey"), col("c_mktsegment"),
          expr("CAST(floor(c_acctbal / 1000) AS BIGINT)"), l = 3)
        .orderBy("q1", "q2"),
      """WITH h AS (
        |  SELECT CAST(c_nationkey AS VARCHAR) AS q1, c_mktsegment AS q2,
        |         CAST(CAST(floor(c_acctbal / 1000) AS BIGINT) AS VARCHAR) AS s,
        |         count(*) AS ns
        |  FROM customer GROUP BY 1, 2, 3
        |)
        |SELECT q1, q2, CAST(sum(ns) AS BIGINT) AS n,
        |       count(*) AS n_sensitive, max(ns) AS top_sensitive_n,
        |       count(*) >= 3 AS diverse
        |FROM h GROUP BY q1, q2 ORDER BY q1, q2""".stripMargin),
    // t-closeness audit (Li 2007) — the distribution-attack check
    // l-diversity misses: per (nation, segment) group, Earth-Mover's
    // distance between the group's and the global kilo-bucket balance
    // distributions; close iff EMD ≤ 0.15.
    // t-closeness replay: same (q1,q2,bin) combine, group×bin grid via
    // cross join with the global axis, cross-multiplied HUGEINT EMD
    // terms, one division rounded 9dp; flag on the published emd
    Query("q_tcloseness", (s, dir) =>
      DataQualityOps.tCloseness(Tables.customer(s, dir),
          col("c_nationkey"), col("c_mktsegment"),
          expr("CAST(floor(c_acctbal / 1000) AS BIGINT)"), t = 0.15)
        .orderBy("q1", "q2"),
      """WITH cells AS (
        |  SELECT CAST(c_nationkey AS VARCHAR) AS q1, c_mktsegment AS q2,
        |         CAST(floor(c_acctbal / 1000) AS BIGINT) AS b,
        |         count(*) AS n_cell
        |  FROM customer GROUP BY 1, 2, 3
        |), gbins AS (
        |  SELECT b, CAST(sum(n_cell) AS BIGINT) AS n_bin FROM cells GROUP BY b
        |), gcum AS (
        |  SELECT b, CAST(sum(n_bin) OVER (ORDER BY b) AS BIGINT) AS cum,
        |         CAST(sum(n_bin) OVER () AS BIGINT) AS n_total,
        |         count(*) OVER () AS n_bins
        |  FROM gbins
        |), grid AS (
        |  SELECT g.q1, g.q2, a.b, a.cum, a.n_total, a.n_bins,
        |         coalesce(c.n_cell, 0) AS n_cell
        |  FROM (SELECT DISTINCT q1, q2 FROM cells) g
        |  CROSS JOIN gcum a
        |  LEFT JOIN cells c ON c.q1 = g.q1 AND c.q2 = g.q2 AND c.b = a.b
        |), cums AS (
        |  SELECT q1, q2, b, cum, n_total, n_bins,
        |         CAST(sum(n_cell) OVER (PARTITION BY q1, q2 ORDER BY b)
        |              AS BIGINT) AS cum_g,
        |         CAST(sum(n_cell) OVER (PARTITION BY q1, q2) AS BIGINT) AS n_g
        |  FROM grid
        |), agg AS (
        |  SELECT q1, q2, any_value(n_g) AS n, any_value(n_total) AS n_total,
        |         any_value(n_bins) AS n_bins,
        |         sum(CASE WHEN cum < n_total
        |                  THEN abs(CAST(cum_g AS HUGEINT) * n_total
        |                           - CAST(cum AS HUGEINT) * n_g)
        |                  ELSE CAST(0 AS HUGEINT) END) AS emd_num
        |  FROM cums GROUP BY q1, q2
        |)
        |SELECT q1, q2, n,
        |       round(CAST(emd_num AS DOUBLE)
        |             / (CAST(n AS DOUBLE) * CAST(n_total AS DOUBLE)
        |                * CAST(n_bins - 1 AS DOUBLE)), 9) AS emd,
        |       round(CAST(emd_num AS DOUBLE)
        |             / (CAST(n AS DOUBLE) * CAST(n_total AS DOUBLE)
        |                * CAST(n_bins - 1 AS DOUBLE)), 9) <= 0.15 AS t_close
        |FROM agg ORDER BY q1, q2""".stripMargin),
    // Benford first-digit conformance of the order totals per order
    // status — the synthetic-data/fraud screen. On this UNIFORMLY
    // generated corpus the χ² correctly rejects Benford everywhere —
    // that rejection IS the check working.
    // Benford replay: first digit from the BIGINT floor's string, the
    // 9-digit axis from range(), 9-dp p_d and χ² terms decimal-summed
    Query("q_benford", (s, dir) =>
      DataQualityOps.benfordCheck(Tables.orders(s, dir),
          col("o_orderstatus"), col("o_totalprice"))
        .orderBy("grp", "digit"),
      """WITH c AS (
        |  SELECT o_orderstatus AS grp,
        |         CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |                             AS VARCHAR), 1, 1) AS BIGINT) AS digit,
        |         count(*) AS n_d
        |  FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1, 2
        |), grid AS (
        |  SELECT g.grp, d.digit, coalesce(c.n_d, 0) AS n_d
        |  FROM (SELECT DISTINCT grp FROM c) g
        |  CROSS JOIN (SELECT CAST(range AS BIGINT) AS digit
        |              FROM range(1, 10)) d
        |  LEFT JOIN c ON c.grp = g.grp AND c.digit = d.digit
        |), t AS (
        |  SELECT grp, digit, CAST(n_d AS BIGINT) AS n_d,
        |         CAST(sum(n_d) OVER (PARTITION BY grp) AS BIGINT) AS n,
        |         round(ln(1.0 + 1.0 / digit) / ln(10.0), 9) AS p_d
        |  FROM grid
        |), terms AS (
        |  SELECT grp, digit, n_d,
        |         round(CAST(n_d AS DOUBLE) / n, 9) AS share, p_d,
        |         CAST(round((n_d - n * p_d) * (n_d - n * p_d) / (n * p_d), 9)
        |              AS DECIMAL(38,9)) AS chi2_term
        |  FROM t
        |)
        |SELECT grp, digit, n_d, share, p_d AS benford_p,
        |       round(CAST(sum(chi2_term) OVER (PARTITION BY grp) AS DOUBLE), 6)
        |         AS chi2,
        |       round(CAST(sum(chi2_term) OVER (PARTITION BY grp) AS DOUBLE), 6)
        |         > 15.507 AS deviates
        |FROM terms ORDER BY grp, digit""".stripMargin),
    // Multi-source BFS over the synthetic link graph: min hops from
    // the mod-97 seed set within 4 rounds; frontier-only joins, the
    // oracle unrolls the same recursion.
    // BFS: the same frontier recursion unrolled — hK = dsts of h{K-1}
    // not yet seen; MATERIALIZED so the chain evaluates once per round
    Query("q_bfs", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1 // dense ids
      val nodes = docs.select(col("doc_id").as("node"))
      GraphOps.bfsHops(GraphOps.syntheticEdges(nodes, n),
          nodes.filter(col("node") % 97 === 0), rounds = 4)
        .select(col("node").as("doc_id"), col("hop"))
        .orderBy("doc_id")
    },
      """WITH p AS (SELECT count(*) AS n FROM documents),
        |e AS MATERIALIZED (
        |  SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM documents, p
        |  UNION ALL SELECT doc_id, (doc_id * 2 + 3) % n FROM documents, p
        |  UNION ALL SELECT doc_id, (doc_id * doc_id + 5) % n FROM documents, p
        |),
        |h0 AS MATERIALIZED (
        |  SELECT doc_id AS node, 0 AS hop FROM documents WHERE doc_id % 97 = 0),
        |h1 AS MATERIALIZED (
        |  SELECT DISTINCT e.dst AS node, 1 AS hop FROM e
        |  JOIN h0 ON h0.node = e.src
        |  WHERE e.dst NOT IN (SELECT node FROM h0)),
        |h2 AS MATERIALIZED (
        |  SELECT DISTINCT e.dst AS node, 2 AS hop FROM e
        |  JOIN h1 ON h1.node = e.src
        |  WHERE e.dst NOT IN (SELECT node FROM h0)
        |    AND e.dst NOT IN (SELECT node FROM h1)),
        |h3 AS MATERIALIZED (
        |  SELECT DISTINCT e.dst AS node, 3 AS hop FROM e
        |  JOIN h2 ON h2.node = e.src
        |  WHERE e.dst NOT IN (SELECT node FROM h0)
        |    AND e.dst NOT IN (SELECT node FROM h1)
        |    AND e.dst NOT IN (SELECT node FROM h2)),
        |h4 AS MATERIALIZED (
        |  SELECT DISTINCT e.dst AS node, 4 AS hop FROM e
        |  JOIN h3 ON h3.node = e.src
        |  WHERE e.dst NOT IN (SELECT node FROM h0)
        |    AND e.dst NOT IN (SELECT node FROM h1)
        |    AND e.dst NOT IN (SELECT node FROM h2)
        |    AND e.dst NOT IN (SELECT node FROM h3))
        |SELECT node AS doc_id, hop FROM (
        |  SELECT * FROM h0 UNION ALL SELECT * FROM h1
        |  UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3
        |  UNION ALL SELECT * FROM h4)
        |ORDER BY doc_id""".stripMargin),
    // Community detection: 3 synchronous label-propagation rounds over
    // the same synthetic link graph (neighbor-majority vote, tie →
    // smallest label). One edges×labels join + two hash aggregates per
    // round; oracle unrolls the recursion.
    // synchronous LPA unrolled: per round, neighbor-majority vote with
    // row_number (cnt DESC, label ASC) replaying the engine's
    // bit-packed argmax semantics; undirected simple projection first
    Query("q_lpa", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val nodes = docs.select(col("doc_id").as("node"))
      GraphOps.labelPropagation(GraphOps.syntheticEdges(nodes, n), rounds = 3)
        .select(col("node").as("doc_id"), col("label").as("community"))
        .orderBy("doc_id")
    }, {
      def round(prev: String, cur: String): String =
        s"""$cur AS MATERIALIZED (
           |  SELECT node, label FROM (
           |    SELECT s.node, l.label, count(*) AS cnt,
           |           row_number() OVER (PARTITION BY s.node
           |             ORDER BY count(*) DESC, l.label) AS rn
           |    FROM sym s JOIN $prev l ON l.node = s.nbr
           |    GROUP BY s.node, l.label)
           |  WHERE rn = 1)""".stripMargin
      s"""WITH p AS (SELECT count(*) AS n FROM documents),
         |raw AS (
         |  SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM documents, p
         |  UNION ALL SELECT doc_id, (doc_id * 2 + 3) % n FROM documents, p
         |  UNION ALL SELECT doc_id, (doc_id * doc_id + 5) % n FROM documents, p
         |),
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM raw WHERE src <> dst
         |),
         |sym AS MATERIALIZED (
         |  SELECT a AS node, b AS nbr FROM und
         |  UNION ALL SELECT b AS node, a AS nbr FROM und
         |),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT node, node AS label FROM sym),
         |${round("l0", "l1")},
         |${round("l1", "l2")},
         |${round("l2", "l3")}
         |SELECT node AS doc_id, label AS community FROM l3
         |ORDER BY doc_id""".stripMargin
    }),
    // Dense-core extraction: 5 synchronous k-core peel rounds (k = 4)
    // over the same synthetic link graph (spam-farm / link-ring
    // detection). Fixpoint is round 3 at every gate SF — the extra
    // rounds are provable no-ops (GraphOpsSpec); oracle unrolls the
    // peeling round by round.
    Query("q_kcore", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1
      val nodes = docs.select(col("doc_id").as("node"))
      GraphOps.kCore(GraphOps.syntheticEdges(nodes, n), k = 4, rounds = 5)
        .select(col("node").as("doc_id"), col("deg"))
        .orderBy("doc_id")
    }, {
      def round(prev: String, i: Int): String =
        s"""kept$i AS MATERIALIZED (
           |  SELECT node FROM $prev GROUP BY node HAVING count(*) >= 4),
           |sym$i AS MATERIALIZED (
           |  SELECT s.node, s.nbr FROM $prev s
           |  JOIN kept$i a ON a.node = s.node
           |  JOIN kept$i b ON b.node = s.nbr)""".stripMargin
      s"""WITH p AS (SELECT count(*) AS n FROM documents),
         |raw AS (
         |  SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM documents, p
         |  UNION ALL SELECT doc_id, (doc_id * 2 + 3) % n FROM documents, p
         |  UNION ALL SELECT doc_id, (doc_id * doc_id + 5) % n FROM documents, p
         |),
         |und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |  FROM raw WHERE src <> dst
         |),
         |sym0 AS MATERIALIZED (
         |  SELECT a AS node, b AS nbr FROM und
         |  UNION ALL SELECT b AS node, a AS nbr FROM und
         |),
         |${round("sym0", 1)},
         |${round("sym1", 2)},
         |${round("sym2", 3)},
         |${round("sym3", 4)},
         |${round("sym4", 5)}
         |SELECT node AS doc_id, count(*) AS deg FROM sym5
         |GROUP BY node ORDER BY doc_id""".stripMargin
    }),
    // Incremental aggregation maintenance: per-customer (count, sum)
    // updated from the snapshot diff ONLY — group-moving updates
    // (mod-19 custkey bump) transfer mass between groups; the oracle
    // recomputes from scratch on the new snapshot, so equality proves
    // maintenance ≡ recomputation.
    // incremental agg: the from-scratch aggregate of the new snapshot —
    // equality proves the engine's old+delta decimal algebra exact
    Query("q_incr_agg", (s, dir) => {
      val dec = "decimal(38,12)"
      val ord = Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val prev = ord.filter(col("o_orderkey") % 11 =!= 0)
      val cur = ord.filter(col("o_orderkey") % 13 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
        .withColumn("o_custkey",
          when(col("o_orderkey") % 19 === 0, col("o_custkey") + lit(1L))
            .otherwise(col("o_custkey")))
      val oldAgg = prev.groupBy(col("o_custkey").as("grp"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec)).as("total"))
      val diff = RelationalOps.snapshotDiff(prev, cur, Seq("o_orderkey"))
      RelationalOps.applyCountSumDelta(oldAgg, diff,
          "o_custkey", "o_totalprice")
        .select(col("grp").as("o_custkey"), col("n"),
          round(col("total").cast("double"), 4).as("total"))
        .orderBy("o_custkey")
    },
      """WITH cur AS (
        |  SELECT CASE WHEN o_orderkey % 19 = 0 THEN o_custkey + 1
        |              ELSE o_custkey END AS grp,
        |         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |              ELSE o_totalprice END AS v
        |  FROM orders WHERE o_orderkey % 13 <> 0)
        |SELECT grp AS o_custkey, count(*) AS n,
        |       round(CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE), 4) AS total
        |FROM cur GROUP BY grp ORDER BY o_custkey""".stripMargin),
    // Pareto-frontier (skyline) curation filter: per-user engagement
    // stats (n_events, max value), keep users no other user dominates
    // on both axes. Engine runs the bucket-pruned exact plan; the
    // oracle is the O(n²) NOT EXISTS quantifier over the same stats —
    // equality proves the pruning dropped nothing.
    // skyline: the unpruned dominance quantifier — equality against the
    // engine's bucket-pruned plan is a completeness proof
    Query("q_skyline", (s, dir) => {
      val stats = Tables.events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), max("value").as("max_value"))
      RelationalOps.skyline2D(stats, "n_events", "max_value",
          bucketWidth = 8)
        .orderBy("user_id")
    },
      """WITH st AS (
        |  SELECT user_id, count(*) AS n_events, max(value) AS max_value
        |  FROM events GROUP BY user_id
        |)
        |SELECT user_id, n_events, max_value FROM st s
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM st q
        |  WHERE q.n_events >= s.n_events AND q.max_value >= s.max_value
        |    AND (q.n_events > s.n_events OR q.max_value > s.max_value))
        |ORDER BY user_id""".stripMargin),
    // Streaming hopping windows: the same 6h/3h windows as q_hop_window
    // through a real AvailableNow stream with watermarked state — the
    // overlapping-window member the streaming family was missing.
    // Gated by the SAME oracle as the batch form.
    // streaming hopping windows: identical truth to the batch form —
    // AvailableNow + complete mode must converge to the batch answer
    Query("q_stream_hop", (s, dir) => {
      val stream = Tables.eventsStream(s, dir)
      val agg = graft.streaming.StreamingOps.hoppingStats(stream, "ts",
        "value", "21600 seconds", "10800 seconds", "12 hours")
      memorySinkRun(agg, "hop", "complete")
        .select(unix_micros(col("w_start")).as("win_start_us"), col("n"),
          round(col("sum_value"), 4).as("sum_value"))
        .orderBy("win_start_us")
    },
      """WITH ev AS (SELECT epoch_us(ts) AS t, value FROM events),
        |h AS (
        |  SELECT ((t // 10800000000) - j) * 10800000000 AS win_start_us, value
        |  FROM ev CROSS JOIN range(2) r(j)
        |)
        |SELECT win_start_us, count(*) AS n,
        |       round(CAST(sum(CAST(value AS DECIMAL(28,12))) AS DOUBLE), 4) AS sum_value
        |FROM h GROUP BY win_start_us ORDER BY win_start_us""".stripMargin),
    // Streaming windowed top-k: per-6h-window event-type counts
    // through a real AvailableNow stream (bounded per-window category
    // state), top-3 ranked after the sink — the trending-feed shape.
    // batch replay of the windowed type counts + rank ≤ 3; rk cast to
    // INTEGER to match Spark's row_number type
    Query("q_stream_topk", (s, dir) => {
      val stream = Tables.eventsStream(s, dir)
      val agg = graft.streaming.StreamingOps.windowedTypeCounts(stream,
        "ts", "event_type", "21600 seconds", "12 hours")
      val w = Window.partitionBy("w_start")
        .orderBy(col("n").desc, col("event_type").asc)
      memorySinkRun(agg, "topk", "complete")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(unix_micros(col("w_start")).as("win_start_us"),
          col("event_type"), col("n"), col("rk"))
        .orderBy("win_start_us", "rk")
    },
      """WITH wc AS (
        |  SELECT epoch_us(ts) // 21600000000 * 21600000000 AS win_start_us,
        |         event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), rk AS (
        |  SELECT win_start_us, event_type, n,
        |         CAST(row_number() OVER (PARTITION BY win_start_us
        |                ORDER BY n DESC, event_type) AS INTEGER) AS rk
        |  FROM wc
        |)
        |SELECT win_start_us, event_type, n, rk FROM rk WHERE rk <= 3
        |ORDER BY win_start_us, rk""".stripMargin),
    // Last-touch conversion attribution: every purchase credited to
    // the user's most recent click/view/signup within 24 h (organic →
    // NULL). One user-keyed window pass; (ts, event_id) total order.
    // attribution replay: IGNORE NULLS running last-touch under the
    // same (ts, event_id) order; integer-division minutes
    Query("q_attribution", (s, dir) =>
      TemporalOps.lastTouchAttribution(Tables.events(s, dir),
          convType = "purchase", touchTypes = Seq("click", "view", "signup"),
          lookbackUs = 24L * 3600 * 1000000)
        .orderBy("user_id", "conv_event_id"),
      AttributionOracle),
    // Event-sequence transition matrix: P(next type | type) per user
    // timeline — one user-keyed window exchange, then type²-sized aggs.
    // transition matrix: lead() under the same total order (ts,
    // event_id); row-conditional p from exact BIGINT counts
    Query("q_transitions", (s, dir) =>
      TemporalOps.transitionMatrix(Tables.events(s, dir), Seq("user_id"),
          "ts", "event_type", "event_id")
        .orderBy("from_type", "to_type"),
      s"""WITH seq AS (
         |  SELECT event_type AS from_type,
         |         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
         |  FROM events
         |),
         |c AS (SELECT from_type, to_type, count(*) AS n FROM seq
         |      WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
         |SELECT from_type, to_type, n,
         |       ${ratioRoundSql("n", "sum(n) OVER (PARTITION BY from_type)", 6)} AS p
         |FROM c ORDER BY from_type, to_type""".stripMargin),
    // Stationary distribution of the q_transitions chain: 12
    // integer-exact power rounds on the scale-12 quantized kernel
    // (BigInt driver iteration on the type²-sized matrix; the corpus
    // pass is the same lead-window count aggregate).
    // Stationary replay: identical scale-12 kernel quantization
    // (hugeint half-up), uniform start with rank-ordered remainder,
    // 12 power rounds unrolled as MATERIALIZED CTE pairs (the
    // q_pagerank idiom), renormalized each round; zero-mass states
    // zero-filled at publication
    Query("q_stationary", (s, dir) =>
      TemporalOps.stationaryDistribution(Tables.events(s, dir),
          Seq("user_id"), "ts", "event_type", "event_id")
        .orderBy("state"), {
      val rounds = (1 to 12).map { t =>
        s"""g$t AS MATERIALIZED (
           |  SELECT pm.t AS state, sum(r${t - 1}.pi * pm.p) AS raw
           |  FROM r${t - 1} JOIN pm ON r${t - 1}.state = pm.f
           |  GROUP BY pm.t),
           |r$t AS MATERIALIZED (
           |  SELECT state,
           |         (2 * raw * 1000000000000 + s.tot) // (2 * s.tot) AS pi
           |  FROM g$t, (SELECT sum(raw) AS tot FROM g$t) s)""".stripMargin
      }.mkString(",\n")
      s"""WITH seq AS (
        |  SELECT event_type AS f,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS t
        |  FROM events
        |), c AS (
        |  SELECT f, t, CAST(count(*) AS HUGEINT) AS n
        |  FROM seq WHERE t IS NOT NULL GROUP BY f, t
        |), st AS (
        |  SELECT f AS state, row_number() OVER (ORDER BY f) - 1 AS j
        |  FROM (SELECT DISTINCT f FROM c)
        |), cc AS (SELECT c.* FROM c JOIN st ON c.t = st.state),
        |rt AS (SELECT f, sum(n) AS r FROM cc GROUP BY f),
        |pm AS MATERIALIZED (
        |  SELECT cc.f, cc.t, (2 * cc.n * 1000000000000 + rt.r)
        |                       // (2 * rt.r) AS p
        |  FROM cc JOIN rt USING (f)
        |), kk AS (SELECT CAST(count(*) AS HUGEINT) AS k FROM st),
        |r0 AS MATERIALIZED (
        |  SELECT state, 1000000000000 // k
        |           + CASE WHEN j < 1000000000000 % k THEN 1 ELSE 0 END AS pi
        |  FROM st CROSS JOIN kk),
        |$rounds
        |SELECT st.state,
        |       CAST(coalesce(r12.pi, 0) AS BIGINT) AS pi_micro,
        |       CAST(CAST(coalesce(r12.pi, 0) AS BIGINT) AS DOUBLE)
        |         / 1e12 AS pi
        |FROM st LEFT JOIN r12 USING (state)
        |ORDER BY st.state""".stripMargin
    }),
    // Frequent sequential patterns (GSP/PrefixSpan family, length ≤ 3)
    // over each user's high-value event timeline, min support 25% of
    // active users — Apriori-pruned level joins, greedy earliest-match
    // embeddings, every support an exact int64 distinct-key count. The
    // value ≥ 100 slice keeps per-user sequences sparse enough that
    // level-3 pruning visibly bites at every SF.
    // GSP replay: identical greedy level construction — p1 = first a,
    // p2 = first b after p1, level-3 existence after p2; supports are
    // exact BIGINT distinct-key counts, threshold a cross-multiplication
    Query("q_seq_patterns", (s, dir) =>
      TemporalOps.sequentialPatterns(
        Tables.events(s, dir).filter(col("value") >= 100),
        "user_id", "ts", "event_type", "event_id", supNum = 1, supDen = 4),
      """WITH e AS (
        |  SELECT user_id AS k, event_type AS sym,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS pos
        |  FROM events WHERE value >= 100
        |), nu AS (SELECT count(DISTINCT k) AS n_keys FROM e),
        |p1 AS (SELECT k, sym AS a, min(pos) AS p1 FROM e GROUP BY 1, 2),
        |f1 AS (
        |  SELECT a, count(*) AS sup FROM p1 GROUP BY a
        |  HAVING count(*) * 4 >= (SELECT n_keys FROM nu) * 1
        |), p2 AS (
        |  SELECT p.k, p.a, e.sym AS b, min(e.pos) AS p2
        |  FROM p1 p JOIN f1 USING (a)
        |  JOIN e ON e.k = p.k AND e.pos > p.p1
        |  JOIN f1 fb ON fb.a = e.sym
        |  GROUP BY 1, 2, 3
        |), f2 AS (
        |  SELECT a, b, count(*) AS sup FROM p2 GROUP BY a, b
        |  HAVING count(*) * 4 >= (SELECT n_keys FROM nu) * 1
        |), f3 AS (
        |  SELECT p.a, p.b, e.sym AS c, count(DISTINCT p.k) AS sup
        |  FROM p2 p JOIN f2 USING (a, b)
        |  JOIN e ON e.k = p.k AND e.pos > p.p2
        |  JOIN f1 fc ON fc.a = e.sym
        |  GROUP BY 1, 2, 3
        |  HAVING count(DISTINCT p.k) * 4 >= (SELECT n_keys FROM nu) * 1
        |)
        |SELECT 1 AS length, a AS pattern, sup FROM f1
        |UNION ALL SELECT 2, a || '>' || b, sup FROM f2
        |UNION ALL SELECT 3, a || '>' || b || '>' || c, sup FROM f3
        |ORDER BY length, sup DESC, pattern""".stripMargin),
    // Distributed K-means (Lloyd's): full-corpus assignment passes with
    // k×dims driver state only; decimal-exact centroid updates make
    // every iteration's literals bit-identical in any engine, so the
    // oracle replays 2 full iterations as chained CTEs and gates every
    // row's final cluster + distance.
    {
      val (dims, k, iters) = (8, 4, 2)
      Query("q_kmeans", (s, dir) =>
        ClusterOps.kmeans(Tables.embeddings(s, dir), "vec_id", "embedding",
            dims = dims, k = k, iters = iters)
          .orderBy("vec_id"),
        kmeansOracleSql(dims, k, iters))
    },
    // Clustering-quality report: simplified (centroid-based)
    // silhouette per cluster over the SAME Lloyd fit as q_kmeans —
    // one map-only scoring pass (centroids are plan literals), one
    // k-row aggregate; oracle appends distance CTEs to the shared
    // kmeans replay chain.
    // silhouette replay: same kmeans CTE chain; a2 = own-centroid
    // dist², b2 = least over the others (1e308 sentinel masks own);
    // per-point s rounds 9 dp, per-cluster decimal-sum mean at 6 dp
    {
      val (dims, k, iters) = (8, 4, 2)
      val a2 = "CASE a.cluster " +
        (0 until k).map(j => s"WHEN $j THEN d$j").mkString(" ") + " END"
      val b2 = "least(" + (0 until k).map(j =>
        s"CASE WHEN a.cluster = $j THEN 1e308 ELSE d$j END").mkString(", ") + ")"
      Query("q_silhouette", (s, dir) =>
        ClusterOps.silhouette(Tables.embeddings(s, dir), "vec_id",
            "embedding", dims = dims, k = k, iters = iters)
          .orderBy("cluster"),
        s"""WITH ${kmeansCtes(dims, k, iters)},
           |sil AS (
           |  SELECT a.cluster, $a2 AS a2, $b2 AS b2
           |  FROM f JOIN asg a USING (vec_id)
           |)
           |SELECT cluster, count(*) AS n,
           |       round(CAST(sum(CAST(
           |             CASE WHEN greatest(sqrt(a2), sqrt(b2)) > 0
           |                  THEN round((sqrt(b2) - sqrt(a2))
           |                             / greatest(sqrt(a2), sqrt(b2)), 9)
           |                  ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE)
           |             / count(*), 6) AS mean_sil
           |FROM sil GROUP BY cluster ORDER BY cluster""".stripMargin)
    },
    // Diversity/coreset sampling: k-center greedy farthest-point
    // selection on the integer-quantized grid — every distance² an
    // exact integer, selection trajectory + cover-radius certificate
    // gated row-for-row.
    // k-center replay: same integer grid, exact-int distances², same
    // argmax/tie order, unrolled greedy rounds + coverage certificate
    {
      val k = 8
      Query("q_kcenter", (s, dir) =>
        ClusterOps.kCenterGreedy(Tables.embeddings(s, dir), k = k)
          .orderBy("sel_rank"),
        s"""WITH pts AS MATERIALIZED (
           |  SELECT vec_id,
           |    list_transform(embedding,
           |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
           |  FROM embeddings
           |), c0 AS (SELECT vec_id, q FROM pts ORDER BY vec_id LIMIT 1),
           |m0 AS MATERIALIZED (
           |  SELECT p.vec_id,
           |    CAST(sum((p.q[d+1] - c.q[d+1]) * (p.q[d+1] - c.q[d+1])) AS BIGINT) AS d2
           |  FROM pts p CROSS JOIN c0 c, range(64) r(d)
           |  GROUP BY p.vec_id
           |),
           |${kcRoundsSql(k - 1)}
           |SELECT 0 AS sel_rank, vec_id, CAST(0 AS BIGINT) AS d2 FROM c0
           |${(1 until k).map(t => s"UNION ALL SELECT $t, vec_id, d2 FROM s$t")
                         .mkString("\n")}
           |UNION ALL SELECT $k, CAST(NULL AS BIGINT), (SELECT max(d2) FROM m${k - 1})
           |ORDER BY sel_rank""".stripMargin)
    },
    // Grid-density clustering (DBSCAN-lite): eps-grid on the first two
    // embedding dims, dense cells (≥ 8 pts) unioned over 8-adjacency
    // into clusters, sparse points → NULL noise. All graph work on the
    // CELL table; oracle closes the adjacency with a recursive CTE.
    // grid-density replay: same quantization + packed cell ids;
    // component labels via recursive min-reachable closure over the
    // 8-adjacency of dense cells; isolated dense cells keep their id
    Query("q_grid_density", (s, dir) =>
      ClusterOps.gridDensityClusters(Tables.embeddings(s, dir),
          eps = 0.05, minPts = 8)
        .orderBy("vec_id"),
      """WITH RECURSIVE pts AS (
        |  SELECT vec_id,
        |         CAST(floor(CAST(embedding[1] AS DOUBLE) / 0.05) AS BIGINT) AS cx,
        |         CAST(floor(CAST(embedding[2] AS DOUBLE) / 0.05) AS BIGINT) AS cy
        |  FROM embeddings
        |), dense AS (
        |  SELECT cx, cy, (cx + 4096) * 8192 + cy + 4096 AS cid
        |  FROM pts GROUP BY cx, cy HAVING count(*) >= 8
        |), ed AS (
        |  SELECT a.cid AS src, b.cid AS dst
        |  FROM dense a JOIN dense b
        |    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
        |   AND a.cid <> b.cid
        |), reach(node, label) AS (
        |  SELECT src, src FROM ed
        |  UNION
        |  SELECT e.src, r.label FROM ed e JOIN reach r ON r.node = e.dst
        |), lab AS (
        |  SELECT node AS cid, min(label) AS cluster FROM reach GROUP BY node
        |)
        |SELECT p.vec_id, p.cx, p.cy,
        |       CASE WHEN d.cid IS NOT NULL
        |            THEN coalesce(l.cluster, d.cid) END AS cluster
        |FROM pts p
        |LEFT JOIN dense d USING (cx, cy)
        |LEFT JOIN lab l ON l.cid = d.cid
        |ORDER BY p.vec_id""".stripMargin),
    // Bucketed-table co-located join: lineitem and orders rewritten as
    // 8-bucket tables hashed on the order key, then joined through the
    // catalog — the ingest-time layout that removes BOTH join-side
    // exchanges for every downstream join on the key (BucketingSpec
    // pins the zero-exchange plan). Gate covers writer → catalog →
    // bucket-aware scan → join → agg end to end.
    // bucketed join: plain join over the raw tables — the bucketed
    // layout must change the plan, never the answer
    Query("q_bucketed_join", (s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
      val base = s"/tmp/graft_bucketed_$tag"
      val l = graft.sources.Bucketing.writeBucketed(
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        s"graft_bl_$tag", s"$base/lineitem", "l_orderkey", 8)
      val o = graft.sources.Bucketing.writeBucketed(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        s"graft_bo_$tag", s"$base/orders", "o_orderkey", 8)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          // round in the DECIMAL domain, cast after (the r8 divergence-#6
          // rule): round(double, 4) of the cast sum ties at the 4th dp
          // under hot-key accumulation — zipf_sf10 caught exactly one
          // priority group landing ON x.xxx5 with the engines rounding
          // apart (…8.5571 vs …8.5572)
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(28,12)")), 4).cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,12))), 4) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    // Lake write-path: DYNAMIC partition overwrite — a late batch
    // replaces ONLY the partitions it carries rows for (the daily
    // restatement every partitioned lake runs); untouched partitions
    // must survive byte-for-byte. Full static write, then a dynamic
    // overwrite of the two newest 30-day buckets with even-key orders
    // repriced +1000 — so replaced partitions change BOTH cardinality
    // and values; the read-back aggregate is the gate. Exact cents
    // lanes; the writer conf is restored after the write (the
    // session-state-strip rule).
    // DPO replay: the overwrite SEMANTICS as set algebra — months
    // below the cut keep their original rows, months at/above it
    // keep only the batch's (even-key, repriced) rows; exact cents
    Query("q_dpo", (s, dir) => {
      val tag = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
      // pid suffix: two processes gating the same corpus must not
      // interleave their static/dynamic writes on one directory
      val base =
        s"/tmp/graft_dpo_${tag}_${ProcessHandle.current().pid()}"
      val monthUs = 2592000000000L // 30-day buckets of epoch micros
      val orders = Tables.orders(s, dir)
        .withColumn("o_month",
          expr(s"unix_micros(CAST(o_orderdate AS TIMESTAMP)) div ${monthUs}L"))
      orders.write.mode("overwrite").partitionBy("o_month").parquet(base)
      val cut = orders.agg((max(col("o_month")) - 1).as("cutm"))
      // every cut-window month must appear in the batch, or dynamic
      // overwrite leaves that month's ORIGINAL partition intact while
      // the oracle's replay replaces it — the month's min key rides
      // along as the escort row regardless of parity
      val batch = orders.join(broadcast(cut))
        .filter(col("o_month") >= col("cutm"))
        .withColumn("__minkey", min("o_orderkey").over(
          org.apache.spark.sql.expressions.Window.partitionBy("o_month")))
        .filter(pmod(col("o_orderkey"), lit(2L)) === 0 ||
          col("o_orderkey") === col("__minkey"))
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .drop("cutm", "__minkey")
      val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try batch.write.mode("overwrite").partitionBy("o_month").parquet(base)
      finally prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
      s.read.parquet(base)
        .groupBy("o_month")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("sum_cents"))
        .orderBy("o_month")
    },
      """WITH o AS (
        |  SELECT *, epoch_us(o_orderdate) // 2592000000000 AS o_month
        |  FROM orders
        |), cut AS (SELECT max(o_month) - 1 AS cutm FROM o),
        |win AS (
        |  SELECT o.*, min(o_orderkey) OVER (PARTITION BY o_month) AS mk
        |  FROM o CROSS JOIN cut WHERE o_month >= cutm
        |),
        |expected AS (
        |  SELECT o_month, o_totalprice FROM o CROSS JOIN cut
        |  WHERE o_month < cutm
        |  UNION ALL
        |  SELECT o_month, o_totalprice + 1000.0 AS o_totalprice
        |  FROM win
        |  WHERE o_orderkey % 2 = 0 OR o_orderkey = mk
        |)
        |SELECT o_month, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |            AS BIGINT) AS sum_cents
        |FROM expected GROUP BY o_month ORDER BY o_month""".stripMargin),
  )
}
