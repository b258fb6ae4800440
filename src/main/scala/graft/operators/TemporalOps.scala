package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators Spark lacks as primitives, composed from
  * existing relational ops (the preference order of SURVEY.md §5: no
  * custom plan node where a declarative composition already scales).
  *
  * The headline is the AS-OF join — "for each left row, the most recent
  * right row at or before its timestamp" — the canonical
  * point-in-time-correct feature lookup of every event/feature-store
  * pipeline. A naive formulation is an inequality join (range explosion,
  * O(|L|·|R|) worst case); this one is the scale-safe sort-based
  * rewrite:
  *
  *   union(left ∪ right) → window last(value, ignoreNulls) over
  *   (partition by key, order by ts, side) → keep left rows
  *
  * ONE exchange keyed by the join key and one per-partition sort — the
  * same cost as a sort-merge join, with no pair blow-up for any data
  * distribution. DuckDB's native `ASOF JOIN` replays the semantics
  * exactly, so the operator is oracle-checkable (q_asof_join).
  */
object TemporalOps {

  /** As-of (backward) join. For each `left` row, appends
    * `asof_<c>` for every `c` in `valueCols`: the value from the last
    * `right` row with equal `keys` and `right.tsCol <= left.tsCol`
    * (null when no such row — left-join semantics).
    *
    * CONTRACT: `keys` must be non-null (SQL equality-join semantics —
    * a null key matches nothing; here null keys would group together)
    * and `right` must carry at most one row per (keys, ts) —
    * pre-aggregate otherwise (ties at the same timestamp are
    * resolution-order-dependent in every engine's ASOF; fixing a
    * deterministic representative first makes results portable).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, valueCols: Seq[String]): DataFrame = {
    // helper-column names are reserved: silently overwriting a real
    // user column would return constants in its place
    require(!left.columns.exists(Set("__side", "__r", "__asof")),
      "asOfJoin reserves columns __side/__r/__asof; rename them on the left input")
    // side 0 = right, 1 = left: at equal ts the right row sorts FIRST,
    // so a right row timestamped exactly at a left row's ts is visible
    // to it (the `<=` in the contract).
    val lNorm = left.withColumn("__side", lit(1))
    // ONE wrapper struct per right row, never null AS A WHOLE even when
    // every value field is null: last(ignoreNulls) then skips exactly
    // the interleaved left-row placeholders — a matched right row whose
    // value IS null correctly yields null (not a stale earlier value),
    // and all valueCols come from the SAME right row (no tearing).
    // Null-ts right rows are dropped: SQL's `r.ts <= l.ts` never holds
    // for null (the window's nulls-first ordering would otherwise make
    // them match EVERY left row).
    val rNorm = right.filter(col(tsCol).isNotNull).select(
      (keys.map(col) :+ col(tsCol)) :+
        struct(valueCols.map(col): _*).as("__r"): _*)
      .withColumn("__side", lit(0))
    val u = lNorm.unionByName(rNorm, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = u.withColumn("__asof", last(col("__r"), ignoreNulls = true).over(w))
    filled.filter(col("__side") === 1)
      .select(left.columns.map(col) ++
        valueCols.map(c => col(s"__asof.$c").as(s"asof_$c")): _*)
  }

  /** Sessionization: merge each key's events into sessions separated by
    * inactivity gaps ≥ `gap`, via Spark's `session_window` (merging
    * session aggregation — one exchange keyed on (keys, overlapping
    * windows), state bounded per open session, and the SAME call works
    * under Structured Streaming with a watermark). Output: keys +
    * (n_events, s_start, s_end) where start/end are the first/last
    * EVENT timestamps (engine-neutral — `session_window.end` pads the
    * trailing gap, so it is not published).
    *
    * Gap semantics (pinned in TemporalOpsSpec): an event at EXACTLY
    * `gap` after the previous event still merges (session_window spans
    * are end-inclusive on the padded gap); only a strictly larger gap
    * starts a new session — the gaps-and-islands SQL mirror is
    * `lag diff > gap`.
    */
  def sessionize(events: DataFrame, keys: Seq[String], tsCol: String,
      gap: String): DataFrame =
    events
      .groupBy(keys.map(col) :+ session_window(col(tsCol), gap): _*)
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("s_start"), max(col(tsCol)).as("s_end"))
      .drop("session_window")

  /** Range (interval-containment) join: every (point, interval) pair
    * with `start <= point.ts <= end` — the other join Spark lacks as a
    * primitive. A naive inequality join plans as BroadcastNestedLoop
    * (fine for a handful of intervals, O(|P|·|I|) when both sides are
    * big); this is the bucketized rewrite: both sides key on coarse
    * time buckets of `bucketWidthUs` micros (each interval explodes
    * onto the buckets it covers), the join is a plain EQUI-join on the
    * bucket, and the exact containment predicate filters inside. Work
    * is |P| + Σ interval-bucket-spans + true matches — never a cross
    * product; hot buckets are ordinary AQE-splittable join skew.
    *
    * Pick `bucketWidthUs` ≈ the typical interval length: each interval
    * then lands on ~2 buckets (cost factor), and each point meets only
    * the intervals overlapping its bucket (selectivity).
    */
  def rangeJoinPoints(points: DataFrame, tsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      bucketWidthUs: Long): DataFrame = {
    require(!points.columns.contains("__b") && !intervals.columns.contains("__b"),
      "rangeJoinPoints reserves column __b; rename it on the inputs")
    val p = points.withColumn("__b",
      floor(unix_micros(col(tsCol)) / bucketWidthUs))
    // degenerate intervals (start > end — `sequence` would throw on the
    // inverted range — or a null bound) can never satisfy the
    // containment predicate; dropping them preserves semantics exactly
    val iv = intervals.filter(col(startCol) <= col(endCol))
      .withColumn("__b", explode(sequence(
        floor(unix_micros(col(startCol)) / bucketWidthUs),
        floor(unix_micros(col(endCol)) / bucketWidthUs))))
    p.join(iv, "__b")
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop("__b")
  }

  /** Time-series gap filling: per-key fixed-width bucket counts with
    * ZERO rows materialized for empty buckets between each key's first
    * and last event — the densification step before any window/trend
    * model (a rolling mean over sparse buckets silently skips gaps;
    * over filled buckets it sees them). Output: (keys…, bucket_us —
    * bucket start in epoch micros, n).
    *
    * Scale shape: one bucketed count aggregate over the events (the
    * only corpus-sized exchange, map-side combined, persisted
    * query-scoped for its two consumers), then per-key spans — ONE row
    * per key — explode into the dense bucket axis and LEFT-join the
    * counts back on (key, bucket). The explode runs on the key-sized
    * table, never the event stream; total output is bounded by
    * Σ per-key span, which the caller controls via `bucketSeconds`.
    *
    * Bucketing uses integer `div` on epoch micros (the Tables.events
    * lesson: double division at epoch magnitude rounds across bucket
    * boundaries; `div` truncates exactly like the oracle's `//`).
    */
  def fillGaps(events: DataFrame, keys: Seq[String], tsCol: String,
      bucketSeconds: Long = 21600): DataFrame = graft.CacheScope.pinned { p =>
    val w = bucketSeconds * 1000000L
    val counted = p(
      events.groupBy(keys.map(col) :+
          expr(s"unix_micros($tsCol) div ${w}L").as("bucket"): _*)
        .agg(count(lit(1)).as("n")))
    val dense = counted.groupBy(keys.map(col): _*)
      .agg(min("bucket").as("b0"), max("bucket").as("b1"))
      .select(keys.map(col) :+ explode(sequence(col("b0"), col("b1"))).as("bucket"): _*)
    dense.join(counted, keys :+ "bucket", "left")
      .select(keys.map(col) :+ (col("bucket") * w).as("bucket_us") :+
        coalesce(col("n"), lit(0L)).as("n"): _*)
  }

  /** Hopping (sliding) window aggregation: fixed-length windows of
    * `windowSeconds` advancing every `slideSeconds` — the smoothing
    * window family ([[fillGaps]]' tumbling buckets are the degenerate
    * slide == window case). Each event lands in window/slide windows;
    * Spark's `window()` generator emits those assignments INLINE at the
    * scan (a per-row explode of a bounded literal count — no join, no
    * window-axis table), and one partial-combined exchange on the
    * window start aggregates them. Epoch-anchored alignment (Spark's
    * default `startTime` 0), published as exact epoch-micro starts.
    *
    * Scale shape: the only exchange is keyed on the window start —
    * time-cardinality, uniform by construction (every window holds a
    * bounded time slice); the map side pre-aggregates the window/slide
    * replication factor away, so the shuffle moves one row per
    * (window, map partition), not per event copy.
    */
  def hopWindowStats(events: DataFrame, tsCol: String, valueCol: String,
      windowSeconds: Long = 21600, slideSeconds: Long = 10800): DataFrame = {
    require(windowSeconds % slideSeconds == 0,
      "window must be a multiple of slide (Spark window() requirement)")
    events
      .groupBy(window(col(tsCol), s"$windowSeconds seconds",
        s"$slideSeconds seconds"))
      .agg(count(lit(1)).as("n"),
        round(sum(col(valueCol).cast("decimal(28,12)")).cast("double"), 4)
          .as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start_us"),
        col("n"), col("sum_value"))
  }

  /** Ordered-funnel analysis — the classic event-sequence question:
    * who VIEWED, then CLICKED at-or-after the first view, then
    * PURCHASED at-or-after that click? Per key: the first `steps.head`
    * timestamp, then for each later step the first occurrence at or
    * after the previous step's resolved time; a step only resolves if
    * every earlier one did (strict funnel order). `stage` = number of
    * resolved steps. Timestamps are published as epoch micros (exact
    * integers — no timestamp rendering parity surface).
    *
    * Plan shape: one conditional aggregate per step, each keyed by the
    * key columns — step k's aggregate consumes events (filtered to ONE
    * event type, so the probe volume shrinks step over step) joined to
    * the step-(k−1) resolution on the key. Every resolution except the
    * last is consumed TWICE (by the next step's join and by the final
    * assembly), so each is a query-scoped [[graft.CacheScope]] persist
    * of its minimal (keys, step_us) projection — key-cardinality, two
    * columns, already hash-partitioned on the key by its aggregate.
    * Without the persist the dependency chain would re-derive every
    * earlier step inside each later one (2^k−1 scans for a k-step
    * funnel — measured, not hypothetical); with it the event log is
    * scanned exactly `steps.size` times and the assembly joins consume
    * cached key-partitioned tables with no extra exchange. No windows,
    * no driver state; the funnel length, not the corpus, bounds the
    * pass count (3-5 in practice).
    */
  def funnel(events: DataFrame, keys: Seq[String], tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = graft.CacheScope.pinned { p =>
    require(steps.nonEmpty, "funnel needs at least one step")
    val ts = unix_micros(col(tsCol))
    val kCols = keys.map(col)
    val first = events.filter(col(typeCol) === steps.head)
      .groupBy(kCols: _*).agg(min(ts).as("step1_us"))
    // resolutions[i] = (keys, step{i+1}_us): first occurrence of step
    // i+1 at-or-after the step-i resolution, only for keys that
    // resolved every earlier step. Each is built from the PERSISTED
    // previous resolution, so lineage stays linear.
    val resolutions = steps.zipWithIndex.tail
      .foldLeft(List(p(first))) {
        case (prev :: done, (step, i)) =>
          val prevCol = s"step${i}_us"
          val stepCol = s"step${i + 1}_us"
          val nxt = events.filter(col(typeCol) === step)
            .select(kCols :+ ts.as("__ts"): _*)
            .join(prev, keys)
            .filter(col("__ts") >= col(prevCol))
            .groupBy(kCols: _*).agg(min(col("__ts")).as(stepCol))
          p(nxt) :: prev :: done
        case (Nil, _) => Nil // unreachable: seeded non-empty
      }.reverse
    val resolved = resolutions.tail.foldLeft(resolutions.head) {
      (acc, s) => acc.join(s, keys, "left")
    }
    resolved.withColumn("stage",
      steps.indices.map(i =>
        when(col(s"step${i + 1}_us").isNotNull, 1).otherwise(0))
        .reduce(_ + _))
  }

  /** Bounded-horizon exponentially weighted moving average per key —
    * the time-series smoothing primitive. True EWMA is an infinite
    * recursion (state per key, one row at a time — a streaming shape);
    * the batch-scale form truncates the horizon at `lookback` rows,
    * which at α ≤ ½ bounds the dropped tail below α^(lookback+1) of
    * total weight, and becomes a pure WINDOW expression: one key-keyed
    * exchange, one sort, `lookback` lag() columns folded in a fixed
    * order.
    *
    * Exactness device: α is REQUIRED to be a negative power of two
    * (½, ¼, …). Multiplying an IEEE double by 2^-j is exact (exponent
    * arithmetic, mantissa untouched), and the numerator/denominator
    * fold left-to-right in lag order on both engines — so the
    * published smoothed value needs NO rounding at all: it is
    * bit-identical in any engine, the strongest gate this family can
    * have. Missing lags (row earlier than `lookback` predecessors)
    * drop out of numerator AND denominator via the same null guard.
    */
  def ewma(events: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, tiebreak: String, alpha: Double = 0.5,
      lookback: Int = 6): DataFrame = {
    require(alpha > 0 && alpha < 1 &&
      (java.lang.Double.doubleToLongBits(alpha) & ((1L << 52) - 1)) == 0L,
      s"alpha must be a negative power of two for exact arithmetic, got $alpha")
    require(lookback >= 1, "lookback must be >= 1")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreak))
    val v = col(valueCol).cast("double")
    // term j: alpha^j * lag_j (exact: power-of-two scaling); fold from
    // j = 0 upward so both engines associate identically
    val terms = (0 to lookback).map { j =>
      val weight = math.pow(alpha, j) // exact for alpha = 2^-k
      val lagged = if (j == 0) v else lag(v, j).over(w)
      (when(lagged.isNotNull, lagged * weight), // null → drops from num
        when(lagged.isNotNull, lit(weight)))    //        and from denom
    }
    val num = terms.map(t => coalesce(t._1, lit(0.0))).reduce(_ + _)
    val den = terms.map(t => coalesce(t._2, lit(0.0))).reduce(_ + _)
    events.select(keys.map(col) :+ col(tsCol) :+ col(tiebreak) :+
      v.as("value") :+ (num / den).as("ewma"): _*)
  }

  /** Slowly-changing-dimension type-2 history build: compress each
    * key's attribute timeline into validity intervals. Consecutive
    * rows with the SAME attribute value collapse into one interval;
    * each change opens a new one, `valid_from` = the change's event
    * time, `valid_to` = the next change's event time (null = current
    * version). The warehouse-standard way to make a mutable dimension
    * joinable as-of any point in time (pairs with [[asOfJoin]] on the
    * consumer side).
    *
    * Plan: one key-keyed window exchange. Run starts are the rows
    * where `lag(attr)` null-safe-differs from `attr` (gaps-and-islands
    * with a NULL-safe comparison so a null attribute value forms its
    * own runs rather than merging into neighbours); the filtered frame
    * KEEPS the key partitioning and (ts, tiebreak) sort, so the second
    * window (lead → valid_to, row_number → version) reuses the same
    * exchange and sort — `.explain` shows one Exchange, one Sort. All
    * published columns are pass-through timestamps and integers: no
    * float anywhere, the gate is exact by construction. Standard
    * hot-key window caveat: one key's full timeline sorts on one task.
    */
  def scd2(df: DataFrame, keys: Seq[String], tsCol: String,
      tiebreak: String, attrCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreak))
    // a key's FIRST row always opens a run — checked explicitly, because
    // `lag(attr) <=> attr` on the first row compares null-safe against
    // the missing-row null and would silently swallow a run whose
    // attribute value is itself null
    val starts = df
      .withColumn("__new", row_number().over(w) === 1 ||
        !(lag(col(attrCol), 1).over(w) <=> col(attrCol)))
      .filter(col("__new"))
    starts.select(keys.map(col) :+ col(attrCol) :+
      col(tsCol).as("valid_from") :+ col(tiebreak).as("first_" + tiebreak) :+
      lead(col(tsCol), 1).over(w).as("valid_to") :+
      row_number().over(w).as("version"): _*)
  }

  /** OHLC downsampling — per (key, time bucket): the FIRST and LAST
    * value under a total (ts, tiebreak) order plus min/max/count. The
    * financial candlestick reduction, and more generally the
    * order-aware aggregation member (first/last-in-group) the
    * min/max/sum family can't express.
    *
    * Plans as ONE partial-combined HashAggregate — no window, no sort:
    * open/close are `min_by`/`max_by` over the packed (ts, tiebreak)
    * order struct, so each map task keeps one candidate per (key,
    * bucket) and only those cross the exchange. The window
    * formulation (row_number ASC/DESC) would shuffle and sort every
    * input row; this one ships two (order, value) pairs per group per
    * task. Bucketing is exact integer micros (`div`, not `/`).
    *
    * CONTRACT: (tsCol, tiebreak) must totally order rows within a
    * (key, bucket) — ties would make open/close engine-dependent.
    */
  def ohlc(events: DataFrame, keys: Seq[String], tsCol: String,
      tiebreak: String, valueCol: String, bucketUs: Long): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    val ord = struct(col(tsCol), col(tiebreak))
    events
      .withColumn("bucket_us",
        expr(s"(unix_micros($tsCol) div $bucketUs) * $bucketUs"))
      .groupBy(keys.map(col) :+ col("bucket_us"): _*)
      .agg(min_by(col(valueCol), ord).as("open"),
        max(col(valueCol)).as("high"),
        min(col(valueCol)).as("low"),
        max_by(col(valueCol), ord).as("close"),
        count(lit(1)).as("n"))
  }

  /** VWAP: volume-weighted average price per (key, calendar month) —
    * `sum(price) / sum(qty)` where the price column already carries the
    * per-row notional (the TPC-H `l_extendedprice` convention: unit
    * price × quantity). The trade/fill summarization primitive; [[ohlc]]
    * is the order-aware sibling, this one is order-free.
    *
    * Plan: ONE hash aggregate (partial+final) on (keys, y, m) — a single
    * exchange keyed by data-cardinality columns, no window, no sort.
    * Sums run in DECIMAL(28,12) so the per-group totals are exact
    * (order-independent) on any engine and any partitioning; only the
    * published ratio and sums are rounded. Calendar fields come from
    * the session-UTC timestamp, matching an oracle reading the same
    * parquet values naively.
    */
  def vwap(trades: DataFrame, keys: Seq[String], tsCol: String,
      priceCol: String, qtyCol: String): DataFrame = {
    // Round IN DECIMAL (exact half-up at scale 4), THEN cast: a
    // scale-4 decimal of this magnitude converts to double correctly
    // rounded on every engine (integer significand < 2^53, one IEEE
    // divide by 1e4). The scale-12 sums themselves are NOT cross-engine
    // bit-portable — double→decimal(28,12) casts differ at the last
    // scale digit (Spark rounds the shortest-repr digits, DuckDB the
    // exact binary expansion), which a raw sum-over-sum quotient
    // surfaces whenever one group lands on a tie.
    def dec4(c: String): Column =
      round(sum(col(c).cast("decimal(28,12)")), 4).cast("double")
    trades
      .withColumn("y", year(col(tsCol)))
      .withColumn("m", month(col(tsCol)))
      .groupBy(keys.map(col) :+ col("y") :+ col("m"): _*)
      .agg(count(lit(1)).as("n"),
        dec4(qtyCol).as("sum_qty"),
        dec4(priceCol).as("sum_price"),
        // vwap is DEFINED from the published 4-dp sums: every output
        // digit reproduces from the output itself, and the quotient of
        // two cross-engine-identical doubles is one IEEE division —
        // bit-identical without rounding the ratio (which would
        // re-introduce half-way ties the engines break differently).
        (dec4(priceCol) / dec4(qtyCol)).as("vwap"))
  }

  /** Merge overlapping per-key intervals: every set of half-open
    * `[start, end)` intervals connected by GENUINE overlap (next start
    * strictly before the running max end of everything before it;
    * touching endpoints stay separate — the half-open reading)
    * collapses to one row carrying its span and member count. The
    * coverage-compaction primitive: availability windows, lease / lock
    * spans, any time-range union.
    *
    * Sessionize is the point-event cousin; this one merges on interval
    * GEOMETRY, where an early LONG interval can swallow later short
    * ones whose immediate predecessor already ended — which is why the
    * island test runs against the running `max` of ALL previous ends
    * (gaps-and-islands with a 1-preceding cummax), never the previous
    * row's end alone.
    *
    * Plan: ONE key-keyed exchange. Both windows (the 1-preceding
    * cummax and the running island sum) share the same partitioning
    * and (start, tiebreak) order, and the final per-(key, island)
    * aggregate re-uses the key partitioning (clustering on a superset
    * of the partition keys needs no new Exchange). Arithmetic is exact
    * integer micros end to end. Standard hot-key window caveat: one
    * key's full timeline sorts on one task.
    *
    * `startUs` / `endUs` are expressions evaluated against `events`
    * (micros); rows with `endUs <= startUs` would be degenerate —
    * caller's contract to exclude them.
    */
  def intervalMerge(events: DataFrame, keys: Seq[String],
      tiebreak: String, startUs: Column, endUs: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__start_us"), col(tiebreak))
    val prevMaxEnd = max(col("__end_us"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val island = sum(col("__brk"))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    events
      .withColumn("__start_us", startUs)
      .withColumn("__end_us", endUs)
      .withColumn("__brk",
        when(prevMaxEnd.isNull || col("__start_us") >= prevMaxEnd, 1L)
          .otherwise(0L))
      .withColumn("__island", island)
      .groupBy(keys.map(col) :+ col("__island"): _*)
      .agg(min(col("__start_us")).as("start_us"),
        max(col("__end_us")).as("end_us"),
        count(lit(1)).as("n_events"))
      .drop("__island")
  }

  /** First-order Markov transition matrix over per-key event sequences:
    * how often does event type A immediately precede event type B
    * within the same key's timeline? The event-sequence summary behind
    * session modeling, anomaly priors, and next-action prediction —
    * [[funnel]] asks about one fixed path, this measures ALL observed
    * adjacent pairs. `p` is the row-conditional probability
    * P(to | from) = n / Σ_to' n, one exact BIGINT-over-BIGINT double
    * divide, rounded.
    *
    * Plan shape: one key-keyed exchange + sort feeding a lead() window
    * (each key's timeline must be contiguous to pair neighbors — the
    * same hot-key caveat as every per-key window), then the (from, to)
    * count aggregate collapses the corpus to ≤ |types|² rows; the
    * row-sum window runs on that tiny table. Total order inside a key
    * comes from (ts, tiebreak) — without the tiebreak, equal
    * timestamps would make `lead` nondeterministic across engines.
    */
  def transitionMatrix(events: DataFrame, keys: Seq[String], tsCol: String,
      typeCol: String, tiebreak: String): DataFrame = {
    val seqW = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreak))
    val counts = events
      .withColumn("__to", lead(col(typeCol), 1).over(seqW))
      .filter(col("__to").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__to").as("to_type"))
      .agg(count(lit(1)).as("n"))
    // exact-int half-up: n/row-total is a rational that can land ON
    // the 6-dp boundary (the sf10 round-at-tie class)
    counts.withColumn("p",
      graft.PlanUtils.ratioRound(col("n"),
        sum(col("n")).over(Window.partitionBy(col("from_type"))), 6))
  }

  /** Stationary distribution π of the [[transitionMatrix]] chain —
    * "where does user behavior settle": the long-run fraction of time
    * the event process spends in each state, the PageRank-without-
    * teleport of the behavioral graph (composes with q_transitions
    * the way [[acf]] composes with q_seasonal: one gate estimates the
    * kernel, the other its fixpoint).
    *
    * Exactness — NO floats anywhere: transition probabilities are
    * quantized to scale-12 integers p = halfUp(c·10¹²/r) (exact
    * hugeint/BigInt floor division both engines); π starts uniform on
    * the from-state set (remainder micro-units to the rank-lowest
    * states) and each of the `iters` power rounds is
    *   raw_j = Σ_i π_i·p_ij  (≤ 10²⁴, exact),
    *   π'_j  = halfUp(raw_j·10¹² / Σ raw)  (renormalize — quantized
    *   rows don't sum to exactly 10¹², so drift is squeezed out every
    *   round).
    * 12 deterministic integer rounds: the gate needs no convergence
    * argument, just replay equality; the oracle unrolls the same
    * rounds as MATERIALIZED CTEs (the q_pagerank/kmeans idiom).
    *
    * State space = states observed as FROM (transitions into to-only
    * states are dropped before iterating — the chain must be closed;
    * renormalization re-absorbs the clipped mass). The K² count
    * matrix is collected driver-side (bounded by the TYPE alphabet,
    * never the corpus — the driver-local Lloyd precedent) and the
    * BigInt iteration costs microseconds; the corpus pass is the ONE
    * lead-window + count aggregate [[transitionMatrix]] already runs.
    * Output: (state, pi_micro — the exact scale-12 integer, pi).
    */
  def stationaryDistribution(events: DataFrame, keys: Seq[String],
      tsCol: String, typeCol: String, tiebreak: String,
      iters: Int = 12): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = events.sparkSession
    val seqW = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreak))
    val counts = events
      .withColumn("__to", lead(col(typeCol), 1).over(seqW))
      .filter(col("__to").isNotNull)
      .groupBy(col(typeCol).as("f"), col("__to").as("t"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val states = counts.map(_._1).distinct.sorted
    val idx = states.zipWithIndex.toMap
    val k = states.length
    val S = BigInt(1000000000000L)
    val halfUp = graft.PlanUtils.halfUpBig _
    val rowTot = counts.groupBy(_._1).map { case (f, cs) =>
      f -> BigInt(cs.filter(c => idx.contains(c._2)).map(_._3).sum)
    }
    // closed-chain kernel: only transitions between from-states
    val p = Array.ofDim[BigInt](k, k)
    for (i <- 0 until k; j <- 0 until k) p(i)(j) = BigInt(0)
    counts.filter(c => idx.contains(c._2)).foreach { case (f, t, n) =>
      p(idx(f))(idx(t)) = halfUp(BigInt(n) * S, rowTot(f))
    }
    var pi = Array.tabulate(k)(j =>
      S / k + (if (BigInt(j) < S % k) BigInt(1) else BigInt(0)))
    var t = 0
    while (t < iters) {
      val raw = Array.tabulate(k)(j =>
        (0 until k).map(i => pi(i) * p(i)(j)).sum)
      val tot = raw.sum
      if (tot == 0) {
        // degenerate kernel (all mass flowed to clipped/outgoing-free
        // states): publish ZEROS — the same convention the oracle's
        // empty round CTEs coalesce to, and the honest answer ("no
        // stationary mass survives on the closed chain")
        pi = Array.fill(k)(BigInt(0)); t = iters
      } else { pi = raw.map(r => halfUp(r * S, tot)); t += 1 }
    }
    import spark.implicits._
    states.zipWithIndex.map { case (st, j) => (st, pi(j).toLong) }
      .toSeq.toDF("state", "pi_micro")
      .select(col("state"), col("pi_micro"),
        (col("pi_micro").cast("double") / lit(1e12)).as("pi"))
  }

  /** Cohort retention — the companion question to [[funnel]]: of the
    * keys whose FIRST event fell in cohort period `c`, how many came
    * back in period `c + k`? Periods are `periodDays`-day buckets of
    * the epoch-day number (integer division — engine-portable, no
    * calendar/timezone parity surface; a 7-day period is a week
    * anchored at the epoch, documented rather than ISO-anchored).
    * Output: one row per (cohort, offset ≥ 0) with the cohort's size
    * and the number of its keys active in that offset period. Offset 0
    * always equals `cohort_size` (the first event itself is activity) —
    * kept as the self-check row.
    *
    * Plan shape: per-key min-period aggregate (one key-keyed partial-
    * combined exchange), distinct (key, period) activity (second keyed
    * exchange), an equi-join on the key between the two (key-
    * partitioned both sides), then the final (cohort, offset) aggregate
    * whose output is period² — tiny. Cohort sizes ride the same
    * cohort-keyed reduction via a window-free second aggregate and a
    * broadcast join on the (period-cardinality) cohort table. The
    * first-period table feeds BOTH the join and the size aggregate, so
    * it is a query-scoped [[graft.CacheScope]] persist — without it the
    * per-key min (and the event scan under it) is computed twice.
    * Nothing driver-side, nothing proportional to the corpus after the
    * two keyed exchanges.
    */
  def cohortRetention(events: DataFrame, keyCol: String, tsCol: String,
      periodDays: Int): DataFrame = graft.CacheScope.pinned { p =>
    require(periodDays > 0, "periodDays must be positive")
    val usPerPeriod = periodDays * 86400000000L
    val period = expr(s"unix_micros($tsCol) div $usPerPeriod")
    val firstPeriod = p(events.groupBy(col(keyCol)).agg(min(period).as("cohort")))
    val active = events.select(col(keyCol), period.as("p")).distinct()
    val cohortSizes = firstPeriod.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    firstPeriod.join(active, keyCol)
      .groupBy(col("cohort"), (col("p") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(cohortSizes), "cohort")
      .select(col("cohort"), col("offset"), col("cohort_size"),
        col("n_active"))
  }

  /** Rolling z-score anomaly detection: each event is scored against
    * the mean/stddev of the `lookback` events immediately BEFORE it
    * (frame excludes the current row — an outlier must not dilute its
    * own baseline) within its key, ordered by (ts, tiebreak). Rows with
    * fewer than `minPrior` predecessors get a null score (cold start);
    * a zero-variance baseline likewise yields null (any deviation from
    * a constant stream is trivially anomalous — callers pick the
    * policy; null keeps the gate engine-exact). `is_anomaly` fires on
    * |z| > `threshold` and is false (never null) on unscorable rows.
    *
    * Numerics: the rolling mean is a decimal(28,12)-exact frame sum ÷
    * exact count; the rolling stddev is order-sensitive within its
    * ≤ lookback-row frame, so mean and std are PUBLISHED rounded
    * (6 dp) and `z` derives from the rounded pair — identical doubles
    * everywhere, the [[SimilarityOps.dimensionZScore]] policy on a
    * window instead of a group.
    *
    * Plan shape: one hash exchange on the key, one in-partition sort,
    * one WindowExec computing all three frame aggregates — no joins,
    * no second shuffle. Hot-key caveat (same as the CF windows): a
    * key's whole history lands in one task; keys here are
    * data-cardinality (users), far above cluster parallelism at scale.
    */
  def rollingAnomaly(events: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, tiebreak: String, lookback: Int = 6,
      minPrior: Int = 4, threshold: Double = 3.0): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreak))
      .rowsBetween(-lookback, -1)
    val ord = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(tiebreak))
    val nPrior = count(lit(1)).over(w)
    val mean = round(sum(col(valueCol).cast("decimal(28,12)")).over(w)
      .cast("double") / nPrior, 6)
    val std = round(stddev_pop(col(valueCol).cast("double")).over(w), 6)
    // + 0.0 normalizes the signed zero: a value a hair BELOW its
    // baseline rounds to -0.0 in DuckDB (sign-preserving round) but
    // +0.0 in Spark (BigDecimal round drops the sign) — the zipf
    // corpus's hot-user windows hit the boundary (zipf_sf0.01 audit)
    val z = round((col("value") - col("base_mean")) / col("base_std"), 4) + 0.0
    events
      .select(keys.map(col) :+ col(tsCol) :+ col(tiebreak) :+
        col(valueCol).cast("double").as("value") :+
        row_number().over(ord).as("seq") :+ nPrior.as("n_prior") :+
        mean.as("base_mean") :+ std.as("base_std"): _*)
      .withColumn("z",
        when(col("n_prior") >= minPrior && col("base_std") > 0.0, z))
      // non-null flag: an unscorable row is "not flagged", not unknown —
      // keeps the column a plain boolean in every engine's null model
      .withColumn("is_anomaly",
        coalesce(abs(col("z")) > threshold, lit(false)))
  }

  /** Purged time-block folds (cf. López de Prado 2018, purged K-fold
    * CV): rows are assigned to `k` folds by contiguous time block
    * (`blockUs` wide, fold = block mod k), and rows within
    * `embargoUs` of a block BOUNDARY are PURGED (fold = null) — the
    * time-level leakage guard for models with temporal features:
    * without the embargo, a train row seconds before a test block
    * leaks label horizon into training. The temporal companion to the
    * entity-level [[RelationalOps.groupSplit]] (that one stops
    * entity leakage; this one stops horizon leakage — production
    * pipelines need both).
    *
    * Pure integer arithmetic on epoch micros (`div`/`mod` — the
    * engine-portable form), map-only, scan-local: composes with
    * pushdown and scales like a filter. By construction every kept
    * row sits ≥ `embargoUs` from its block edge, so any two kept
    * rows in DIFFERENT folds are ≥ 2·embargoUs apart — the no-leak
    * certificate is arithmetic, not a measurement.
    */
  def purgedTimeFolds(events: DataFrame, tsCol: String, k: Int,
      blockUs: Long, embargoUs: Long): DataFrame = {
    require(k >= 2, "need at least 2 folds")
    require(blockUs > 2 * embargoUs,
      "block must be wider than twice the embargo or everything purges")
    val us = unix_micros(col(tsCol))
    val off = pmod(us, lit(blockUs))
    val fold = when(
      off >= embargoUs && off < blockUs - embargoUs,
      pmod(expr(s"unix_micros($tsCol) div ${blockUs}L"), lit(k.toLong)))
    events.withColumn("fold", fold)
  }

  /** Last-touch conversion attribution — the marketing-analytics
    * primitive: each conversion event is credited to the user's most
    * recent qualifying touch STRICTLY before it, provided the touch
    * fell within `lookbackUs`; conversions with no in-window touch
    * publish NULL (organic). The total event order is (ts, tiebreak),
    * so simultaneous events never flip credit between runs.
    *
    * One user-keyed window pass (running last-qualifying-touch via
    * `last(..., ignoreNulls)` over rows UNBOUNDED..−1 — per-user
    * state is ONE struct, the frame never re-scans) + a map-only
    * filter: linear in events, shuffled once on user_id.
    *
    * Output per conversion: (user, conv event id, conv ts µs, the
    * credited touch type + its event id, minutes since touch) —
    * NULLs when organic.
    */
  def lastTouchAttribution(events: DataFrame, convType: String,
      touchTypes: Seq[String], lookbackUs: Long,
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", idCol: String = "event_id"): DataFrame = {
    require(lookbackUs > 0 && touchTypes.nonEmpty && !touchTypes.contains(convType),
      "lookback must be positive; touches must be non-empty and exclude the conversion type")
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = last(
      when(col(typeCol).isInCollection(touchTypes),
        struct(unix_micros(col(tsCol)).as("t_us"), col(typeCol).as("t_type"),
          col(idCol).as("t_id"))),
      ignoreNulls = true).over(w)
    events
      .select(col(userCol), col(tsCol), col(typeCol), col(idCol))
      .withColumn("__touch", touch)
      .filter(col(typeCol) === convType)
      .withColumn("__in",
        col("__touch").isNotNull &&
          unix_micros(col(tsCol)) - col("__touch.t_us") <= lookbackUs)
      .select(col(userCol), col(idCol).as("conv_event_id"),
        unix_micros(col(tsCol)).as("conv_ts_us"),
        when(col("__in"), col("__touch.t_type")).as("touch_type"),
        when(col("__in"), col("__touch.t_id")).as("touch_event_id"),
        when(col("__in"),
          expr(s"(unix_micros($tsCol) - __touch.t_us) div 60000000"))
          .as("mins_since_touch"))
  }

  /** Frequent k-step event paths (the contiguous-sequence member of
    * the sequential-pattern family; [[transitionMatrix]] is its k=2
    * marginal): corpus-wide counts of ADJACENT event-type triples per
    * key timeline, with support filter and rank — "what 3-step flows
    * do users actually take". Contiguity makes pair generation
    * map-only after ONE key-keyed sort (two leads over the same
    * window frame — no self-joins, no combinatorial subsequence
    * blow-up, the same reason real funnels bound gap or adjacency).
    * Output: (t1, t2, t3, n, rk) for paths with n ≥ minSupport, rank
    * by (n desc, path asc).
    */
  def pathCounts3(events: DataFrame, keys: Seq[String], tsCol: String,
      typeCol: String, idCol: String, minSupport: Long = 5): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(idCol))
    val ranked = events
      .select(keys.map(col) :+ col(tsCol) :+ col(idCol)
        :+ col(typeCol).as("t1"): _*)
      .withColumn("t2", lead(col("t1"), 1).over(w))
      .withColumn("t3", lead(col("t1"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy("t1", "t2", "t3").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSupport)
    val rw = Window.orderBy(col("n").desc, col("t1").asc, col("t2").asc,
      col("t3").asc)
    ranked.withColumn("rk", row_number().over(rw))
  }

  /** Kaplan–Meier survival estimate (Kaplan & Meier 1958) of per-key
    * observed lifetime — the product-limit retention curve every
    * subscription/engagement pipeline publishes. Lifetime = whole
    * `unitUs`-micros units between a key's first and last event
    * (integer micros div); keys
    * whose last event falls within `censorGapUs` micros of the corpus horizon
    * (max ts) are right-censored — they are still "alive", so they
    * count at risk but not as churn events. Deaths sort before
    * censorings at equal times (the standard KM convention — both are
    * in the risk set at their own t).
    *
    * Portability: dₜ/nₜ are exact int64; each step factor enters as
    * round(ln((n−d)/n), 9), cumulated by an order-independent DECIMAL
    * window sum, and S(t) = exp(·) published at 6dp — the established
    * engine-portable ln/exp chain. A step where d = n (everyone at
    * risk churns) zeroes the curve exactly from there on, bypassing
    * ln(0).
    *
    * Plan shape: corpus → key-keyed min/max aggregate → lifetime-keyed
    * aggregate; the cumulative windows run over the DISTINCT-lifetime
    * table (bounded by horizon/unitUs), never the corpus — the
    * only single-task stage is metric-sized. Output: (t, n_risk, d,
    * c, hazard, survival).
    */
  def kmSurvival(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", censorGapUs: Long = 21600000000L,
      unitUs: Long = 86400000000L): DataFrame = {
    val dec = "decimal(38,12)"
    val us = unix_micros(col(tsCol))
    val perKey = events.groupBy(col(keyCol))
      .agg(min(us).as("first_us"), max(us).as("last_us"))
    val horizon = events.agg(max(us).as("h_us"))
    val lives = perKey.crossJoin(broadcast(horizon))
      .select(expr(s"(last_us - first_us) div ${unitUs}L").as("t"),
        (col("h_us") - col("last_us") < lit(censorGapUs)).as("censored"))
    val byT = lives.groupBy("t")
      .agg(count(lit(1)).as("ended"),
        sum(when(col("censored"), 0L).otherwise(1L)).as("d"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("c"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lnTerm = when(col("d") > 0 && col("n_risk") > col("d"),
        round(log((col("n_risk") - col("d")).cast("double") / col("n_risk")), 9))
      .otherwise(lit(0.0))
    byT.withColumn("n_risk", sum(col("ended")).over(wDesc))
      .withColumn("cum_ln", sum(lnTerm.cast(dec)).over(wAsc))
      .withColumn("zeroed",
        sum(when(col("d") === col("n_risk"), 1L).otherwise(0L)).over(wAsc))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        // exact-int half-up: d/n_risk is a rational that can land ON
        // the 6-dp boundary (the sf10 round-at-tie class)
        graft.PlanUtils.ratioRound(col("d"), col("n_risk"), 6).as("hazard"),
        when(col("zeroed") > 0, lit(0.0))
          .otherwise(round(exp(col("cum_ln").cast("double")), 6)).as("survival"))
  }

  /** Log-rank test (Mantel 1966) between the two unit-hash arms'
    * survival curves — the inference companion to [[kmSurvival]] (KM
    * DESCRIBES each curve; log-rank answers "are they the same
    * curve", the churn/retention A/B question):
    *   O₁ = Σ_t d₁t,  E₁ = Σ_t d_t·n₁t/n_t,
    *   V = Σ_t d_t·(n₁t·n₂t)(n_t−d_t)/(n_t²(n_t−1)),
    *   z = (O₁ − E₁)/√V.
    *
    * Portability: the per-time hypergeometric terms are rationals
    * with DIFFERENT denominators, so exact rational summation is
    * unavailable — instead each term is quantized to a scale-9
    * integer by exact half-up division (both engines run the same
    * hugeint/decimal floor arithmetic) and the DECIMAL sums of those
    * integers are order-independent; O₁ stays an exact int64 and z
    * is one IEEE dag from the three exact lanes, published at 6 dp
    * (null when V = 0). Quantization error is ≤ 5e-10 per term —
    * five orders below the 6-dp publication. Lane headroom: the
    * scale-0 [[graft.PlanUtils.ratioRound]] round-trips each term
    * through an exact double, so per-time d·10⁹ must stay < 2⁵³ —
    * holds to ~9M deaths at ONE lifetime value (~10¹² users on this
    * corpus shape).
    *
    * Plan shape: the corpus reduces to per-unit lifetimes (one
    * key-keyed aggregate — the [[kmSurvival]] front half, arms by
    * `pmod(key, 2)`), then to the distinct-lifetime table; the
    * at-risk windows and the final 1-row reduction run there. The
    * global windows are distinct-lifetime-sized by construction (the
    * kmSurvival scale argument). Output: one row (n_treat, n_ctrl,
    * o1, e1, v1, z, significant).
    */
  def logRankTest(events: DataFrame, keyCol: String = "user_id",
      tsCol: String = "ts", censorGapUs: Long = 21600000000L,
      unitUs: Long = 86400000000L, zCrit: Double = 1.96): DataFrame = {
    val dec = "decimal(38,0)"
    val us = unix_micros(col(tsCol))
    val perKey = events.groupBy(col(keyCol))
      .agg(min(us).as("first_us"), max(us).as("last_us"))
    val horizon = events.agg(max(us).as("h_us"))
    val lives = perKey.crossJoin(broadcast(horizon))
      .select((pmod(col(keyCol), lit(2L)) === 1).as("g1"),
        expr(s"(last_us - first_us) div ${unitUs}L").as("t"),
        (col("h_us") - col("last_us") < lit(censorGapUs)).as("censored"))
    val byT = lives.groupBy("t").agg(
      sum(when(col("g1"), 1L).otherwise(0L)).as("end1"),
      sum(when(!col("g1"), 1L).otherwise(0L)).as("end2"),
      sum(when(col("g1") && !col("censored"), 1L).otherwise(0L)).as("d1"),
      sum(when(!col("g1") && !col("censored"), 1L).otherwise(0L)).as("d2"))
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = byT
      .withColumn("n1", sum(col("end1")).over(wDesc))
      .withColumn("n2", sum(col("end2")).over(wDesc))
      .withColumn("d", col("d1") + col("d2"))
      .withColumn("n", col("n1") + col("n2"))
      .filter(col("d") > 0)
    val e1t = graft.PlanUtils.ratioRound(
      col("d").cast(dec) * col("n1") * lit(1000000000L), col("n"), 0)
    val vt = when(col("n") > 1, graft.PlanUtils.ratioRound(
        col("d").cast(dec) * col("n1") * col("n2") * (col("n") - col("d"))
          * lit(1000000000L),
        col("n").cast(dec) * col("n") * (col("n") - 1), 0))
      .otherwise(lit(0.0))
    val tots = risk.agg(sum("d1").as("o1"),
      sum(e1t.cast(dec)).as("e1s"), sum(vt.cast(dec)).as("vs"))
    val arms = lives.agg(
      sum(when(col("g1"), 1L).otherwise(0L)).as("n_treat"),
      sum(when(!col("g1"), 1L).otherwise(0L)).as("n_ctrl"))
    val e1d = col("e1s").cast("double") / lit(1e9)
    val vd = col("vs").cast("double") / lit(1e9)
    val z = round((col("o1").cast("double") - e1d) / sqrt(vd), 6) + 0.0
    arms.join(broadcast(tots))
      // empty population: the global agg still emits one row, but its
      // sums are SQL nulls — publish exact zero counts instead
      .select(coalesce(col("n_treat"), lit(0L)).as("n_treat"),
        coalesce(col("n_ctrl"), lit(0L)).as("n_ctrl"),
        coalesce(col("o1"), lit(0L)).as("o1"),
        // e1s/vs are exact scale-9 ints: publish by half-up ratioRound,
        // not round(double) — the tie-boundary class
        (graft.PlanUtils.ratioRound(col("e1s"), lit(1000000000L), 6) + 0.0)
          .as("e1"),
        (graft.PlanUtils.ratioRound(col("vs"), lit(1000000000L), 6) + 0.0)
          .as("v1"),
        when(col("vs") > 0, z).as("z"),
        coalesce(abs(when(col("vs") > 0, z)) > zCrit, lit(false))
          .as("significant"))
  }

  /** The caller's integer grid `xGrid` as (grp, day, x) rows grouped by
    * (grp, day), day = event micros `div` `dayUs`: the corpus-sized
    * prelude of every daily-grid test. `div`, not `/`: integer division
    * (the Tables.normalizeEventsTs lesson — double division can round
    * one unit high before a cast).
    */
  private def byDay(events: DataFrame, group: Column, tsCol: Column,
      xGrid: Column, dayUs: Long): RelationalGroupedDataset =
    events.select(group.as("grp"), unix_micros(tsCol).as("__us"),
        xGrid.cast("long").as("x"))
      .select(col("grp"), expr(s"__us div ${dayUs}L").as("day"), col("x"))
      .groupBy("grp", "day")

  /** Day-of-week seasonal profile + deseasonalized residual peaks per
    * group — the "is Monday always low, and which day broke its own
    * pattern" decomposition behind seasonal-aware alerting (a raw
    * z-score pages every weekend; [[cusumShift]] finds level shifts;
    * this finds the day that deviates from ITS OWN weekday).
    *
    * Exactness: on the caller's integer grid, the dow effect
    * (mean_dow − mean_group) and each day's residual vs its dow mean
    * are ratios of exact integers — published as single IEEE
    * divisions rounded 6dp, ranked on the identical unrounded double
    * (ties broken by day). DECIMAL(38,0) lanes for the cross products.
    *
    * Plan shape: corpus → ONE (grp, day)-keyed aggregate; dow and
    * group totals reduce from that day grid and broadcast back; the
    * residual ranking windows run per (grp, dow) over the day grid.
    * Output: (grp, dow, n_days, n, eff, peak_day, peak_res) — one row
    * per group × weekday.
    */
  def seasonalProfile(events: DataFrame, group: Column, tsCol: Column,
      xGrid: Column, dayUs: Long = 86400000000L): DataFrame = {
    val dec = "decimal(38,0)"
    val daily = byDay(events, group, tsCol, xGrid, dayUs)
      .agg(sum(col("x").cast(dec)).as("s"), count(lit(1)).as("cnt"))
      .withColumn("dow", pmod(col("day"), lit(7L)))
    val tot = daily.groupBy("grp")
      .agg(sum(col("s")).as("t"), sum(col("cnt")).as("n"))
    val byDow = daily.groupBy("grp", "dow")
      .agg(sum(col("s")).as("sw"), sum(col("cnt")).as("cw"),
        count(lit(1)).as("n_days"))
    val prof = byDow.join(broadcast(tot), Seq("grp"))
      .select(col("grp"), col("dow"), col("n_days"), col("cw").as("n"),
        // exact-int half-up (the sf10 round-at-tie class)
        (graft.PlanUtils.ratioRound(
          col("sw") * col("n") - col("cw") * col("t"),
          col("cw").cast(dec) * col("n"), 6) + 0.0).as("eff"),
        col("sw"), col("cw"))
    val res = daily.join(broadcast(byDow.select("grp", "dow", "sw", "cw")),
        Seq("grp", "dow"))
      .withColumn("res",
        (col("s") * col("cw") - col("cnt").cast(dec) * col("sw")).cast("double")
          / (col("cnt").cast(dec) * col("cw")).cast("double"))
    val wPeak = Window.partitionBy("grp", "dow")
      .orderBy(abs(col("res")).desc, col("day"))
    val peaks = res.withColumn("rk", row_number().over(wPeak))
      .filter(col("rk") === 1)
      .select(col("grp"), col("dow"), col("day").as("peak_day"),
        (graft.PlanUtils.ratioRound(
          col("s") * col("cw") - col("cnt").cast(dec) * col("sw"),
          col("cnt").cast(dec) * col("cw"), 6) + 0.0).as("peak_res"))
    prof.drop("sw", "cw").join(peaks, Seq("grp", "dow"))
  }

  /** CUSUM mean-shift detection (Page 1954) per group over a daily
    * grid — "did this metric's level change, and when": the
    * data-quality / drift monitor that catches a sustained small shift
    * a per-point z-score (q_ts_anomaly) never trips on.
    *
    * Page's recursion S_t = max(0, S_{t-1} + dev_t) equals the
    * prefix-min identity S_t = C_t − min_{i≤t} C_i on the cumulative
    * deviation C — which IS window-expressible: one running sum + one
    * running min (and the mirrored running max for downward shifts).
    *
    * Exactness: work on integer-scaled deviations, never means. With
    * per-day sums s_d and counts n_d on the caller's integer grid and
    * corpus totals (T, N), dev_d = s_d·N − n_d·T is the per-day
    * deviation from the global mean scaled by N — an exact
    * DECIMAL(38,0) integer (HUGEINT lane in DuckDB; s·N overflows
    * int64 past ~sf1). Every published statistic is an exact integer;
    * the hash needs no float discipline at all. `is_peak` marks the
    * day(s) attaining the group's maximal positive excursion — the
    * changepoint candidate.
    *
    * Plan shape: corpus → ONE (grp, day)-keyed partial-combined
    * aggregate; all windows run per-group over the DAY-sized table
    * (bounded by the corpus time span, never corpus-sized). Output:
    * (grp, day, n, dev, cusum_pos, cusum_neg, is_peak).
    */
  def cusumShift(events: DataFrame, group: Column, tsCol: Column,
      xGrid: Column, dayUs: Long = 86400000000L): DataFrame = {
    val dec = "decimal(38,0)"
    val daily = byDay(events, group, tsCol, xGrid, dayUs)
      .agg(sum(col("x").cast(dec)).as("s"), count(lit(1)).as("cnt"))
    val tot = daily.groupBy("grp")
      .agg(sum(col("s")).as("t"), sum(col("cnt")).as("n"))
    val wRun = Window.partitionBy("grp").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("grp")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    daily.join(broadcast(tot), Seq("grp"))
      .withColumn("dev", col("s") * col("n") - col("cnt") * col("t"))
      .withColumn("c", sum(col("dev")).over(wRun))
      .withColumn("cusum_pos", col("c") - min(col("c")).over(wRun))
      .withColumn("cusum_neg", max(col("c")).over(wRun) - col("c"))
      // published lanes are BIGINT (a DECIMAL(38,0)/HUGEINT column
      // reaches pandas as float and breaks the string compare — the
      // q_rollup-sums lesson); the arithmetic above stays in the wide
      // lane, so only the PUBLICATION saturates first, at ~sf100 on
      // this corpus (s·N grows quadratically with scale)
      .select(col("grp"), col("day"), col("cnt").as("n"),
        col("dev").cast("long").as("dev"),
        col("cusum_pos").cast("long").as("cusum_pos"),
        col("cusum_neg").cast("long").as("cusum_neg"),
        (col("cusum_pos") === max(col("cusum_pos")).over(wAll)).as("is_peak"))
  }

  /** Sample autocorrelation function r_k (lags 1..`maxLag`) per group
    * over the calendar-dense daily series — "does this metric echo
    * itself a day / a week later": the diagnostic that motivates every
    * seasonal model ([[seasonalProfile]] ASSUMES the weekly cycle; ACF
    * MEASURES it, and r_7 > r_1 is the weekly-seasonality signature).
    *
    * Series: per-day SUMS of the caller's integer grid (sums, never
    * means — the series value stays an exact integer), on a dense
    * calendar: each group's [min, max] day span is scaffolded with
    * `sequence` and missing days filled with 0, so lag k always means
    * k CALENDAR days, not k observed rows.
    *
    * Exactness: the textbook estimator r_k = Σ(x_t−x̄)(x_{t+k}−x̄) /
    * Σ(x_t−x̄)² is computed with the mean CLEARED — multiplying
    * through by n² gives
    *   r_k = [n²·P_k − n·S·(A_k+B_k) + (n−k)·S²] / [n²·Q − n·S²]
    * with P_k = Σ x_t·x_{t+k}, A_k/B_k the head/tail partial sums, S/Q
    * the series sum and sum of squares — every term an exact
    * DECIMAL(38,0) integer, published through the exact half-up
    * [[graft.PlanUtils.ratioRound]] (zero-variance groups publish
    * null). Lane headroom: n²·P_k ~ n³·x̄² stays under 10³⁸ to ~sf10⁴
    * on this corpus.
    *
    * Plan shape: corpus → ONE (grp, day) partial-combined aggregate
    * (the only corpus-sized exchange); the scaffold join, the single
    * window pass (all maxLag lag exprs share one (grp, day) sort), the
    * lag-pair explode and both closing aggregates run on the DAY-sized
    * table — bounded by the time span × maxLag, never the event count.
    * Totals broadcast. Output: (grp, k, n_pairs, acf), lag-ordered.
    */
  def acf(events: DataFrame, group: Column, tsCol: Column, xGrid: Column,
      maxLag: Int = 7, dayUs: Long = 86400000000L): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val dec = "decimal(38,0)"
    val daily = byDay(events, group, tsCol, xGrid, dayUs)
      .agg(sum(col("x").cast(dec)).as("sRaw"))
    val span = daily.groupBy("grp")
      .agg(min("day").as("d0"), max("day").as("d1"))
    val grid = span.select(col("grp"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val dense = grid.join(daily, Seq("grp", "day"), "left")
      .select(col("grp"), col("day"),
        coalesce(col("sRaw"), lit(0L).cast(dec)).as("s"))
    val w = Window.partitionBy("grp").orderBy("day")
    val lagCols = (1 to maxLag).map(k => lag(col("s"), k).over(w).as(s"l$k"))
    val lagged = dense.select(col("grp") +: col("s") +: lagCols: _*)
    val pairs = lagged.select(col("grp"), col("s"),
        explode(array((1 to maxLag).map(k =>
          struct(lit(k.toLong).as("k"), col(s"l$k").as("xl"))): _*)).as("p"))
      .select(col("grp"), col("p.k").as("k"), col("s"), col("p.xl").as("xl"))
      .filter(col("xl").isNotNull)
    val perK = pairs.groupBy("grp", "k")
      .agg(sum(col("s") * col("xl")).as("p_k"), sum("xl").as("a_k"),
        sum("s").as("b_k"), count(lit(1)).as("n_pairs"))
    val tot = dense.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("s").as("t"),
        sum(col("s") * col("s")).as("q"))
    val n = col("n").cast(dec)
    val den = n * n * col("q") - n * col("t") * col("t")
    perK.join(broadcast(tot), Seq("grp"))
      .select(col("grp"), col("k"), col("n_pairs"),
        when(den > 0, graft.PlanUtils.ratioRound(
            n * n * col("p_k") - n * col("t") * (col("a_k") + col("b_k"))
              + col("n_pairs").cast(dec) * col("t") * col("t"),
            den, 6) + 0.0)
          .as("acf"))
  }

  /** Ljung–Box portmanteau test (Ljung & Box 1978) per group — "is
    * this series white noise AT ALL lags jointly": Q = n(n+2)·Σ_{k≤m}
    * r_k²/(n−k), the aggregate follow-up to [[acf]] (ACF shows WHICH
    * lag echoes; Q rejects whiteness without picking one — the
    * residual-diagnostic standard).
    *
    * Defined ON THE PUBLISHED ACF LANES: r_k enters as its exact
    * 6-dp micro-unit integer u_k = round(r_k·10⁶) (the acf gate's
    * half-up rational — both engines recover the identical integer),
    * each term u_k²·10³/(n−k) quantizes by exact half-up division,
    * and the DECIMAL term sum feeds ONE IEEE dag
    * Q = n(n+2)·Σt/10¹⁵ published at 6 dp. Q is thus a deterministic
    * statistic of the quantized ACF — self-consistent with what the
    * engine publishes, and portable by the same argument. A group
    * with any null r_k (zero variance) publishes null Q. Term lane:
    * u²·10³ ≤ 10¹⁵ < 2⁵³ — exact at every |r| ≤ 1.
    *
    * Plan shape: [[acf]]'s (one corpus aggregate + day-grid work)
    * plus a group-sized reduction. `chiCrit` defaults to the
    * χ²(7, 0.95) quantile for the default maxLag. Output: (grp, n,
    * m, q_stat, significant).
    */
  def ljungBox(events: DataFrame, group: Column, tsCol: Column,
      xGrid: Column, maxLag: Int = 7, chiCrit: Double = 14.067,
      dayUs: Long = 86400000000L): DataFrame = {
    val dec = "decimal(38,0)"
    val a = acf(events, group, tsCol, xGrid, maxLag, dayUs)
    val u = round(col("acf") * lit(1000000.0)).cast("long")
    val t = graft.PlanUtils.ratioRound(
      (u * u).cast(dec) * lit(1000L), col("n_pairs"), 0)
    val agg = a.groupBy("grp").agg(
      max(col("n_pairs") + col("k")).as("n"),
      count(lit(1)).as("m"), count(col("acf")).as("m_ok"),
      sum(when(col("acf").isNotNull, t).otherwise(lit(0.0)).cast(dec))
        .as("st"))
    // Q = n(n+2)·Σt/10¹⁵ is an exact rational of the integer lanes —
    // publish half-up, not round(double) (the tie-boundary class)
    val q = graft.PlanUtils.ratioRound(
      (col("n") * (col("n") + 2)).cast(dec) * col("st"),
      lit(1000000000000000L), 6) + 0.0
    agg.select(col("grp"), col("n"), col("m"),
      when(col("m_ok") === col("m"), q).as("q_stat"),
      coalesce(when(col("m_ok") === col("m"), q) > chiCrit, lit(false))
        .as("significant"))
  }

  /** Mann–Kendall trend test + Theil–Sen slope per group over the
    * observed daily series — the nonparametric trend kit (Mann 1945,
    * Kendall 1975; Theil 1950, Sen 1968): "is this metric
    * monotonically drifting, and how fast", robust to outliers and
    * free of the linearity/normality assumptions OLS trend lines
    * carry. The CUSUM gate detects level SHIFTS; this one detects and
    * sizes monotone DRIFT.
    *
    * Statistics, all from the pairwise day table (i < j):
    *   - S = Σ sgn(x_j − x_i) — an exact int64;
    *   - tie-corrected variance 18·Var(S) = n(n−1)(2n+5) −
    *     Σ_t t(t−1)(2t+5) over value-tie groups t — exact int64;
    *   - z = (S∓1)/√(Var) with the standard continuity correction,
    *     ONE deterministic IEEE dag from the two exact ints (published
    *     raw; null when Var = 0 — n < 2 or all values tied);
    *   - Theil–Sen slope = median over pairs of (x_j − x_i)/(d_j −
    *     d_i): slope rationals sort by their (identical cross-engine)
    *     double value with the (num, den) pair as deterministic
    *     tiebreak; the two middle ranks ⌊(c+1)/2⌋, ⌊(c+2)/2⌋ are
    *     picked by conditional aggregation and their exact rational
    *     mean (n₁d₂ + n₂d₁)/(2d₁d₂) publishes through half-up
    *     [[graft.PlanUtils.ratioRound]].
    *
    * Scale: the corpus reduces to (grp, day) in ONE partial-combined
    * aggregate; the pair self-join and the rank window are
    * day-span²-sized per group (≤ ~66k pairs/year), bounded by the
    * TIME AXIS, never the event count — the [[cusumShift]] argument
    * squared, still metric-sized. Output: (grp, n_days, s_mk, z_mk,
    * sen_slope).
    */
  def trendRobust(events: DataFrame, group: Column, tsCol: Column,
      xGrid: Column, dayUs: Long = 86400000000L): DataFrame = graft.CacheScope.pinned { p =>
    val dec = "decimal(38,0)"
    val daily = byDay(events, group, tsCol, xGrid, dayUs)
      .agg(sum(col("x").cast(dec)).as("s"))
    val pinned = p(daily)
    val pairs = pinned.as("a").join(pinned.as("b"),
        col("a.grp") === col("b.grp") && col("a.day") < col("b.day"))
      .select(col("a.grp").as("grp"),
        (col("b.s") - col("a.s")).as("num"),
        (col("b.day") - col("a.day")).as("den"))
    val mk = pairs.groupBy("grp")
      .agg(sum(when(col("num") > 0, 1L).when(col("num") < 0, -1L)
        .otherwise(0L)).as("s_mk"))
    val nDays = pinned.groupBy("grp").agg(count(lit(1)).as("n_days"))
    val tieTerm = pinned.groupBy("grp", "s").agg(count(lit(1)).as("t"))
      .groupBy("grp")
      .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5)).as("tt"))
    val v18 = nDays.join(tieTerm, Seq("grp"))
      .select(col("grp"), col("n_days"),
        (col("n_days") * (col("n_days") - 1) * (lit(2L) * col("n_days") + 5)
          - col("tt")).as("v18"))
    val wRank = Window.partitionBy("grp")
      .orderBy(col("num").cast("double") / col("den").cast("double"),
        col("num"), col("den"))
    val wCnt = Window.partitionBy("grp")
    val ranked = pairs
      .withColumn("rn", row_number().over(wRank))
      .withColumn("c", count(lit(1)).over(wCnt))
      .withColumn("r1", expr("(c + 1) div 2"))
      .withColumn("r2", expr("(c + 2) div 2"))
      .filter(col("rn") === col("r1") || col("rn") === col("r2"))
    val sen = ranked.groupBy("grp").agg(
      max(when(col("rn") === col("r1"), col("num"))).as("n1"),
      max(when(col("rn") === col("r1"), col("den"))).as("d1"),
      max(when(col("rn") === col("r2"), col("num"))).as("n2"),
      max(when(col("rn") === col("r2"), col("den"))).as("d2"))
    val sD = col("s_mk").cast("double")
    val z = when(col("v18") > 0,
      when(col("s_mk") > 0,
          (sD - lit(1.0)) / sqrt(col("v18").cast("double") / lit(18.0)))
        .when(col("s_mk") < 0,
          (sD + lit(1.0)) / sqrt(col("v18").cast("double") / lit(18.0)))
        .otherwise(lit(0.0)))
    v18.join(mk, Seq("grp"), "left").join(sen, Seq("grp"), "left")
      .select(col("grp"), col("n_days"),
        coalesce(col("s_mk"), lit(0L)).as("s_mk"), z.as("z_mk"),
        (graft.PlanUtils.ratioRound(
          col("n1") * col("d2") + col("n2") * col("d1"),
          lit(2L).cast(dec) * col("d1") * col("d2"), 6) + 0.0)
          .as("sen_slope"))
  }

  /** Frequent sequential patterns up to length 3 (GSP / PrefixSpan
    * family — Srikant & Agrawal 1996, Pei et al. 2001): which ordered
    * event-type subsequences ⟨a⟩, ⟨a,b⟩, ⟨a,b,c⟩ do at least
    * `supNum/supDen` of the active keys exhibit? The classic
    * market-basket-over-time mining op ([[funnel]] is the special case
    * that scores ONE analyst-chosen pattern; this one MINES them).
    *
    * Matching semantics are greedy earliest occurrence, which for plain
    * subsequence EXISTENCE is exact (if any embedding exists, the one
    * through the earliest feasible positions exists): p1(a) = first a;
    * p2(a,b) = first b strictly after p1(a); ⟨a,b,c⟩ matches iff any c
    * falls strictly after p2(a,b). Support = distinct keys matched —
    * every statistic an exact int64 count, no floats anywhere, and the
    * support threshold is the exact cross-multiplication
    * sup·supDen ≥ n_keys·supNum (no ratio is ever materialized).
    *
    * Scale/plan shape: the per-key order index is one row_number window
    * keyed by the sequence key — per-key history, not the corpus,
    * bounds a partition (the [[sessionize]] argument). Each level is
    * Apriori-pruned BEFORE its join: level k's probe joins the cached
    * level-(k−1) resolution (key-keyed, ≤ |f_{k-1}| rows per key)
    * against the event table once, with the frequent-symbol sets
    * (alphabet-sized) broadcast on both endpoints, so candidate growth
    * is governed by the measured frequent sets, never the raw
    * alphabet². The indexed event table and both resolutions each feed
    * two+ consumers → query-scoped [[graft.CacheScope]] persists (the
    * [[funnel]] lesson: without them each level re-derives the whole
    * chain). Level count is fixed at 3 here; deeper levels iterate the
    * same projection step.
    */
  def sequentialPatterns(events: DataFrame, keyCol: String, tsCol: String,
      typeCol: String, idCol: String, supNum: Int = 1, supDen: Int = 4)
      : DataFrame = graft.CacheScope.pinned { p =>
    require(supNum > 0 && supDen >= supNum, "support must be in (0, 1]")
    val e = p(
      events.select(col(keyCol).as("k"), col(typeCol).as("sym"),
        row_number().over(Window.partitionBy(keyCol)
          .orderBy(col(tsCol), col(idCol))).as("pos")))
    val nu = e.agg(count_distinct(col("k")).as("n_keys"))
    def frequent(sup: Column) = sup * lit(supDen.toLong) >=
      col("n_keys") * lit(supNum.toLong)
    val p1 = p(e.groupBy(col("k"), col("sym").as("a")).agg(min("pos").as("p1")))
    val f1 = p1.groupBy("a").agg(count(lit(1)).as("sup"))
      .crossJoin(broadcast(nu)).filter(frequent(col("sup")))
      .select("a", "sup")
    val p2 = p(
      p1.join(broadcast(f1.select("a")), "a")
        .join(e, Seq("k")).filter(col("pos") > col("p1"))
        .join(broadcast(f1.select(col("a").as("sym"))), "sym")
        .groupBy(col("k"), col("a"), col("sym").as("b"))
        .agg(min("pos").as("p2")))
    val f2 = p2.groupBy("a", "b").agg(count(lit(1)).as("sup"))
      .crossJoin(broadcast(nu)).filter(frequent(col("sup")))
      .select("a", "b", "sup")
    val f3 = p2.join(broadcast(f2.select("a", "b")), Seq("a", "b"))
      .join(e, Seq("k")).filter(col("pos") > col("p2"))
      .join(broadcast(f1.select(col("a").as("sym"))), "sym")
      .groupBy(col("a"), col("b"), col("sym").as("c"))
      .agg(count_distinct(col("k")).as("sup"))
      .crossJoin(broadcast(nu)).filter(frequent(col("sup")))
      .select("a", "b", "c", "sup")
    f1.select(lit(1).as("length"), col("a").as("pattern"), col("sup"))
      .unionAll(f2.select(lit(2).as("length"),
        concat_ws(">", col("a"), col("b")).as("pattern"), col("sup")))
      .unionAll(f3.select(lit(3).as("length"),
        concat_ws(">", col("a"), col("b"), col("c")).as("pattern"),
        col("sup")))
      .orderBy(col("length"), col("sup").desc, col("pattern"))
  }
}
