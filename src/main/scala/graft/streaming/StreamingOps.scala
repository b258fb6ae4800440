package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface — the reference's only streaming
  * semantics is the ONE-PASS constraint of the stream sampler
  * (`Assignment 1/sampler_v02.py:63-87`, SURVEY.md §2.10): no second
  * scan, no driver-resident id set, state bounded by the aggregate.
  * Here that becomes [[streamingUniformSample]] (bounded per-shard
  * k-smallest-hash state) for the sample, and [[welfordByKey]] for the
  * running stats: the explicit `flatMapGroupsWithState` mirror of the
  * reference's Welford recurrence — same update algebra
  * (`new_mean = mean + (x−mean)/n; M2 += (x−new_mean)·(x−mean)`), kept
  * as typed per-key state.
  *
  * Scale notes: both paths shuffle once, keyed by the group column;
  * state lives in the state store (RocksDB-able), sized by distinct
  * keys, not by input rows — the 100 TB properties the reference's
  * one-pass rules are really about.
  */
object StreamingOps {

  /** Per-key Welford state: the exact triple the reference carries. */
  case class WelfordState(n: Long, mean: Double, m2: Double)

  /** One emitted row per key per micro-batch. */
  case class WelfordRow(key: String, n: Long, mean: Double, std: Double)

  /** Explicit Welford recurrence over a stream of (key, value) pairs
    * via flatMapGroupsWithState — update-mode output, one row per
    * updated key per micro-batch. State per key is 3 doubles,
    * independent of stream length (the one-pass rule).
    */
  def welfordByKey(pairs: Dataset[(String, Double)]): Dataset[WelfordRow] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.groupByKey(_._1)
      .flatMapGroupsWithState[WelfordState, WelfordRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[(String, Double)], state: GroupState[WelfordState]) =>
          var s = state.getOption.getOrElse(WelfordState(0L, 0.0, 0.0))
          rows.foreach { case (_, x) =>
            val n = s.n + 1
            val newMean = s.mean + (x - s.mean) / n
            val m2 = s.m2 + (x - newMean) * (x - s.mean)
            s = WelfordState(n, newMean, m2)
          }
          state.update(s)
          Iterator.single(
            WelfordRow(key, s.n, s.mean, math.sqrt(s.m2 / s.n)))
      }
  }

  /** Streaming exact dedup for a document stream — the incremental
    * form of [[graft.operators.DedupOps.exactDedup]]: the first row per
    * content digest passes, later copies are dropped.
    * `dropDuplicatesWithinWatermark` keys the state store by the 16-byte
    * digest (never the text) and EVICTS entries older than `watermark`
    * — bounded state, the property that separates a 100 TB streaming
    * dedup from an OOM: exact within the watermark horizon, while
    * cross-horizon dups are left to the batch compaction pass.
    */
  def streamingExactDedup(docs: DataFrame, tsCol: String, watermark: String,
      textCol: String = "text"): DataFrame =
    docs
      // unhex → BINARY: state keys on the true 16-byte digest, not the
      // 32-char hex string (half the state-store footprint per doc)
      .withColumn("text_hash", unhex(md5(col(textCol).cast("binary"))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Streaming incremental near-dup detection — the in-flight form of
    * [[graft.operators.DedupOps.incrementalNearDups]]: each arriving
    * doc is minhashed map-side and its LSH bands join the STATIC
    * corpus band table (a stateless stream-static join, the
    * enrichment shape), candidate pairs are deduped across bands, and
    * survivors verify exact Jaccard against the corpus shingle sets.
    * Scope: new-vs-corpus pairs (new-vs-new needs a stream-stream
    * self-join — run the batch [[graft.operators.DedupOps
    * .incrementalNearDups]] over each micro-batch's compaction for
    * that). At scale the corpus bands/shingles are a PERSISTED table
    * maintained by prior ingests, so the static side is a scan, not a
    * recomputation; the per-doc cost is signature compute + its
    * band-bucket lookups.
    *
    * The cross-band `dropDuplicates` keys state by (new, old) id pair
    * — unbounded across an infinite run; bound it with a watermark on
    * an event-time column (the q_stream_dedup pattern) if the stream
    * is continuous. Output: (da, db, jac) with da < db, exactly the
    * batch operator's orientation.
    */
  def streamingNearDups(newDocs: DataFrame, corpus: DataFrame,
      nGram: Int = 3, sigLen: Int = 128, r: Int = 4, bands: Int = 32,
      minJac: Double = 0.8, textCol: String = "text"): DataFrame = {
    import graft.functions.{LshBandHashes, WordShingles}
    import graft.operators.DedupOps
    // static side: corpus shingle sets + band table (caller persists
    // for a long-lived stream; recomputed per micro-batch otherwise)
    val cHs = DedupOps.hashedShingled(corpus, nGram, textCol)
    val cBands = DedupOps.lshBands(
      DedupOps.minhashSignatures(cHs, sigLen, "hs").select("doc_id", "sig"),
      r, bands)
    // stream side: map-only tokenize → shingle-hash → signature →
    // bands (no PlanUtils.spread — `.rdd` is illegal on a stream, and
    // a live stream is already many micro-batch tasks)
    val sHs = newDocs
      .select(col("doc_id"),
        WordShingles(DedupOps.words(col(textCol)), nGram, hashed = true).as("hs"))
      .filter(size(col("hs")) > 0)
    val sBands = DedupOps.minhashSignatures(sHs, sigLen, "hs")
      .select(col("doc_id").as("n_id"), col("hs").as("n_hs"),
        posexplode(LshBandHashes(col("sig"), r, bands)))
      .select(col("n_id"), col("n_hs"), col("pos").as("band"), col("col").as("bucket"))
    val cand = sBands
      .join(cBands.select(col("band"), col("bucket"), col("doc_id").as("c_id")),
        Seq("band", "bucket"))
      .filter(col("n_id") =!= col("c_id"))
      .select(col("n_id"), col("n_hs"), col("c_id"))
      .dropDuplicates("n_id", "c_id")
    cand
      .join(cHs.select(col("doc_id").as("c_id"), col("hs").as("c_hs")), Seq("c_id"))
      .withColumn("jac", DedupOps.jaccard(col("n_hs"), col("c_hs")))
      .filter(col("jac") >= minJac)
      .select(least(col("n_id"), col("c_id")).as("da"),
        greatest(col("n_id"), col("c_id")).as("db"), col("jac"))
  }

  /** Stream-stream INTERVAL join: each left event matched with right
    * events of the same key whose timestamp falls in
    * [left.ts − lookback, left.ts] — "enrich each purchase with the
    * views that led to it", the canonical two-stream correlation.
    * Both sides carry watermarks and the join condition bounds the
    * time range, so Spark can EVICT buffered rows once the watermark
    * passes the range — bounded state, the property that separates a
    * streaming join from an unbounded buffer. Column names: `tsCol`
    * must differ between sides (rename before calling); output is the
    * inner join of the two schemas.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, lookback: String,
      watermark: String): DataFrame =
    watermarkedIntervalJoin(left, right, keys, leftTs, rightTs, lookback,
      watermark, "inner")

  /** LEFT OUTER stream-stream interval join — the enrichment shape
    * where an unmatched left row must still be emitted (a purchase
    * with NO prior view is a signal, not a drop). Unlike the inner
    * form, outer emission is WATERMARK-DRIVEN state machinery: a left
    * row is held in state until the global watermark proves no
    * matching right row can still arrive (right side sealed past
    * leftTs), and only then emits with nulls — so this exercises the
    * state-eviction path the inner gate never touches. Same bounded
    * state (both sides buffered within watermark + lookback).
    *
    * Gate caveat (and the reason the gated query filters its output to
    * leftTs ≤ min(max leftTs, max rightTs) − lookback): at the end of
    * an AvailableNow run the final watermark is min(max event time of
    * both sides) − delay, and left rows at or past it are still held —
    * a terminal stream run can never prove their non-match. The batch
    * oracle applies the SAME horizon cut, so equality is exact on the
    * published region.
    */
  def intervalJoinLeftOuter(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightTs: String, lookback: String,
      watermark: String): DataFrame =
    watermarkedIntervalJoin(left, right, keys, leftTs, rightTs, lookback,
      watermark, "leftOuter")

  /** The interval join of [[intervalJoin]] as a `joinType` join. */
  private def watermarkedIntervalJoin(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightTs: String, lookback: String,
      watermark: String, joinType: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val range = col(rightTs) >= col(leftTs) - expr(s"INTERVAL $lookback") &&
      col(rightTs) <= col(leftTs)
    l.join(r, keyCond && range, joinType)
      .select((keys.map(l(_)) ++ left.columns.filterNot(keys.contains).map(l(_))
        ++ right.columns.filterNot(keys.contains).map(r(_))): _*)
  }

  /** Watermarked tumbling-window event counts + mean value — the
    * standard event-time aggregation shape (absent from the reference,
    * SURVEY.md §2.10 non-goal; included because any 100 TB event
    * pipeline needs it). Late rows beyond `watermark` are dropped and
    * their window state evicted — bounded state.
    */
  def windowedStats(events: DataFrame, tsCol: String, valueCol: String,
      window_ : String = "1 hour", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_))
      // exact CENT-grid sum + integer half-up mean: order-insensitive
      // (micro-batch arrival order must not change it) and decided by
      // exact arithmetic at the 4-dp boundaries where round(double, 4)
      // diverges between engines (the decMean/q_semi_sample lesson)
      .agg(count(lit(1)).as("n"),
        sum(round(col(valueCol) * lit(100)).cast("long")).as("__cents"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("n"),
        graft.PlanUtils.halfUpMean4(col("__cents"), col("n")).as("mean_value"))

  /** Watermarked HOPPING-window stats — [[windowedStats]] with a slide
    * shorter than the window, so each event updates window/slide
    * overlapping windows. State stays bounded the same way (windows
    * older than the watermark are evicted); the per-event replication
    * factor is the bounded window/slide constant, folded into the
    * partial aggregate before any exchange. Decimal sum keeps the
    * published value independent of micro-batch arrival order.
    */
  def hoppingStats(events: DataFrame, tsCol: String, valueCol: String,
      window_ : String, slide: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_, slide))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(28,12)")).cast("double")
          .as("sum_value"))
      .select(col("window.start").as("w_start"), col("n"), col("sum_value"))

  /** Per-shard streaming-sample state: the k hash-smallest rows seen
    * so far plus a batch sequence number (the sink keeps each shard's
    * LAST emission). State is ≤ k rows per shard — bounded in stream
    * length, the one-pass sampler rule.
    */
  case class ShardSampleState(seq: Long,
      rows: List[(String, Long, Long, String, Double)])

  /** One emitted sample candidate; `seq` tags which micro-batch's
    * snapshot it belongs to. */
  case class SampleRow(shard: Long, seq: Long, h: String, event_id: Long,
      user_id: Long, event_type: String, value: Double)

  /** Streaming exact-size-k uniform sample — the one-pass counterpart
    * of [[graft.operators.RelationalOps.uniformSampleExact]], with
    * IDENTICAL output: keep the k globally hash-smallest rows of the
    * stream (seeded md5 order = a uniform permutation), maintained
    * incrementally. Classic distributed reservoir designs keep a
    * random-tag heap per partition; the hash-order formulation is that
    * heap with a DETERMINISTIC tag, which is what makes the result
    * reproducible and batch/stream identical — the q_stream_sample
    * gate runs THE SAME DuckDB oracle as the batch sampler.
    *
    * Topology: rows arrive pre-sharded on the hash prefix (`shards`
    * groups); each shard's flatMapGroupsWithState keeps its own
    * k-smallest list (a shard can in principle own all k winners, so
    * per-shard state must be k, not k/shards), emits its current
    * snapshot per micro-batch in Update mode, and the sink reduces
    * shard snapshots (latest `seq` each) to the global k-smallest —
    * sink work is shards·k rows, constant in stream length.
    */
  def streamingUniformSample(
      rows: Dataset[(Long, String, Long, Long, String, Double)],
      k: Int): Dataset[SampleRow] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[ShardSampleState, SampleRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (shard: Long, it: Iterator[(Long, String, Long, Long, String, Double)],
            state: GroupState[ShardSampleState]) =>
          val prev = state.getOption.getOrElse(ShardSampleState(0L, Nil))
          val merged = (prev.rows ++ it.map(r => (r._2, r._3, r._4, r._5, r._6)))
            .sortBy(r => (r._1, r._2)).take(k)
          val next = ShardSampleState(prev.seq + 1L, merged)
          state.update(next)
          merged.iterator.map { case (h, id, uid, typ, v) =>
            SampleRow(shard, next.seq, h, id, uid, typ, v)
          }
      }
  }

  /** Per-key upsert state: the latest row under (ts, id) order — ONE
    * struct per key, constant in stream length.
    */
  case class UpsertState(tsUs: Long, id: Long, typ: String, value: Double)

  /** Current materialized row per key (update mode, one per batch). */
  case class UpsertRow(user_id: Long, last_ts_us: Long, last_event_id: Long,
      last_type: String, last_value: Double)

  /** Streaming CDC upsert-apply: maintain the LATEST row per key under
    * the (ts, id) total order across micro-batches — the materialized-
    * view maintenance loop behind every streaming MERGE sink (the
    * streaming counterpart of the batch `max_by` dedup-last /
    * merge-upsert family). State per key is one struct; the update is
    * guarded by the (ts, id) comparison, so a late-arriving OLDER row
    * in a later micro-batch never replaces a newer one (the
    * [[attributionByKey]] ordering lesson, enforced not documented).
    * Update-mode emission: the key's current materialized row each
    * batch the key appears in; the sink keeps each key's newest
    * emission — batch/stream parity is the gate's tested property.
    */
  def upsertLatestByKey(
      events: Dataset[(Long, Long, Long, String, Double)]): Dataset[UpsertRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[UpsertState, UpsertRow](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Long, String, Double)],
            state: GroupState[UpsertState]) =>
          var cur = state.getOption
          rows.foreach { case (_, tsUs, id, typ, v) =>
            if (cur.forall(s => tsUs > s.tsUs || (tsUs == s.tsUs && id > s.id)))
              cur = Some(UpsertState(tsUs, id, typ, v))
          }
          cur.foreach(state.update)
          cur.iterator.map(s =>
            UpsertRow(key, s.tsUs, s.id, s.typ, s.value)).toIterator
      }
  }

  /** Watermarked per-window value-bin counts — the streaming half of a
    * drift monitor ([[graft.operators.EvalOps.psiByGroup]] composes the
    * PSI against a static reference): each tumbling window reduces to
    * ≤ maxBin+1 (bin, count) rows. State per window is the bin-count
    * map (bounded by the bin axis, NOT the event count); windows older
    * than the watermark are evicted. The bin function is the same
    * single IEEE divide + floor the batch reference uses, so stream
    * and reference distributions are binned identically.
    */
  def windowedBinCounts(events: DataFrame, tsCol: String, valueCol: String,
      window_ : String, watermark: String, binWidth: Double,
      maxBin: Int): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_),
        least(floor(col(valueCol) / binWidth), lit(maxBin.toLong)).cast("long")
          .as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("w_start"), col("bin"), col("cnt"))

  /** Watermarked per-window CATEGORY counts — the streaming input to a
    * windowed trending-top-k feed: each tumbling window reduces to one
    * row per observed category. State per window is the category-count
    * map (bounded by the category universe, not the event count);
    * windows older than the watermark are evicted. The rank/limit
    * itself applies AFTER the sink (ranking is a per-window total-
    * order decision — final only once the window's counts are
    * complete, exactly what complete-mode emission gives the reader).
    */
  def windowedTypeCounts(events: DataFrame, tsCol: String, typeCol: String,
      window_ : String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(typeCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col(typeCol), col("n"))

  /** Stream–static enrichment join: each streaming row picks up the
    * matching static dimension attributes — the standard streaming
    * lookup/enrichment shape (events × user table, impressions ×
    * campaign table). STATELESS: a stream–static equi-join needs no
    * watermark and holds no join state — the static side is planned as
    * a broadcast per micro-batch (dims are small by definition; a dim
    * too big to broadcast belongs in a stream–stream join with
    * watermarks instead, see [[intervalJoin]]). Append-mode safe:
    * every input row emits at most once, immediately.
    */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), keys, "inner")

  /** Per-key rolling-anomaly state: position counter + the last
    * `lookback` values in event order — bytes per key are CONSTANT in
    * stream length (the bounded-state rule).
    */
  case class RingState(seq: Long, ring: List[Double])

  /** One row per scored event (append mode — each input emits once). */
  case class AnomalyRow(user_id: Long, event_id: Long, seq: Long,
      value: Double, n_prior: Long, base_mean: Option[Double],
      base_std: Option[Double], z: Option[Double], is_anomaly: Boolean)

  /** Streaming mirror of [[graft.operators.TemporalOps.rollingAnomaly]]
    * via flatMapGroupsWithState: each event is z-scored against the
    * mean/std of the `lookback` events before it within its key. The
    * state per key is a ring of ≤ lookback doubles + one counter —
    * independent of stream length — and every arithmetic step mirrors
    * the batch operator's published-rounded semantics bit-for-bit:
    * mean = scale-12 decimal ring sum (exactly Spark's double→decimal
    * cast) → one double divide → round 6; std = the Welford/central-
    * moment recurrence in ring order (the same update Spark's windowed
    * stddev_pop runs over the frame) → round 6; z from the published
    * pair → round 4. The q_stream_anomaly gate runs THE SAME DuckDB
    * oracle as the batch q_ts_anomaly — streaming-vs-batch parity is
    * the tested property, like q_stream_welford.
    *
    * Ordering: rows are sorted by (ts, event_id) WITHIN each
    * micro-batch group iterator (Spark does not guarantee iterator
    * order). Cross-batch order relies on source batches being
    * event-time-monotone per key — true for AvailableNow over a sorted
    * file, and the standard upstream contract (watermark + ordered
    * ingestion) for a production deployment.
    */
  /** Per-key attribution state: the last qualifying touch — ONE
    * struct per user, constant in stream length.
    */
  case class TouchState(tUs: Long, tType: String, tId: Long)

  /** One row per conversion (append mode). */
  case class AttributionRow(user_id: Long, conv_event_id: Long,
      conv_ts_us: Long, touch_type: Option[String],
      touch_event_id: Option[Long], mins_since_touch: Option[Long])

  /** Streaming mirror of
    * [[graft.operators.TemporalOps.lastTouchAttribution]] via
    * flatMapGroupsWithState: touches advance the per-user state
    * (guarded by the (ts, event_id) order, so a cross-batch
    * late-arriving OLDER touch never replaces a newer one),
    * conversions read it — the running last-qualifying-touch the
    * batch window computes, with the SAME strict-precedence order
    * ((ts, event_id); a touch at the conversion's own timestamp but
    * smaller id wins, one at a larger id doesn't). Minutes use the
    * same integer division. The q_stream_attribution gate runs THE
    * SAME DuckDB oracle as the batch q_attribution — streaming/batch
    * parity is the tested property. Ordering contract as
    * [[rollingAnomalyByKey]]: rows sorted per group within the
    * micro-batch; cross-batch order from event-time-monotone sources.
    */
  def attributionByKey(events: Dataset[(Long, Long, Long, String)],
      convType: String, touchTypes: Set[String],
      lookbackUs: Long): Dataset[AttributionRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[TouchState, AttributionRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Long, String)],
            state: GroupState[TouchState]) =>
          var touch: Option[TouchState] = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[AttributionRow]
          rows.toSeq.sortBy(e => (e._2, e._3)).foreach {
            case (_, tsUs, id, typ) =>
              if (typ == convType) {
                val in = touch.exists(t => tsUs - t.tUs <= lookbackUs)
                out += AttributionRow(key, id, tsUs,
                  if (in) touch.map(_.tType) else None,
                  if (in) touch.map(_.tId) else None,
                  if (in) touch.map(t => (tsUs - t.tUs) / 60000000L) else None)
              } else if (touchTypes(typ)) {
                // Keep only the NEWEST touch by the batch ordering key
                // (ts, event_id): a late-arriving touch in a later
                // micro-batch that is OLDER than the stored one must
                // not replace it, or streaming output diverges from
                // lastTouchAttribution's batch window semantics.
                if (touch.forall(t =>
                    tsUs > t.tUs || (tsUs == t.tUs && id > t.tId)))
                  touch = Some(TouchState(tsUs, typ, id))
              }
          }
          touch.foreach(state.update)
          out.iterator
      }
  }

  def rollingAnomalyByKey(events: Dataset[(Long, Long, Long, Double)],
      lookback: Int = 6, minPrior: Int = 4,
      threshold: Double = 3.0): Dataset[AnomalyRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    def r(v: Double, s: Int): Double =
      BigDecimal(v).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    events.groupByKey(_._1)
      .flatMapGroupsWithState[RingState, AnomalyRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[(Long, Long, Long, Double)],
            state: GroupState[RingState]) =>
          var s = state.getOption.getOrElse(RingState(0L, Nil))
          val out = rows.toSeq.sortBy(e => (e._2, e._3)).map {
            case (_, _, eventId, v) =>
              val n = s.ring.size
              val (mOpt, sdOpt) =
                if (n == 0) (None, None)
                else {
                  val sum = s.ring.map(x =>
                    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum
                  // Welford in ring (frame) order, with Spark's exact
                  // CentralMomentAgg operation order (delta*(delta-deltaN),
                  // not delta*(x-newMean): one rounding fewer) so the
                  // streamed std is bit-identical to windowed stddev_pop
                  var mean = 0.0; var m2 = 0.0; var i = 0
                  s.ring.foreach { x =>
                    i += 1
                    val delta = x - mean
                    val deltaN = delta / i
                    mean += deltaN
                    m2 += delta * (delta - deltaN)
                  }
                  (Some(r(sum.toDouble / n, 6)), Some(r(math.sqrt(m2 / n), 6)))
                }
              val z = (mOpt, sdOpt) match {
                case (Some(m), Some(sd)) if n >= minPrior && sd > 0.0 =>
                  Some(r((v - m) / sd, 4) + 0.0) // + 0.0: kill -0.0 (gate parity)
                case _ => None
              }
              val seq = s.seq + 1
              s = RingState(seq, (s.ring :+ v).takeRight(lookback))
              AnomalyRow(key, eventId, seq, v, n.toLong, mOpt, sdOpt, z,
                z.exists(math.abs(_) > threshold))
          }
          state.update(s)
          out.iterator
      }
  }
}
