package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational building blocks mirroring the reference's hand-rolled
  * patterns (SURVEY.md §2.2/§2.3/§2.4):
  *
  *  - set difference (`SetDifferenceMR`, MRSystemSimulator2020.py:199-212)
  *  - multi-level sampling (sampler_v02.py:32-87)
  *  - dedup-to-last-per-key (a3_p2.py:22)
  *  - group-support filtering (a3_p2.py:26,31)
  *
  * All are pure declarative plans: Catalyst supplies predicate pushdown,
  * partial aggregation, and the join strategy (broadcast for the small
  * sampled-id side, shuffle hash/sort-merge for the big-big case). None
  * of these collect to the driver, so they scale with executor count.
  */
object RelationalOps {

  /** R − S on a key column (distinct set semantics, like the reference's
    * label-list reduce). Plans as a left-anti hash join; the anti side
    * broadcasts when small enough, otherwise shuffles on the key —
    * either way no driver materialization.
    */
  def setDifference(r: DataFrame, s: DataFrame, key: String): DataFrame =
    r.select(key).distinct().join(s.select(key).distinct(), Seq(key), "left_anti")

  /** Deterministic bucket assignment used by the one-pass sampler
    * (sampler_v02.py:80 uses murmur3 % buckets; we expose the same
    * shape). `knuthBucket` is the SQL-mirrorable variant used by the
    * oracle-checked queries: a Knuth multiplicative hash whose exact
    * arithmetic DuckDB reproduces. For opaque/string keys at scale
    * prefer [[murmurBucket]] (Spark's codegen'd Murmur3 — the same
    * family the reference uses via mmh3).
    */
  def knuthBucket(key: Column, buckets: Int): Column =
    pmod(key * lit(2654435761L), lit(buckets.toLong))

  def murmurBucket(key: Column, buckets: Int): Column =
    pmod(hash(key), lit(buckets))

  /** One-pass hash-bucket sample: keep rows whose key falls in `chosen`.
    * This is the reference's stream sampler membership predicate — a
    * scan-local filter (pushed to the parquet reader when the key is a
    * plain column), no shuffle, no state.
    */
  def hashBucketSample(df: DataFrame, key: String, buckets: Int, chosen: Int): DataFrame =
    df.filter(knuthBucket(col(key), buckets) === lit(chosen.toLong))

  /** Two-pass "typical" sampler (sampler_v02.py:32-56): sample the
    * distinct key population, then keep all rows of sampled keys. The
    * reference collects sampled ids into driver memory; here the second
    * pass is a left-semi join, which Catalyst turns into a broadcast
    * semi-join when the sampled-id side is small — same I/O shape, no
    * driver round-trip.
    */
  def semiJoinSample(df: DataFrame, key: String, buckets: Int, chosen: Int): DataFrame = {
    val sampledIds = df.select(key).distinct()
      .filter(knuthBucket(col(key), buckets) === lit(chosen.toLong))
    df.join(sampledIds, Seq(key), "left_semi")
  }

  /** Keep the last row per key group under an explicit ordering — the
    * deterministic version of the reference's `reduceByKey(lambda a,b: b)`
    * (a3_p2.py:22, whose "last" was partition-order-dependent).
    *
    * Planned as `max_by(values, order)` — a hash aggregation, NOT a
    * window: the aggregate gets map-side partial reduction (each input
    * partition keeps one candidate row per key before the shuffle),
    * whereas `row_number over (partition by …)` must shuffle and sort
    * EVERY input row. Same "last" semantics: the order struct compares
    * lexicographically like ORDER BY on `orderCols` descending; rows
    * tying on the full order struct must be identical in the value
    * columns for the result to be well-defined (callers include a
    * total-order tie-break).
    */
  def dedupLast(df: DataFrame, keys: Seq[String], orderCols: Seq[Column]): DataFrame = {
    val valueCols = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(valueCols.map(col): _*), struct(orderCols: _*)).as("__v"))
      .select(keys.map(col) ++ valueCols.map(c => col(s"__v.$c").as(c)): _*)
  }

  /** Uniform [0, 1) value derived from md5(key || "|" || seed) — the
    * engine-portable RNG used by the seeded samplers: deterministic,
    * partition-order-independent, and reproducible bit-for-bit in any
    * engine with md5 (the DuckDB oracle recomputes it exactly). 24 bits
    * of mantissa — plenty for sampling decisions.
    *
    * CONTRACT: `key` must be a NON-NULL unique row identifier. Rows
    * sharing a key share one draw (kept/dropped together — sometimes
    * wanted, e.g. by-user sampling; never uniform-by-row), and NULL
    * keys all collapse onto the hash of the bare seed (engines also
    * disagree on null-concat semantics, breaking oracle portability).
    */
  def hashUniform(key: Column, seed: String): Column =
    conv(substring(md5(concat_ws("|", key.cast("string"), lit(seed)).cast("binary")), 1, 6),
      16, 10).cast("double") / lit(16777216.0)

  /** Leakage-free train/val/test split: the draw hashes the KEY, so
    * every row of a key (all of a user's events, all of a document's
    * chunks) lands in the same split — the group-integrity property
    * row-wise `df.randomSplit` does not give, and the one that matters
    * when eval contamination is measured per-entity. Adds a `split`
    * column in 0..fractions.size−1 by cumulative threshold on the
    * md5-uniform draw. Map-only (scan-local, no shuffle, no state);
    * composes with pushdown. Same key contract as [[hashUniform]].
    */
  def groupSplit(df: DataFrame, keyCol: String, fractions: Seq[Double],
      seed: String): DataFrame = {
    require(fractions.nonEmpty && fractions.forall(_ > 0) &&
      math.abs(fractions.sum - 1.0) < 1e-9,
      "fractions must be positive and sum to 1")
    val u = hashUniform(col(keyCol), seed)
    // fold the cumulative bounds as an IEEE left-to-right sum — the
    // oracle writes the same additions unfolded so both engines compare
    // against bit-identical thresholds
    val cum = fractions.scanLeft(0.0)(_ + _).tail
    val split = cum.init.zipWithIndex.foldRight(
      lit(fractions.size - 1): Column) {
      case ((bound, i), rest) => when(u < bound, lit(i)).otherwise(rest)
    }
    df.withColumn("split", split)
  }

  /** Seeded uniform FRACTION sample (sampler_v02.py:43-44's
    * `random.shuffle` semantics, made deterministic): keep rows whose
    * hash-uniform draw on `key` falls below `fraction`. A scan-local
    * filter — no shuffle, no state, no driver round-trip — so it
    * composes with pushdown and scales linearly. For maximum throughput
    * when engine portability doesn't matter, `df.sample(fraction, seed)`
    * (Spark's native XORShift per-partition RNG) is the alternative;
    * this variant is the one an oracle can replay.
    */
  def uniformSampleFraction(df: DataFrame, key: Column, fraction: Double,
      seed: String): DataFrame =
    df.filter(hashUniform(key, seed) < lit(fraction))

  /** Seeded EXACT-SIZE-k uniform sample: the k rows with the smallest
    * md5(key || seed) — the distributed equivalent of the reference's
    * driver-side `random.shuffle(rows); rows[:k]` (sampler_v02.py:43-44)
    * without materializing anything on the driver. Plans as
    * TakeOrderedAndProject: each partition keeps its local top-k, only
    * k rows per partition reach the driver-side merge — no full sort,
    * no full shuffle, scale-safe for any k that fits one machine.
    * Same key contract as [[hashUniform]]: non-null and unique, else
    * rows tying on the hash are picked arbitrarily among duplicates.
    */
  def uniformSampleExact(df: DataFrame, key: Column, k: Int, seed: String): DataFrame =
    df.orderBy(md5(concat_ws("|", key.cast("string"), lit(seed)).cast("binary")))
      .limit(k)

  /** Deterministic epoch-shuffle order for training: every row gets a
    * seeded md5 shuffle key, a shard (24 hash bits mod `shards`), a
    * dense position within its shard, and the round-robin interleaved
    * `global_pos = pos_in_shard · shards + shard` — the order a
    * sharded data loader reading shard files round-robin consumes.
    * Reseeding (`seed` = epoch id) yields an independent permutation
    * per epoch with zero state carried between epochs.
    *
    * Scale shape: NO global sort and no single-partition window — the
    * only wide operation is the `shards`-way window (one exchange on
    * shard, per-shard sort of corpus/shards rows). A global
    * `row_number` over one partition would serialize the corpus
    * through a single task; sharding is what makes a total
    * training order distributable (and matches how the order is
    * physically consumed: one file per shard). `global_pos` is the
    * interleaved read order, contiguous while every shard still has
    * rows (tail positions of uneven shards leave gaps — harmless for
    * consumption order, documented for anyone treating it as a dense
    * index). Same key contract as [[hashUniform]].
    */
  def trainingOrder(df: DataFrame, key: Column, seed: String,
      shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards > 0, "shards must be positive")
    val h = md5(concat_ws("|", key.cast("string"), lit(seed)).cast("binary"))
    val withShard = df
      .withColumn("skey", h)
      .withColumn("shard",
        pmod(conv(substring(col("skey"), 1, 6), 16, 10).cast("long"),
          lit(shards.toLong)))
    withShard
      .withColumn("pos_in_shard",
        row_number().over(Window.partitionBy("shard")
          .orderBy(col("skey"), key)).cast("long") - 1L)
      .withColumn("global_pos",
        col("pos_in_shard") * shards + col("shard"))
  }

  /** Strictly-in-(0,1) uniform draw from md5(key‖seed): 24 hash bits
    * offset by half a step, so `log(u)` is always finite (a raw 24-bit
    * zero would hit ln(0) = −∞/null, and engines disagree on which).
    * Same key contract as [[hashUniform]].
    */
  def hashUniformOpen(key: Column, seed: String): Column =
    (conv(substring(md5(concat_ws("|", key.cast("string"), lit(seed)).cast("binary")), 1, 6),
      16, 10).cast("double") + lit(0.5)) / lit(16777216.0)

  /** Seeded WEIGHTED sample without replacement: the `k` rows with the
    * largest u^(1/w) where u = md5-uniform and w = `weight` — the
    * Efraimidis–Spirakis (2006) A-ES scheme, the standard one-pass
    * weighted reservoir. Realized in log space (`ln(u)/w`, an
    * order-preserving transform) and planned exactly like
    * [[uniformSampleExact]]: TakeOrderedAndProject, k rows per
    * partition cross the merge, no full sort, no driver residency.
    *
    * This is the training-mixture draw: weight by token count for
    * length-proportional sampling, by source quality for mixture
    * reweighting. `weight` must be strictly positive. The sort key is
    * rounded to 9 decimals with `key` as the tiebreak so the draw is
    * engine-portable (ln differs by ≤1 ulp across libm builds; the
    * rounding absorbs it and the tiebreak keeps order total).
    */
  def weightedSampleExact(df: DataFrame, key: Column, weight: Column, k: Int,
      seed: String): DataFrame =
    df.orderBy(aesKey(key, weight, seed).desc, key.asc).limit(k)

  /** A-ES sort key `round(ln(u)/w, 9)`, failing FAST on a non-positive
    * weight: w = 0 yields ±∞ and w < 0 silently inverts the draw's
    * bias — both are caller bugs that would otherwise ship a wrong
    * sample without a trace.
    */
  private def aesKey(key: Column, weight: Column, seed: String): Column =
    when(weight > 0, round(log(hashUniformOpen(key, seed)) / weight, 9))
      .otherwise(raise_error(concat(
        lit("weighted sample: weight must be strictly positive, got "),
        weight.cast("string"))).cast("double"))

  /** Seeded stratified sample: exactly `k` rows (or all, if fewer) PER
    * GROUP — the balanced-dataset draw of training-data curation (k
    * docs per language, k examples per label). Selection is the k
    * smallest md5(key‖seed) within each group, computed by the native
    * [[graft.plans.TopKPerKey]] bounded-heap operator: map-side partial
    * top-k per group, ≤ k rows per (group, partition) cross the one
    * exchange, no sort — and the draw is engine-portable/deterministic
    * like [[uniformSampleExact]] (same key contract: non-null, unique).
    *
    * Inherits [[graft.plans.TopKPerKey]]'s state bound: per-partition
    * heap state is O(groups in that partition × k) with no spill path —
    * right for bounded group counts (languages, labels, event types);
    * for millions of groups per partition use the window row_number
    * form, which spills.
    */
  def stratifiedSampleExact(df: DataFrame, groupCols: Seq[String], key: Column,
      k: Int, seed: String): DataFrame = {
    require(!df.columns.contains("__draw"),
      "stratifiedSampleExact reserves column __draw; rename it on the input")
    val h = md5(concat_ws("|", key.cast("string"), lit(seed)).cast("binary"))
    graft.plans.TopKOps.topKPerKey(
      df.withColumn("__draw", h), groupCols, Seq(col("__draw").asc), k)
      .drop("__draw")
  }

  /** Seeded WEIGHTED stratified sample: the `k` rows per group with the
    * largest u^(1/w) — [[weightedSampleExact]]'s A-ES draw composed
    * with [[stratifiedSampleExact]]'s per-group top-k plan (the native
    * [[graft.plans.TopKPerKey]] operator: map-side partial, ≤ k rows
    * per (group, partition) cross one exchange). The balanced-AND-
    * weighted mixture draw: k docs per language, each picked
    * length-proportionally. Same contracts as the parents: non-null
    * unique `key`, strictly positive `weight`.
    */
  def stratifiedWeightedSampleExact(df: DataFrame, groupCols: Seq[String],
      key: Column, weight: Column, k: Int, seed: String): DataFrame = {
    require(!df.columns.contains("__draw"),
      "stratifiedWeightedSampleExact reserves column __draw; rename it on the input")
    val draw = aesKey(key, weight, seed)
    graft.plans.TopKOps.topKPerKey(
      df.withColumn("__draw", draw), groupCols,
      Seq(col("__draw").desc, key.asc), k)
      .drop("__draw")
  }

  /** Groups of `groupCol` supported by at least `minDistinct` distinct
    * `byCol` values (a3_p2.py:26,31's ≥25-raters / ≥5-items filters).
    * Partial-aggregated count-distinct (exact); swap in
    * `approx_count_distinct` at extreme cardinalities.
    */
  /** Winsorized (percentile-clipped) per-group statistics — the
    * outlier-robust cleaning step a feature/curation pipeline applies
    * before averaging anything users can game. Per group: exact
    * interpolated percentiles at `lo`/`hi` (one bounded-output
    * aggregate), broadcast back, clip with least/greatest, and report
    * raw vs clipped decimal-summed means plus clip counts. Two scans
    * of the input, one bounded broadcast, no window — the percentile
    * itself is the scale constraint (exact percentile holds a group's
    * values on one task), which is exactly why [[SketchOps]] exists
    * for the quantile step at corpus scale; this operator is for
    * bounded-cardinality group-bys (per-source, per-type) where exact
    * clipping is affordable and auditable.
    */
  def winsorizedStats(df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double,
      mean: Column => Column): DataFrame = {
    require(lo < hi && lo >= 0 && hi <= 1, "need 0 <= lo < hi <= 1")
    val bounds = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, array(${lo}D, ${hi}D))").as("__q"))
      .select(col(groupCol), col("__q")(0).as("__lo"), col("__q")(1).as("__hi"))
    val v = col(valueCol)
    df.join(broadcast(bounds), groupCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(when(v < col("__lo"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(v > col("__hi"), 1L).otherwise(0L)).as("n_clip_hi"),
        mean(v).as("raw_mean"),
        mean(least(greatest(v, col("__lo")), col("__hi"))).as("wins_mean"))
  }

  /** Robust per-row outlier score: modified z-score 0.6745·(v−median)/
    * MAD (Iglewicz & Hoaglin's 3.5 rule), the standard alternative to
    * mean/stddev scoring when the outliers themselves would corrupt
    * the baseline. Median and MAD use the LOWER median (type-1: the
    * exact data element at rank ⌈n/2⌉), not interpolation — an
    * interpolated median is a derived double whose last ulp differs
    * across engines, and chaining 100k scores off it flipped the 4th
    * published decimal on ~1e-4 of rows (measured at sf0.1); an
    * element median is a value both engines hold bit-identically, so
    * every published score chains from exact doubles. The score is
    * published RAW (no round): with element medians the whole chain is
    * deterministic IEEE arithmetic, identical bit-for-bit in any
    * engine — whereas round()ing it is NOT portable here, because
    * decimal-quantized inputs make the exact ratio land precisely ON
    * x.xxxx5 boundaries, where BigDecimal-exact rounding (Spark) and
    * multiply-then-round (C engines) disagree (measured: 10/100k rows
    * at sf0.1, both directions). Round sums; publish deterministic
    * ratios raw. Two rank selections (window row_number per group —
    * the group sorts on one task: this is the exact tier for bounded-
    * cardinality groups; [[SketchOps]] is the corpus-scale quantile
    * path), each broadcast back; the data never shuffles on a
    * corpus-sized key. Zero-MAD groups (constant values) get null
    * scores rather than ±∞; the outlier flag compares the published
    * score against the exactly-representable cutoff.
    */
  def robustZScores(df: DataFrame, groupCol: String, valueCol: String,
      cutoff: Double = 3.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol)
    def lowerMedian(src: DataFrame, c: Column, out: String): DataFrame =
      src.select(col(groupCol), c.as("__x"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col(groupCol)).orderBy(col("__x"))))
        .withColumn("__n", count(lit(1)).over(
          Window.partitionBy(col(groupCol))))
        .filter(col("__rn") === expr("(__n + 1) div 2"))
        .select(col(groupCol), col("__x").as(out))
    val med = lowerMedian(df, v, "__med")
    val withMed = df.join(broadcast(med), groupCol)
    val mad = lowerMedian(withMed, abs(v - col("__med")), "__mad")
    val z = lit(0.6745) * (v - col("__med")) /
      when(col("__mad") > 0, col("__mad"))
    withMed.join(broadcast(mad), groupCol)
      .withColumn("z", z)
      .withColumn("is_outlier", abs(col("z")) > cutoff)
  }

  def supportFilter(df: DataFrame, groupCol: String, byCol: String, minDistinct: Long): DataFrame =
    df.groupBy(groupCol)
      .agg(countDistinct(col(byCol)).as("n_support"))
      .filter(col("n_support") >= lit(minDistinct))

  /** Exact 2-D skyline (Pareto frontier, maximize both dimensions): the
    * rows no other row dominates, where q dominates p iff q.x ≥ p.x ∧
    * q.y ≥ p.y with at least one strict. The multi-objective curation
    * filter — "keep documents not beaten on BOTH quality axes at once"
    * — that no single ORDER BY can express. Duplicate (x, y) points are
    * mutually non-dominating and all survive (set semantics on rows,
    * not coordinates).
    *
    * The naive formulation is a NOT EXISTS over all pairs — O(n²) and
    * the oracle's job, not the engine's. The scale-safe plan exploits
    * the 1-D structure: a dominator has strictly greater x OR equal x,
    * so split by x-bucket (`x div bucketWidth`, integer x required):
    *
    *  1. per-bucket max(y) — a tiny bucket-cardinality aggregate;
    *  2. suffix max over strictly-HIGHER buckets (single-partition
    *     window over the TINY table — bucket count rows, bounded by
    *     x-range/bucketWidth, never the corpus) broadcast back: any
    *     point with y ≤ that suffix max is dominated by something with
    *     structurally greater x and dies without a comparison;
    *  3. within its own bucket, ONE bucket-partitioned x-desc-ordered
    *     WindowExec computes BOTH remaining maxes: over strictly
    *     greater x (integer RANGE offset −1 — ties excluded exactly)
    *     and over the exact-x peer group (zero-width RANGE frame),
    *     the latter catching same-x dominators.
    *
    * Every corpus-sized exchange is keyed on bucket — data cardinality
    * — and each survives-iff condition is a strict inequality against
    * an exact max, so ties behave identically in the oracle's
    * quantifier form. The input feeds both the bucket-max aggregate
    * and the main filter, so it is a query-scoped [[graft.CacheScope]]
    * persist (without it the upstream lineage — often an aggregation
    * itself — runs twice).
    */
  def skyline2D(df: DataFrame, xCol: String, yCol: String,
      bucketWidth: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bucketWidth > 0, "bucketWidth must be positive")
    val pts = graft.CacheScope.autoRelease(
      df.withColumn("__bkt", expr(s"$xCol div ${bucketWidth}L")))
    val bucketMax = pts.groupBy(col("__bkt"))
      .agg(max(col(yCol)).as("__bmax"))
    // suffix max over strictly higher buckets: the table is bucket-
    // cardinality (x-range / bucketWidth rows), so the single-partition
    // window is a few rows on one core, then broadcast back out
    val suffix = bucketMax.select(col("__bkt"),
      max(col("__bmax")).over(Window.orderBy(col("__bkt").desc)
        .rowsBetween(Window.unboundedPreceding, -1)).as("__above"))
    val inBucketOrd = Window.partitionBy(col("__bkt"))
      .orderBy(col(xCol).desc)
    pts.join(broadcast(suffix), "__bkt")
      .withColumn("__gtx", max(col(yCol)).over(
        inBucketOrd.rangeBetween(Window.unboundedPreceding, -1)))
      .withColumn("__xmax", max(col(yCol)).over(
        inBucketOrd.rangeBetween(Window.currentRow, Window.currentRow)))
      .filter((col("__above").isNull || col(yCol) > col("__above")) &&
        (col("__gtx").isNull || col(yCol) > col("__gtx")) &&
        col(yCol) === col("__xmax"))
      .drop("__bkt", "__above", "__gtx", "__xmax")
  }

  /** Pairwise association rules (market-basket support / confidence /
    * lift) — the frequent-itemset step of the a-priori family at the
    * k = 2 tier, where nearly all of the practical signal (and nearly
    * all of the distributed cost) lives.
    *
    * The naive formulation self-joins the (basket, item) table on the
    * basket key — that is the oracle's job. The engine NEVER self-joins
    * the corpus: one basket-keyed exchange builds the deduped item set
    * per basket (`collect_set`, partial-aggregated map-side), then the
    * C(k,2) canonical pairs are generated INSIDE the row by a
    * higher-order array expression (sorted set → upper-triangle
    * pairs), so pair cardinality is bounded per basket (baskets are
    * small by domain: a cart, a session, an order — the operator's
    * documented contract), and the only corpus-sized shuffles are the
    * basket groupBy and the pair-keyed count. Item supports reuse the
    * SAME persisted sets (query-scoped [[graft.CacheScope]]), and both
    * support tables join back by broadcast (item-vocabulary-sized, ≪
    * corpus by assumption).
    *
    * Metrics are published RAW: each is a single IEEE divide (or
    * exact-integer-valued double product) off BIGINT counts —
    * deterministic bit-for-bit in any engine, no rounding needed.
    * lift > 1 ⇒ the pair co-occurs more often than independence
    * predicts; conf_ab = P(b | a).
    */
  def assocRules(baskets: DataFrame, basketCol: String, itemCol: String,
      minSupport: Long): DataFrame = {
    require(minSupport >= 1, "minSupport must be >= 1")
    graft.CacheScope.pinned { p =>
      val sets = p(baskets
        .groupBy(col(basketCol).as("__bk"))
        .agg(collect_set(col(itemCol)).as("__items")))
      // one cheap action sizes the lift denominator AND materializes the
      // pin; it releases when the returned frame is first consumed
      val nBaskets = sets.count()
      val sorted = array_sort(col("__items"))
      // upper-triangle pair generation inside the row: for element i,
      // pair it with every element after it — canonical (a < b) order
      // falls out of the sort, duplicates are impossible post-collect_set
      val pairsArr = flatten(transform(sorted, (x, i) =>
        transform(slice(sorted, i + lit(2), size(sorted)), y =>
          struct(x.as("item_a"), y.as("item_b")))))
      val pairCounts = sets
        .select(explode(pairsArr).as("__p"))
        .select(col("__p.item_a").as("item_a"), col("__p.item_b").as("item_b"))
        .groupBy("item_a", "item_b").agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= lit(minSupport))
      val itemCounts = sets
        .select(explode(col("__items")).as("__it"))
        .groupBy("__it").agg(count(lit(1)).as("__n"))
      pairCounts
        .join(broadcast(itemCounts.select(col("__it").as("item_a"),
          col("__n").as("n_a"))), Seq("item_a"))
        .join(broadcast(itemCounts.select(col("__it").as("item_b"),
          col("__n").as("n_b"))), Seq("item_b"))
        .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
          col("n_b"),
          (col("n_ab").cast("double") / col("n_a")).as("conf_ab"),
          (col("n_ab").cast("double") / col("n_b")).as("conf_ba"),
          ((col("n_ab").cast("double") * lit(nBaskets.toDouble)) /
            (col("n_a").cast("double") * col("n_b"))).as("lift"))
    }
  }

  /** ANALYZE-style column profile: one row per requested numeric
    * column with min / max / null count / exact distinct count plus
    * the table row count — the statistics table behind cost-based
    * join ordering, data-skipping file pruning, and data-quality
    * monitoring.
    *
    * ONE aggregation pass computes every stat: Catalyst plans the
    * multiple `count(DISTINCT …)` via a single Expand (each input row
    * fans out once per distinct group, then two partial-combined
    * aggregate rounds) — the scan happens exactly once however many
    * columns are profiled. The wide single stats row is then melted
    * to long form by an inline array-of-structs explode (row-local;
    * no shuffle after the aggregate). Min/max cast to double for the
    * uniform long-form schema — profile inputs are numeric columns by
    * contract.
    *
    * At corpus scale exact NDV is the expensive stat (the Expand
    * multiplies shuffled rows by the column count); swap in
    * `approx_count_distinct` / [[SketchOps]] when estimates suffice —
    * the published-exact form is the verifier.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = count(lit(1)).as("__n") +:
      cols.flatMap { c => Seq(
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"),
        count(when(col(c).isNull, lit(1))).as(s"__nulls_$c"),
        count_distinct(col(c)).as(s"__ndv_$c"))
      }
    val entries = array(cols.map { c =>
      struct(lit(c).as("col_name"), col(s"__min_$c").as("min_v"),
        col(s"__max_$c").as("max_v"), col(s"__nulls_$c").as("n_nulls"),
        col(s"__ndv_$c").as("ndv"))
    }: _*)
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("__n"), explode(entries).as("__e"))
      .select(col("__e.col_name").as("col_name"), col("__e.min_v").as("min_v"),
        col("__e.max_v").as("max_v"), col("__e.n_nulls").as("n_nulls"),
        col("__e.ndv").as("ndv"), col("__n").as("n_rows"))
  }

  /** Equi-width histogram over several numeric columns in ONE scan:
    * each row fans out to `(col_name, bin)` per profiled column via an
    * inline array-of-structs explode (row-local, before the shuffle),
    * then a single hash aggregate counts per (col_name, bin). The
    * distribution-shape companion to [[profile]] — bin `i` covers
    * `[i·w, (i+1)·w)` for that column's width `w`.
    *
    * Bin assignment is `floor(x / w)` in DOUBLE: one IEEE division and
    * a floor, bit-identical on any engine — no min/max pre-pass, so the
    * whole thing is one scan + one exchange carrying (cols × bins)
    * partial rows, not the input. Negative values bin correctly
    * (floor, not truncation); nulls land in a null bin, mirroring SQL
    * GROUP BY. Output: (col_name, bin, n).
    *
    * Pick widths so bins are meaningful at the data's scale; a width
    * whose reciprocal is not a power of two still divides exactly —
    * only the PUBLISHED bin boundary `i·w` would need care, which is
    * why this returns the integer bin id, not the boundary.
    */
  def histogram(df: DataFrame, cols: Seq[(String, Double)]): DataFrame = {
    require(cols.nonEmpty, "histogram needs at least one column")
    cols.foreach { case (_, w) => require(w > 0, "bin width must be positive") }
    val entries = array(cols.map { case (c, w) =>
      struct(lit(c).as("col_name"),
        floor(col(c) / lit(w)).cast("long").as("bin"))
    }: _*)
    df.select(explode(entries).as("__e"))
      .groupBy(col("__e.col_name").as("col_name"), col("__e.bin").as("bin"))
      .agg(count(lit(1)).as("n"))
  }

  /** Exact pairwise Pearson correlation matrix over `cols` in ONE
    * aggregate pass: all Σx, Σx², Σxy moments accumulate in a single
    * partial+final hash aggregate (map-side combined; the scan happens
    * once no matter how many pairs), then each upper-triangle pair's
    * correlation is a row-local expression on the one stats row,
    * melted long via inline explode. The feature-redundancy screen of
    * dataset curation (drop one of two ~collinear features).
    *
    * Engine-portable exactness: inputs are cast to DECIMAL at
    * `scale` (exact for data born at that decimal scale — prices,
    * rates), so every moment is an order-independent exact decimal
    * sum; only the FINAL closed-form corr is evaluated in double,
    * from identical exact inputs, in one fixed expression shape both
    * engines parse identically. Zero-variance columns yield null, not
    * ±∞/NaN. At 100 TB the exchange carries one partial-moment row
    * per task — O(cols²) values — never the data.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String],
      scale: Int = 2): DataFrame = {
    require(cols.size >= 2, "correlationMatrix needs at least two columns")
    def d(c: String) = col(c).cast(s"decimal(18,$scale)")
    val pairs = for {
      i <- cols.indices; j <- cols.indices if i < j
    } yield (cols(i), cols(j))
    val aggs = (count(lit(1)).as("__n") +:
      cols.flatMap { c => Seq(
        sum(d(c)).as(s"__s_$c"),
        sum(d(c) * d(c)).as(s"__ss_$c")) }) ++
      pairs.map { case (a, b) => sum(d(a) * d(b)).as(s"__sp_${a}__$b") }
    val nD = col("__n").cast("double")
    def variance(c: String) =
      nD * col(s"__ss_$c").cast("double") -
        col(s"__s_$c").cast("double") * col(s"__s_$c").cast("double")
    val entries = array(pairs.map { case (a, b) =>
      val num = nD * col(s"__sp_${a}__$b").cast("double") -
        col(s"__s_$a").cast("double") * col(s"__s_$b").cast("double")
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        when(variance(a) > 0 && variance(b) > 0,
          round(num / sqrt(variance(a) * variance(b)), 6) + lit(0.0))
          .as("corr"))
    }: _*)
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("__n").as("n_rows"), explode(entries).as("__e"))
      .select(col("__e.col_a").as("col_a"), col("__e.col_b").as("col_b"),
        col("__e.corr").as("corr"), col("n_rows"))
  }

  /** Snapshot diff (CDC change detection): classify every key of two
    * snapshots of the same keyed table as `insert` (new only),
    * `delete` (old only) or `update` (present in both, any non-key
    * column null-safe-different); unchanged keys are dropped. The
    * incremental-refresh primitive: at 100 TB you re-derive only the
    * changed slice downstream instead of recomputing the corpus.
    *
    * Publishes the keys, `change`, and `old_<c>` / `new_<c>` for every
    * non-key column (the shared-schema requirement is checked). Plan:
    * ONE full-outer shuffle join on the key — the change classification
    * and the struct comparison are row-local expressions on top. Both
    * sides at rest in a bucketed layout ([[graft.sources.Bucketing]])
    * make even that exchange disappear. The null-safe `<=>` struct
    * compare treats null-vs-value as a change and null-vs-null as
    * equal — the SQL `IS DISTINCT FROM` contract.
    *
    * CONTRACT: `keys` non-null and unique per snapshot (it's a keyed
    * table); pre-aggregate otherwise.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String]): DataFrame = {
    val valueCols = oldDf.columns.filterNot(keys.contains).toSeq
    require(newDf.columns.filterNot(keys.contains).toSeq == valueCols,
      "snapshotDiff requires identical non-key schemas")
    // present flags must survive the outer join's nulls: a literal on
    // each side, never null, identifies which side matched
    val o = oldDf.select(keys.map(col) ++
      valueCols.map(c => col(c).as(s"old_$c")) :+ lit(1).as("__in_old"): _*)
    val n = newDf.select(keys.map(col) ++
      valueCols.map(c => col(c).as(s"new_$c")) :+ lit(1).as("__in_new"): _*)
    val oldStruct = struct(valueCols.map(c => col(s"old_$c")): _*)
    val newStruct = struct(valueCols.map(c => col(s"new_$c")): _*)
    o.join(n, keys, "full_outer")
      .withColumn("change",
        when(col("__in_old").isNull, "insert")
          .when(col("__in_new").isNull, "delete")
          .when(!(oldStruct <=> newStruct), "update"))
      .filter(col("change").isNotNull)
      .select((keys.map(col) :+ col("change")) ++
        valueCols.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** MERGE (SCD type-1 upsert): apply a change set to a keyed base
    * table — rows whose key appears in `changes` with the
    * `deleteFlag` set vanish, other change rows replace-or-insert
    * their key, untouched base rows pass through. The warehouse MERGE
    * INTO statement as a two-branch plan:
    *
    *   base LEFT ANTI changes (on keys)  ∪  changes WHERE NOT delete
    *
    * ONE key-keyed shuffle for the anti join (broadcast when the
    * change set is small — the common CDC case, Catalyst picks it);
    * the union is planless. `changes` must carry base's schema plus
    * the boolean `deleteFlag` and at most one row per key (it's a
    * change SET; dedupe upstream — [[dedupLast]]).
    */
  def mergeUpsert(base: DataFrame, changes: DataFrame, keys: Seq[String],
      deleteFlag: String): DataFrame = {
    require(changes.columns.contains(deleteFlag),
      s"changes must carry the $deleteFlag column")
    val kept = base.join(changes.select(keys.map(col): _*), keys, "left_anti")
    kept.unionByName(
      changes.filter(!col(deleteFlag)).drop(deleteFlag))
  }

  /** Incremental aggregation maintenance: update a per-group
    * (count, decimal-sum) aggregate table from a [[snapshotDiff]]
    * change set WITHOUT rescanning the corpus — the incremental-view
    * primitive that turns a 100 TB re-aggregation into work
    * proportional to the day's churn.
    *
    * Each diff row contributes up to two delta rows: its OLD side
    * (delete / update: −1, −old value, keyed by the old group) and its
    * NEW side (insert / update: +1, +new value, keyed by the new
    * group) — so group-moving updates transfer mass between groups
    * correctly. Deltas aggregate per group (tiny — churn-sized), then
    * ONE full-outer join folds them into the old aggregate; groups
    * whose count reaches zero are dropped.
    *
    * Exactness: sums are DECIMAL(38,12) end to end, where the delta
    * algebra is EXACT — old + Σ(new−old) is term-for-term the direct
    * aggregate of the new snapshot, independent of order. The output
    * (`grp`, `n`, `total` double) hash-matches a from-scratch DuckDB
    * aggregate of the new snapshot, which is the gate's proof that
    * maintenance ≡ recomputation.
    */
  def applyCountSumDelta(oldAgg: DataFrame, diff: DataFrame,
      grpCol: String, valCol: String): DataFrame = {
    val dec = "decimal(38,12)"
    val deltas = diff.select(explode(array(
        struct(col(s"old_$grpCol").as("grp"), lit(-1L).as("dn"),
          (-col(s"old_$valCol")).cast(dec).as("ds"),
          col("change").isInCollection(Seq("delete", "update")).as("keep")),
        struct(col(s"new_$grpCol").as("grp"), lit(1L).as("dn"),
          col(s"new_$valCol").cast(dec).as("ds"),
          col("change").isInCollection(Seq("insert", "update")).as("keep"))
      )).as("d"))
      .filter(col("d.keep"))
      .groupBy(col("d.grp").as("grp"))
      .agg(sum(col("d.dn")).as("dn"), sum(col("d.ds")).as("ds"))
    oldAgg.join(deltas, Seq("grp"), "full_outer")
      .select(col("grp"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("total"), lit(0).cast(dec)) +
          coalesce(col("ds"), lit(0).cast(dec))).cast(dec).as("total"))
      .filter(col("n") > 0)
  }

  /** Right-to-be-forgotten cascade audit (the GDPR/CCPA batch-delete
    * job every lakehouse runs): given a deletion-request key list,
    * count per table how many rows the cascade removes — customers
    * directly, their orders through the FK, those orders' line items
    * through the second FK, and the users' events. Publishes
    * (table, n_before, n_deleted, n_after) — the reconciliation
    * report an auditor signs off before the actual DELETE executes.
    *
    * Shapes: the request list BROADCASTS into every semi-join probe
    * (deletion batches are small against a corpus); the order-key
    * cascade is itself a key-list semi-join. Each table is scanned
    * once; counts are single aggregates.
    */
  def cascadeDeleteReport(customer: DataFrame, orders: DataFrame,
      lineitem: DataFrame, events: DataFrame, delKeys: DataFrame): DataFrame = {
    val spark = customer.sparkSession
    import spark.implicits._
    val keys = broadcast(delKeys.select(col("custkey")).distinct())
    val delOrders = broadcast(graft.CacheScope.autoRelease(
      orders.join(keys, orders("o_custkey") === keys("custkey"), "left_semi")
        .select(col("o_orderkey"))))
    def report(name: String, df: DataFrame, deleted: DataFrame): DataFrame = {
      val n = df.agg(count(lit(1)).as("__n"))
      val d = deleted.agg(count(lit(1)).as("__d"))
      n.crossJoin(d).select(lit(name).as("table_name"),
        col("__n").as("n_before"), col("__d").as("n_deleted"),
        (col("__n") - col("__d")).as("n_after"))
    }
    report("customer", customer,
        customer.join(keys, customer("c_custkey") === keys("custkey"), "left_semi"))
      .unionByName(report("orders", orders,
        orders.join(keys, orders("o_custkey") === keys("custkey"), "left_semi")))
      .unionByName(report("lineitem", lineitem,
        lineitem.join(delOrders,
          lineitem("l_orderkey") === delOrders("o_orderkey"), "left_semi")))
      .unionByName(report("events", events,
        events.join(keys, events("user_id") === keys("custkey"), "left_semi")))
  }

  /** RFM customer segmentation (Hughes 1994 — the standard marketing
    * quintile scheme): per customer, Recency (days since last order
    * vs the corpus anchor), Frequency (order count), Monetary
    * (decimal-exact spend, 4 dp), each scored 1..`nTiles` by
    * VALUE-level equi-depth buckets, concatenated into the segment
    * code. Scores are value-based (equal metric ⇒ equal score) —
    * deterministic without a per-row global sort: every window here
    * runs over the DISTINCT-value table ([[DataQualityOps.equiDepth]]
    * boundary construction: boundary_i = min v with cum ≥ ⌈i·N/n⌉,
    * score = 1 + #boundaries strictly below v). r_score 1 = most
    * recent (ascending days). One customer-keyed aggregate reduces
    * the corpus; everything after is customer- or value-sized, with
    * the boundary tables broadcast.
    */
  def rfmSegments(orders: DataFrame, nTiles: Int = 5): DataFrame = {
    val stats0 = orders.groupBy(col("o_custkey").as("cust"))
      .agg(max(col("o_orderdate").cast("date")).as("__last"),
        count(lit(1)).as("frequency"),
        // decimal-domain round, cast after (r8 divergence-#6 rule):
        // rounding the cast double ties at the 4th dp under hot-key sums
        round(sum(col("o_totalprice").cast("decimal(28,12)")), 4)
          .cast("double").as("monetary"))
    val st = graft.CacheScope.autoRelease(stats0
      .crossJoin(broadcast(
        orders.agg(max(col("o_orderdate").cast("date")).as("__anchor"))))
      .select(col("cust"),
        datediff(col("__anchor"), col("__last")).cast("long").as("recency_days"),
        col("frequency"), col("monetary")))
    val spark = orders.sparkSession
    import spark.implicits._
    // Per metric: the (nTiles−1)-row boundary table (value-sized
    // construction, unchanged), PIVOTED to one wide row so the score
    // becomes a MAP-SIDE expression 1 + Σᵢ [v > bᵢ] over the customer
    // table. The previous form fanned the corpus out ×(nTiles−1) per
    // metric, re-aggregated it by customer, and joined the three score
    // frames back on cust — 3 corpus fan-outs + 3 customer-keyed
    // exchanges + 3 joins doing what a projection against three
    // broadcast 1-row bound frames does (guide §2.3 "project before
    // the exchange" / §2.4 remove shuffles outright). Scores are
    // bit-identical: sum(when(v > b, 1)) over the boundary ROWS equals
    // the same indicator sum over the pivoted boundary COLUMNS.
    def boundsRow(metric: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val byv = st.groupBy(col(metric).as("v")).agg(count(lit(1)).as("n"))
      val w = Window.orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = byv.withColumn("cum", sum("n").over(w))
      val tot = st.agg(count(lit(1)).as("__nt"))
      val bounds = (1 until nTiles).toDF("i")
        .crossJoin(broadcast(tot)).crossJoin(cum)
        .groupBy("i")
        .agg(min(when(
          col("cum") >= expr(s"(i * __nt + ${nTiles - 1}) div $nTiles"),
          col("v"))).as("b"))
      val cols = (1 until nTiles)
        .map(i => min(when(col("i") === i, col("b"))).as(s"__${metric}_b$i"))
      bounds.agg(cols.head, cols.tail: _*)
    }
    def scoreExpr(metric: String): Column =
      (1 until nTiles)
        .map(i => when(col(metric) > col(s"__${metric}_b$i"), 1L).otherwise(0L))
        .foldLeft(lit(1L))(_ + _)
    st.crossJoin(broadcast(boundsRow("recency_days")))
      .crossJoin(broadcast(boundsRow("frequency")))
      .crossJoin(broadcast(boundsRow("monetary")))
      .select(col("cust").as("o_custkey"), col("recency_days"),
        col("frequency"), col("monetary"),
        scoreExpr("recency_days").as("r_score"),
        scoreExpr("frequency").as("f_score"),
        scoreExpr("monetary").as("m_score"),
        concat(scoreExpr("recency_days"), scoreExpr("frequency"),
          scoreExpr("monetary")).as("segment"))
  }

  /** Leave-one-out target encoding (Micci-Barreca 2001's mean encoding
    * with the self-leak removed): each row's categorical `key` becomes
    * the mean of `target` over all OTHER rows of the same category —
    * the standard high-cardinality-categorical feature transform, LOO
    * because encoding a row with a statistic that includes its own
    * label leaks the label into the feature.
    *
    * Arithmetic: per-category Σtarget is a DECIMAL(38,12) sum (order-
    * independent); loo = (Σ − own)/(n−1) subtracts the SAME decimal
    * cast the sum folded in, so the numerator is exactly the sum of
    * the other rows' casts; one double divide, published 6dp.
    * Singleton categories (n = 1) publish NULL — there is no "other
    * rows" mean.
    *
    * Plan shape: ONE key-keyed partial-combined aggregate + one
    * broadcast-back join (category cardinality ≪ corpus); no window
    * over the corpus. Output: input id/key/target + `loo`.
    */
  def targetEncodeLoo(df: DataFrame, idCol: Column, key: Column,
      target: Column, gridScale: Int = 2): DataFrame = {
    // target values live on a 10^-gridScale grid (the decMean cent
    // contract); summing at that scale keeps the LOO numerator an
    // exact integer after scaling, so the published 6-dp encoding is
    // decided by exact integer half-up (PlanUtils.ratioRound), not by
    // rounding an inexact double — the sf10 boundary-divergence class
    val dec = s"decimal(38,$gridScale)"
    val p = math.pow(10, gridScale).toLong
    val base = df.select(idCol.as("id"), key.as("k"),
      target.cast("double").as("t"))
    val agg = base.groupBy("k")
      .agg(sum(col("t").cast(dec)).as("s"), count(lit(1)).as("n"))
    base.join(broadcast(agg), Seq("k"))
      .select(col("id"), col("k"), col("t"),
        when(col("n") > 1L,
          graft.PlanUtils.ratioRound(
            (col("s") - col("t").cast(dec)) * lit(p),
            (col("n") - 1L) * lit(p), 6)).as("loo"))
  }

  /** Exact empirical quantile normalization on an integer value grid:
    * map each group's value distribution onto the POOLED distribution
    * (the cross-batch harmonization step for metrics whose scales
    * drift by source — the genomics-style quantile-normalize, per
    * group instead of per array). Each (group, value) maps to the
    * smallest pooled value whose ECDF reaches the group value's ECDF:
    *   map(g, v) = min { v′ : F_pool(v′) ≥ F_g(v) }.
    *
    * Exactness: both ECDFs are rational (cum/n); the comparison
    * cross-multiplies to exact integers — cum_pool(v′)·n_g ≥
    * cum_g(v)·n_pool — in DECIMAL(38,0) lanes (the products leave
    * int64 past ~3e9-row corpora), so the published map needs no float
    * discipline at all.
    *
    * Plan shape: corpus → ONE (group, value)-keyed partial-combined
    * aggregate; the pooled grid derives from the same table; the
    * mapping "join" is grid_g × grid_pool pairs per group — value-grid
    * squared, metric-sized, never the corpus. Output: one row per
    * (grp, v): n, the group and pooled cumulative counts, and `mapped`.
    */
  def quantileNormalize(df: DataFrame, group: Column, vGrid: Column): DataFrame = {
    val dec0 = "decimal(38,0)"
    // pinned: the (grp, v) grid feeds BOTH the group ECDF and the
    // pooled grid — unpinned, the corpus aggregates twice (bench: 2×
    // scan cost at sf0.1)
    val gv = graft.CacheScope.autoRelease(
      df.select(group.as("grp"), vGrid.cast("long").as("v"))
        .groupBy("grp", "v").agg(count(lit(1)).as("n")))
    val wG = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wGAll = Window.partitionBy("grp")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val grpT = gv
      .withColumn("cum_g", sum("n").over(wG))
      .withColumn("n_g", sum("n").over(wGAll))
    val pool = gv.groupBy("v").agg(sum("n").as("np"))
    val wP = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val poolT = pool
      .withColumn("cum_p", sum("np").over(wP))
      .select(col("v").as("vp"), col("np"), col("cum_p"))
    val npTot = gv.agg(sum("n").as("n_p"))
    // map(g, v) = min { v′ : F_pool(v′) ≥ F_g(v) } = the pooled value
    // whose cumulative interval (cum_p − np, cum_p] contains the exact
    // ceiling rank r = ⌈cum_g·n_p / n_g⌉. Computed as a SORTED MERGE,
    // not a join: the interval-containment form planned as a
    // BroadcastNestedLoopJoin that evaluated the range predicate
    // against EVERY pool row per grid point — grid × pool comparisons
    // (~5·10⁸ at sf0.1; the whole query's dominant cost, r13 bench
    // 6.3 s → the merge form's ~2 s). Here grid points (key r) and
    // pool boundaries (key cum_p) union into ONE ordered stream; a
    // running min of the pool value over the ≥-key suffix (descending
    // sort, pool rows first on ties so r = cum_p matches) yields the
    // first boundary ≥ r — exactly the covering interval, because the
    // pool intervals tile (0, n_p] contiguously and vp increases with
    // cum_p. One (grid+pool)-sized single-partition window — the same
    // metric-sized global-sort class as the pooled-ECDF window above —
    // replaces the quadratic loop; output rows are bit-identical.
    val a = col("cum_g").cast(dec0) * col("n_p") + col("n_g") - lit(1L)
    val r = ((a - pmod(a, col("n_g"))) / col("n_g")).cast(dec0)
    val grpType = gv.schema("grp").dataType
    val lhs = grpT.crossJoin(broadcast(npTot))
      .select(col("grp"), col("v"), col("n"), col("cum_g"), col("n_g"),
        r.as("__k"), lit(null).cast("long").as("__vp"),
        lit(false).as("__pool"))
    val rhs = poolT.select(lit(null).cast(grpType).as("grp"),
      lit(null).cast("long").as("v"), lit(null).cast("long").as("n"),
      lit(null).cast("long").as("cum_g"), lit(null).cast("long").as("n_g"),
      col("cum_p").cast(dec0).as("__k"), col("vp").as("__vp"),
      lit(true).as("__pool"))
    val wMap = Window.orderBy(col("__k").desc, col("__pool").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lhs.unionByName(rhs)
      .withColumn("mapped", min("__vp").over(wMap))
      .filter(!col("__pool"))
      .select(col("grp"), col("v"), col("n"), col("cum_g"), col("n_g"),
        col("mapped"))
  }
}
