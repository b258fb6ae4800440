package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Item–item collaborative filtering — the reference's recommender
  * (`Assignment 3/a3_p2.py`): support-filter the utility matrix,
  * mean-center per item, cosine similarity against target items,
  * neighbor-capped weighted-average predictions.
  *
  * The reference runs a DRIVER LOOP per query item with three collect
  * round-trips each (a3_p2.py:68-76, SURVEY.md §3.2). Here all targets
  * are answered by ONE declarative plan: the target vectors are a
  * (tiny) filtered slice of the centered matrix, so "similarity of
  * every item to every target" is an equi-join on user_id — Catalyst
  * broadcasts the target slice and nothing ever lands on the driver.
  * At 100 TB the wide ops are: the dedup exchange (item), the user
  * support window (user), the centering window (item), and the
  * dot-product join (user) — each keyed on a high-cardinality column.
  * Skew honesty: only the JOIN exchange is AQE-skew-splittable.
  * `WindowExec` has no map-side partial and AQE's skew handling covers
  * joins and aggregates, not window exchanges — so a hot key's FULL
  * partition frame (every rating of the hottest item / busiest user)
  * lands in one task. That tail is bounded: a row here is ~24 bytes,
  * per-item cardinality caps at the user count, and the agg+join-back
  * alternative shuffles the same rows on the same key (it moves the
  * count, not the skew) while costing a persist — measured worse in
  * round 4. On Zipfian popularity the straggler task IS the hottest
  * item; if that ever dominates, the escape hatch is IMPLEMENTED
  * behind [[Params.saltedSupport]]: two-level salted partial counts
  * (group by (item, hash(user) % salts) first, so no single task ever
  * receives a hot item's full vector, then combine the ≤ salts partials
  * per item) joined back onto the ratings — the join-back exchange IS
  * AQE-skew-splittable (or broadcast when the surviving key set is
  * small), unlike a window frame. It trades the window form's linear
  * lineage for bounded per-task input; default stays the window form,
  * which is faster whenever the head item fits a task. Both behaviors
  * pinned: CFOpsSpec ("window support chain under one dominant item"),
  * EdgeCasesSpec (salted form = window form bit-for-bit under an
  * 80%-hot key, with measured per-task shuffle reads bounded).
  * The support→center chain is one linear lineage
  * (window counts, no agg+join-back), so exactly ONE persist — the
  * centered matrix, which feeds five branches — pins the whole fact
  * chain to a single materialization.
  *
  * Numerics: dot products, norms and weighted sums accumulate via
  * exact DECIMAL sums (order-insensitive, engine-portable) — see
  * `decSum`. Division back to double afterwards.
  *
  * Spec deviations pinned deliberately (SURVEY.md §3.2): the reference
  * code ignores the spec's 50-neighbor cap (we implement it, param
  * `neighborCap`) and its "last rating" is partition-order-dependent
  * (we use the deterministic [[Ratings.deduped]]).
  */
object CFOps {

  /** Tuning knobs; defaults mirror the reference spec.
    *
    * `saltedSupport` switches the support/centering chain from
    * partition-frame windows (fastest; hot key = one task) to
    * two-level salted aggregates + join-back (bounded tasks under a
    * dominant key — the Zipf-head escape hatch; see object scaladoc).
    * `supportSalts` is the fan-out of the salted first level: a hot
    * item's rows cross the first exchange in `supportSalts` slices.
    *
    * WHEN to flip `saltedSupport`: the window form puts the ENTIRE
    * rating vector of the hottest item (and, second stage, the
    * hottest user) into one task's window frame. Flip the hatch when
    * the head key's row count approaches what one task comfortably
    * holds and sorts — roughly rows-per-task at your parallelism
    * (total rows / shuffle partitions; e.g. a 10^10-row corpus at
    * 2000 partitions → head item ≳ 5·10^6 rows says salt). Symptoms
    * in the window form: one straggler task per stage with shuffle-
    * read ≈ the head key's share, or sort spills on that task. Cost
    * of the hatch: ~1.6× wall on UNskewed data (bench: q_cf_sims
    * 2.45 s vs q_cf_sims_salted 4.04 s at sf0.1) for per-task shuffle
    * reads bounded by ~max(total/salts·P, second-level group count)
    * regardless of skew — EdgeCasesSpec measures both properties
    * under an 80%-hot key, and output is bit-identical by spec.
    *
    * MEASURED boundary (round 8, CfSkewScratch (git show
    * 1128979:src/test/scala/graft/CfSkewScratch.scala) on the Zipf-headed
    * zipf_sf1 corpus — hot item 5.7% of 6M ratings): the window form
    * stays ahead at every measurable scale (isolated support→center
    * stage 2.5 s vs 7.6 s salted at 512 partitions; even a 50%-viral
    * remap loses, 1.3 vs 3.4 s), because the upstream per-(user,item)
    * DEDUP bounds any item's frame by the USER COUNT — 150k rows at
    * sf1, milliseconds to sort. So on deduplicated ratings the flip
    * arithmetic runs on min(head-key rows, other-side cardinality):
    * the hatch pays off only when ≳ 10⁷ distinct users co-rate one
    * item (10⁹-user Zipf head, or a degenerate default-key column) —
    * insurance for that regime, not a general-skew win.
    */
  case class Params(
      minUsersPerItem: Long = 25,
      minItemsPerUser: Long = 5,
      neighborCap: Int = 50,
      minCommonUsers: Long = 2,
      saltedSupport: Boolean = false,
      supportSalts: Int = 16)

  /** Exact, order-insensitive sum of a double expression. */
  private def decSum(c: Column): Column =
    sum(c.cast("decimal(30,15)")).cast("double")

  /** Sequential support filters, as in the reference: items with
    * ≥ minUsersPerItem raters first, then users with ≥ minItemsPerUser
    * items among the surviving set (a3_p2.py:26,31).
    *
    * PRECONDITION: `ratings0` holds one row per (user, item) — the
    * [[Ratings.deduped]] contract. That makes `count(*)` over a window
    * equal to the spec's `count(DISTINCT …)`.
    *
    * Shape: each sequential filter is a partition-frame window count,
    * NOT an aggregate + join-back. The round-3 join-back form read the
    * ratings subtree three times (okItems build, okUsers probe, final
    * join probe), which forced a persist of the deduped ratings to pin
    * one materialization — and the cache write cost more than it saved
    * (round-4 profile at sf0.1: dropping it was −20%, windows −37%).
    * The window form is a single LINEAR lineage: no self-joins, no
    * duplicated subtree, nothing upstream to persist. Exchanges: zero
    * on item when the input already carries HashPartitioning(item_id)
    * ([[Ratings.dedupedByItem]]), then exactly one on user_id — both
    * keyed on high-cardinality columns. Skew caveat: window exchanges
    * are NOT AQE-skew-splittable (see the object scaladoc) — the
    * hottest item's whole rating vector is one task's frame. The
    * per-window within-partition sort touches only (user,item,rating)
    * rows that survived the previous filter.
    */
  def supportFiltered(ratings0: DataFrame, p: Params = Params()): DataFrame =
    if (!p.saltedSupport) {
      val wItem = Window.partitionBy("item_id")
      val wUser = Window.partitionBy("user_id")
      ratings0
        .withColumn("nu", count(lit(1)).over(wItem))
        .filter(col("nu") >= p.minUsersPerItem)
        .withColumn("ni", count(lit(1)).over(wUser))
        .filter(col("ni") >= p.minItemsPerUser)
        .select("user_id", "item_id", "rating")
    } else {
      // Escape-hatch form (object scaladoc): the same sequential
      // semantics with every exchange bounded under a dominant key.
      val okItems = saltedCount(ratings0, "item_id", "user_id", p.supportSalts)
        .filter(col("__n") >= p.minUsersPerItem).select("item_id")
      val afterItem = ratings0.join(okItems, "item_id")
      val okUsers = saltedCount(afterItem, "user_id", "item_id", p.supportSalts)
        .filter(col("__n") >= p.minItemsPerUser).select("user_id")
      afterItem.join(okUsers, "user_id")
        .select("user_id", "item_id", "rating")
    }

  /** Two-level salted count per `key`: level 1 groups by (key,
    * hash(saltFrom) % salts) so a hot key's rows cross the first
    * exchange in `salts` slices — no task ever materializes the full
    * hot-key group even if the planner dropped the map-side partial;
    * level 2 combines the ≤ `salts` partials per key. Output:
    * (key, __n).
    */
  private def saltedCount(df: DataFrame, key: String, saltFrom: String,
      salts: Int): DataFrame =
    df.groupBy(col(key), pmod(hash(col(saltFrom)), lit(salts)).as("__salt"))
      .agg(count(lit(1)).as("__pn"))
      .groupBy(col(key)).agg(sum(col("__pn")).as("__n"))

  /** Ratings mean-centered within item (a3_p2.py:42-43,70-71), again as
    * a partition-frame window so the support→center chain stays one
    * linear plan (see [[supportFiltered]]). The mean is exact and
    * order-insensitive: ratings are integers ≤ 5, so the double sum is
    * an exact integer for any group size < 2^50 — bit-identical to the
    * round-3 agg+join form and to the DuckDB oracle's avg().
    */
  def meanCentered(filtered: DataFrame, p: Params = Params()): DataFrame =
    if (!p.saltedSupport)
      filtered.withColumn("rc",
        col("rating") - avg("rating").over(Window.partitionBy("item_id")))
    else {
      // Salted two-level sum+count → mean, joined back: same bounded-
      // exchange argument as [[saltedCount]]. Integer ratings make both
      // the window avg and this sum/count mean exact, so the flag
      // changes the PLAN, never a bit of output (EdgeCasesSpec).
      val means = filtered
        .groupBy(col("item_id"),
          pmod(hash(col("user_id")), lit(p.supportSalts)).as("__salt"))
        .agg(sum(col("rating")).as("__ps"), count(lit(1)).as("__pn"))
        .groupBy(col("item_id"))
        .agg((sum(col("__ps")) / sum(col("__pn"))).as("__mean"))
      filtered.join(means, "item_id")
        .withColumn("rc", col("rating") - col("__mean"))
        .drop("__mean")
    }

  /** Cosine similarity of every item against each target item over the
    * mean-centered matrix: numerator on common users only, norms over
    * each item's FULL vector (a3_p2.py:44-48). Emits (t_item, item_id,
    * sim, n_common) for pairs with ≥ minCommonUsers and sim > 0.
    */
  def itemSimilarities(centered0: DataFrame, targets: Seq[Long],
      p: Params = Params()): DataFrame = graft.CacheScope.pinned { pins =>
    // `centered` feeds three branches (norms, target slice, dot join);
    // its lineage includes the dedup window + both support joins —
    // persist (query-scoped) so that chain runs once instead of three.
    val centered = pins(centered0)
    val norms = centered.groupBy("item_id")
      .agg(sqrt(decSum(col("rc") * col("rc"))).as("nrm"))
    val tvec = centered.filter(col("item_id").isin(targets: _*))
      .select(col("user_id"), col("item_id").as("t_item"), col("rc").as("t_rc"))
    val dots = centered.join(tvec,
        centered("user_id") === tvec("user_id") && centered("item_id") =!= tvec("t_item"))
      .groupBy(col("item_id"), col("t_item"))
      .agg(decSum(col("rc") * col("t_rc")).as("dot"), count(lit(1)).as("n_common"))
    dots.filter(col("n_common") >= p.minCommonUsers)
      .join(norms.withColumnRenamed("nrm", "nrm_i"), "item_id")
      .join(norms.select(col("item_id").as("t_item"), col("nrm").as("nrm_t")), "t_item")
      .filter(col("nrm_i") > 0 && col("nrm_t") > 0)
      .withColumn("sim", col("dot") / (col("nrm_i") * col("nrm_t")))
      .filter(col("sim") > 0)
      .select("t_item", "item_id", "sim", "n_common")
  }

  /** Top-`neighborCap` neighbors per target (spec's 50-neighbor rule;
    * deterministic tie-break on item id). Planned via the native
    * [[graft.plans.TopKPerKey]] operator — bounded per-key heaps with a
    * map-side partial, so the exchange carries ≤ cap rows per (target,
    * partition) and nothing is ever fully sorted (a `row_number` window
    * sorts EVERY similarity row per target).
    */
  def topNeighbors(sims: DataFrame, p: Params = Params()): DataFrame =
    graft.plans.TopKOps.topKPerKey(sims, Seq("t_item"),
      Seq(col("sim").desc, col("item_id").asc), p.neighborCap)

  /** End-to-end recommendation: predicted rating of each target item
    * for every user who rated ≥ minCommonUsers neighbor items.
    * Weighted average of RAW ratings by similarity (a3_p2.py:52-65);
    * users who already rated the target get their own rating back
    * (pass-through, a3_p2.py:54-55); non-positive predictions dropped.
    * Output: (t_item, user_id, pred).
    */
  def recommend(ratings: DataFrame, targets: Seq[Long],
      p: Params = Params()): DataFrame = {
    // `centered` keeps the RAW rating next to the centered one, so the
    // similarity branch, the neighbor-weighted candidate join and the
    // pass-through branch all read the ONE persisted frame (the persist
    // happens inside itemSimilarities; these references hit it through
    // CacheManager plan-matching) — no other materialization anywhere
    // in the pipeline.
    val centered = meanCentered(supportFiltered(ratings, p), p)
    val nbrs = topNeighbors(itemSimilarities(centered, targets, p), p)
      .select("t_item", "item_id", "sim")
    val cand = centered.join(nbrs, "item_id")
      .groupBy("user_id", "t_item")
      .agg((decSum(col("rating") * col("sim")) / decSum(col("sim"))).as("wavg"),
        count(lit(1)).as("n_nbrs"))
      .filter(col("n_nbrs") >= p.minCommonUsers)
    val own = centered.filter(col("item_id").isin(targets: _*))
      .select(col("user_id"), col("item_id").as("t_item"), col("rating").as("own_rating"))
    cand.join(own, Seq("user_id", "t_item"), "left")
      .withColumn("pred", coalesce(col("own_rating").cast("double"), col("wavg")))
      .filter(col("pred") > 0)
      .select("t_item", "user_id", "pred")
  }

  /** One ALS alternation (Hu, Koren & Volinsky 2008 — the inner step
    * of Spark MLlib's ALS training loop) at rank 2: item factors are
    * a deterministic arithmetic seed grid over item_id (exactly the
    * role of the random init in round 0 of real training), and each
    * user's factor vector solves the per-user RIDGE normal equations
    * (Σ fᵢfᵢᵀ + λI)·x = Σ rᵤᵢfᵢ in closed 2×2 form.
    *
    * Engine-exactness: factors are integer grids i/10, so every
    * accumulator is an EXACT int64 sum (Σi₁², Σi₁i₂, Σi₂², Σr·i₁,
    * Σr·i₂ — order-independent, overflow-safe to ~10⁹ ratings per
    * user); the double arithmetic (scale by 100/10, +λ, Cramer solve)
    * happens on identical inputs in both engines, so x is
    * bit-identical before the published 6-dp rounding. λ > 0 makes
    * the normal matrix positive-definite — single-item users solve
    * fine.
    *
    * Scale shape: factors DERIVE from item_id (no factor-table join
    * this round — production iterations would join the previous
    * round's materialized factors, an item-keyed shuffle); the only
    * wide op is ONE user-keyed hash aggregate with map-side partials;
    * the solve is a map-only projection. This is the same
    * "aggregate normal equations, solve tiny dense system per key"
    * SHAPE MLlib's ALS runs at cluster scale — note the
    * regularizer differs: MLlib defaults to ALS-WR weighted-lambda
    * (λ scaled by each user's rating count, Zhou et al. 2008) while
    * this solver adds plain λI (classic ridge).
    */
  def alsUserFactors(ratings: DataFrame, lambda: Double = 0.1): DataFrame = {
    require(lambda > 0, "ridge lambda must be > 0 (PD normal matrix)")
    val i1 = lit(10L) + pmod(col("item_id"), lit(7L))
    val i2 = lit(5L) + pmod(col("item_id"), lit(11L))
    val sums = ratings
      .select(col("user_id"), col("rating"), i1.as("__i1"), i2.as("__i2"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_items"),
        sum(col("__i1") * col("__i1")).as("__s11"),
        sum(col("__i1") * col("__i2")).as("__s12"),
        sum(col("__i2") * col("__i2")).as("__s22"),
        sum(col("rating") * col("__i1")).as("__t1"),
        sum(col("rating") * col("__i2")).as("__t2"))
    val a11 = col("__s11").cast("double") / 100.0 + lambda
    val a12 = col("__s12").cast("double") / 100.0
    val a22 = col("__s22").cast("double") / 100.0 + lambda
    val b1 = col("__t1").cast("double") / 10.0
    val b2 = col("__t2").cast("double") / 10.0
    val det = a11 * a22 - a12 * a12
    sums.select(col("user_id"), col("n_items"),
      (round((a22 * b1 - a12 * b2) / det, 6) + 0.0).as("x1"),
      (round((a11 * b2 - a12 * b1) / det, 6) + 0.0).as("x2"))
  }

  /** The ITEM half-step completing one full ALS alternation: given
    * the user factors from [[alsUserFactors]], each item's factor
    * vector solves (Σ_u xᵤxᵤᵀ + λI)·y = Σ_u rᵤᵢxᵤ over the users who
    * rated it — the same closed 2×2 ridge form, now accumulating
    * DOUBLE products (user factors), so the five sums are
    * DECIMAL(38,12) casts (order-independent; the published 6-dp
    * user factors are engine-identical inputs, making the products
    * deterministic too). Plan shape: ratings join user factors on
    * user_id (the real ALS iteration's factor join — user-keyed
    * exchange, broadcastable when the user table fits), then ONE
    * item-keyed aggregate + map-only Cramer solve.
    */
  def alsItemFactors(ratings: DataFrame, userFactors: DataFrame,
      lambda: Double = 0.1): DataFrame = {
    require(lambda > 0, "ridge lambda must be > 0 (PD normal matrix)")
    val dec = "decimal(38,12)"
    val j = ratings.select("user_id", "item_id", "rating")
      .join(userFactors.select("user_id", "x1", "x2"), "user_id")
    val sums = j.groupBy("item_id")
      .agg(count(lit(1)).as("n_users"),
        sum((col("x1") * col("x1")).cast(dec)).as("__s11"),
        sum((col("x1") * col("x2")).cast(dec)).as("__s12"),
        sum((col("x2") * col("x2")).cast(dec)).as("__s22"),
        sum((col("rating") * col("x1")).cast(dec)).as("__t1"),
        sum((col("rating") * col("x2")).cast(dec)).as("__t2"))
    val a11 = col("__s11").cast("double") + lambda
    val a12 = col("__s12").cast("double")
    val a22 = col("__s22").cast("double") + lambda
    val b1 = col("__t1").cast("double")
    val b2 = col("__t2").cast("double")
    val det = a11 * a22 - a12 * a12
    sums.select(col("item_id"), col("n_users"),
      (round((a22 * b1 - a12 * b2) / det, 6) + 0.0).as("y1"),
      (round((a11 * b2 - a12 * b1) / det, 6) + 0.0).as("y2"))
  }
}
