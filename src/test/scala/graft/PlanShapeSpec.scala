package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Physical-plan regression gates: each assertion pins a plan property
  * a refactor could silently lose while every value-level test stayed
  * green — the shape IS the 100 TB contract (a TakeOrdered that
  * becomes a global sort, or a projection that grows an Exchange, is a
  * scale regression long before it is a wrong answer).
  */
class PlanShapeSpec extends SparkSpec {

  private def planOf(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def planString(df: DataFrame): String = planOf(df).toString

  /** Shuffle count of the FINAL adaptive plan: the query is executed
    * first so AQE's runtime decisions (broadcast conversion, exchange
    * reuse) are what gets counted — the static plan pessimistically
    * carries sort-merge exchanges AQE will never run.
    */
  private def countShuffles(df: DataFrame): Int = {
    df.queryExecution.toRdd.count()
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case s: ShuffleExchangeExec => 1 + s.children.map(walk).sum
      case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => 0 // runs once
      case _ => p.children.map(walk).sum
    }
    walk(planOf(df))
  }

  test("shingling and banding are native kernels: no higher-order function in their plans") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import graft.operators.DedupOps
    // ArrayTransform & co. are CodegenFallback: one back in these
    // projections silently puts the near-dup hot path on interpreted eval
    def hofs(df: DataFrame): Seq[String] = df.queryExecution.analyzed.flatMap(
      _.expressions.flatMap(_.collect { case f: HigherOrderFunction => f.prettyName }))
    val docs = Tables.documents(spark, sf0)
    assert(hofs(docs.select(transform(split(col("text"), " "), s => s))).nonEmpty)
    val sigs = DedupOps.minhashSignatures(DedupOps.hashedShingled(docs, 3), 128, "hs")
    Seq(
      "shingled" -> DedupOps.shingled(docs, 3),
      "hashedShingled" -> DedupOps.hashedShingled(docs, 3),
      "lshBands" -> DedupOps.lshBands(sigs.select("doc_id", "sig"), 4, 32),
      "streamingNearDups" -> graft.streaming.StreamingOps.streamingNearDups(
        Tables.documentsStream(spark, sf0), docs)
    ).foreach { case (name, df) => assert(hofs(df).isEmpty, name) }
  }

  test("q_topk_words plans TakeOrderedAndProject, not a global sort") {
    val df = SparkEntry.queries("q_topk_words")(spark, sf0)
    assert(planString(df).contains("TakeOrderedAndProject"))
  }

  test("q_range_join_rule: no BroadcastNestedLoopJoin survives the rewrite") {
    // the driver-gated naive band join with the optimizer rule on must
    // plan as the bucketized EQUI-join — a surviving nested loop means
    // the rule silently stopped matching and the query regressed to
    // O(|events|·|windows|)
    val df = SparkEntry.queries("q_range_join_rule")(spark, sf0)
    val plan = planString(df)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("__graft_b"), plan) // the rule's bucket key joined on
  }

  test("q_star_join: dims broadcast, no cartesian product") {
    // the 6-way star must resolve to broadcast joins on the lookup side
    // — a CartesianProduct or a shuffle of every dim is the star-schema
    // anti-plan
    val df = SparkEntry.queries("q_star_join")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("uniformSampleExact plans TakeOrderedAndProject (partition-local top-k)") {
    val df = graft.operators.RelationalOps.uniformSampleExact(
      Tables.events(spark, sf0), col("event_id"), 100, "graft")
    assert(planString(df).contains("TakeOrderedAndProject"))
  }

  test("CF support→center chain is linear: no self-joins above the ratings build") {
    // The round-3 agg+join-back form read the ratings subtree three
    // times, forcing a persist to pin one materialization. The window
    // form must keep the ONLY join in the whole centered plan the
    // orders⋈lineitem build inside Ratings — a second join appearing
    // here means the linear lineage (and the no-upstream-persist
    // guarantee) regressed.
    val centered = graft.operators.CFOps.meanCentered(
      graft.operators.CFOps.supportFiltered(graft.operators.Ratings.deduped(spark, sf0)))
    val plan = planString(centered)
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(plan).size
    assert(joins == 1, s"expected exactly the ratings-build join, got $joins:\n$plan")
    assert(plan.contains("Window"), plan) // the linear form IS windows
  }

  test("salted CF support/centering plans with ZERO window operators") {
    // The escape hatch's whole point is that no WindowExec (whose hot
    // key would be a single unsplittable task frame) survives in the
    // plan — support counts and the centering mean become partial-
    // combined aggregates + joins. A Window reappearing here means the
    // hatch silently regressed to the form it exists to escape.
    val p = graft.operators.CFOps.Params(saltedSupport = true)
    val centered = graft.operators.CFOps.meanCentered(
      graft.operators.CFOps.supportFiltered(
        graft.operators.Ratings.deduped(spark, sf0), p), p)
    val plan = planString(centered)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial count")
      || plan.contains("HashAggregate"), plan)
    // operator paths may register query-scoped pins at BUILD time; this
    // test never runs an action, so an explicit clear keeps any lazy
    // (unmaterialized) cache entry from staying registered and plan-
    // matching the next test's identical ratings subtree (which would
    // hide that test's exchanges behind an InMemoryTableScan)
    spark.catalog.clearCache()
  }

  test("lshCodes is exchange-free above the scan (pure projection)") {
    // spread() is a no-op on multi-split input, so pre-partitioned
    // embeddings must code without ANY shuffle
    val emb = Tables.embeddings(spark, sf0).repartition(16)
      .select("vec_id", "embedding")
    val codes = graft.operators.SimilarityOps.lshCodes(emb)
    assert(countShuffles(codes) <= 1) // only the explicit repartition above
  }

  test("simhash is exchange-free above the scan (native kernel)") {
    val docs = Tables.documents(spark, sf0).repartition(16)
      .select("doc_id", "text")
    val sigs = graft.operators.DedupOps.simhash(docs)
    assert(countShuffles(sigs) <= 1) // only the explicit repartition above
  }

  test("dedupedByItem's support chain reuses one item partitioning (2 shuffles, not 3)") {
    // HashPartitioning(item_id) satisfies the (user, item) grouping AND
    // the item-support window, so only the explicit repartition and
    // the user-support window exchange remain
    val nByItem = countShuffles(graft.operators.CFOps.supportFiltered(
      graft.operators.Ratings.dedupedByItem(spark, sf0)))
    assert(nByItem <= 2, s"got $nByItem")
    val nPlain = countShuffles(graft.operators.CFOps.supportFiltered(
      graft.operators.Ratings.deduped(spark, sf0)))
    assert(nPlain >= 3, s"baseline got $nPlain") // what byItem improves on
  }

  test("hashBucketSample filter reaches the parquet scan (pushdown)") {
    val df = graft.operators.RelationalOps.hashBucketSample(
      Tables.events(spark, sf0), "user_id", 16, 3)
    // the deterministic bucket predicate must sit in the scan stage —
    // no exchange at all in a pure filter query
    assert(countShuffles(df) == 0)
  }

  test("funnel: exactly one event scan per step (linear lineage, not 2^k)") {
    // the round-5 lineage fix: per-step resolutions are persisted, so a
    // k-step funnel reads the event log exactly k times — the unfixed
    // fold re-derived earlier steps inside later ones (7 scans for 3
    // steps, 31 for 5). Count DISTINCT scan nodes: InMemoryTableScan
    // printouts repeat the cached plan, so dedupe by node id.
    val df = graft.operators.TemporalOps.funnel(Tables.events(spark, sf0),
      Seq("user_id"), "ts", "event_type", Seq("view", "click", "purchase"))
    df.queryExecution.toRdd.count()
    def scans(p: SparkPlan): Set[Int] = {
      val here: Set[Int] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec => Set(f.id)
        case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          scans(im.relation.cachedPlan)
        case _ => Set.empty
      }
      here ++ p.children.flatMap(scans)
    }
    val n = scans(planOf(df)).size
    assert(n == 3, s"expected 3 distinct event scans for a 3-step funnel, got $n")
  }

  test("editDistancePairs: no cartesian/nested-loop on the main branch") {
    // PASS-JOIN candidates must come from the segment equi-join; the
    // only nested loop allowed is the tiny-key short branch (absent on
    // this corpus: every prefix key is >= maxDist+1 chars)
    val df = graft.operators.DedupOps.editDistancePairs(
      Tables.documents(spark, sf0), maxDist = 3, keyLen = 16)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("cohortRetention: two corpus-keyed exchanges, sizes broadcast back") {
    val df = graft.operators.TemporalOps.cohortRetention(
      Tables.events(spark, sf0), "user_id", "ts", 7)
    // user-keyed first-period agg + distinct (user, period) + the tiny
    // (cohort, offset) agg; the cohort-size join must broadcast (no
    // fourth exchange for it)
    assert(countShuffles(df) <= 4, planString(df).take(2000))
    assert(planString(df).contains("BroadcastHashJoin"))
  }

  test("q_partition_prune: the lang filter prunes partitions at the scan") {
    val df = SparkEntry.queries("q_partition_prune")(spark, sf0)
    // the filter must be a PartitionFilters entry on the scan node —
    // a post-scan Filter over all partitions is the 100 TB anti-plan
    val scan = planString(df)
    assert(scan.contains("PartitionFilters") &&
      scan.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(lang"),
      scan.take(2000))
  }

  test("q_rfm: scores are map-side expressions — no equi-join anywhere") {
    // the three quintile scores ride pivoted 1-row bound frames through
    // broadcast cross joins; an equi-join appearing means the corpus
    // fan-out + per-customer re-aggregation + cust-keyed score joins
    // (3 of each, the pre-r13 shape) are back
    val df = SparkEntry.queries("q_rfm")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin").foreach(j =>
      assert(!plan.contains(j), s"$j in q_rfm plan:\n${plan.take(2000)}"))
    spark.catalog.clearCache()
  }

  test("scd2: one exchange — run detection and interval windows share it") {
    val df = graft.operators.TemporalOps.scd2(
      Tables.events(spark, sf0), Seq("user_id"), "ts", "event_id",
      "event_type")
    // both windows partition on user_id with the same (ts, event_id)
    // order; the filter in between preserves distribution and sort, so
    // a second Exchange (or Sort) appearing means the reuse broke
    assert(countShuffles(df) == 1, planString(df).take(2000))
  }

  test("q_profile: multi-distinct profiles in ONE scan via Expand") {
    val df = graft.operators.RelationalOps.profile(
      Tables.lineitem(spark, sf0),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    val plan = planString(df)
    // one Expand (the multi-count-distinct rewrite), one parquet scan
    assert(plan.contains("Expand"), plan.take(2000))
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan.take(2000))
  }

  test("intervalMerge: one exchange — both windows and the island agg share it") {
    val df = graft.operators.TemporalOps.intervalMerge(
      Tables.events(spark, sf0), Seq("user_id"), "event_id",
      unix_micros(col("ts")), unix_micros(col("ts")) + lit(1000000L))
    // the (user_id, island) aggregate clusters on a superset of the
    // window partition key: no second Exchange may appear
    assert(countShuffles(df) == 1, planString(df).take(2000))
  }

  test("snapshotDiff: one full-outer join, no exchange beyond its two sides") {
    val ord = Tables.orders(spark, sf0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val df = graft.operators.RelationalOps.snapshotDiff(
      ord.filter(col("o_orderkey") % 11 =!= 0),
      ord.filter(col("o_orderkey") % 13 =!= 0), Seq("o_orderkey"))
    val plan = planString(df)
    assert(countShuffles(df) <= 2, plan.take(2000))
    assert(plan.contains("FullOuter"), plan.take(2000))
  }

  test("q_merge_upsert: the change set broadcasts into a LeftAnti join (no shuffle merge)") {
    val df = SparkEntry.queries("q_merge_upsert")(spark, sf0)
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin LeftAnti") ||
      plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(2000))
  }

  test("q_unpivot: a pure Expand projection — no shuffle before the output sort") {
    val df = Tables.lineitem(spark, sf0)
      .filter(col("l_orderkey") % 97 === 0)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "metric", "value")
    assert(countShuffles(df) == 0, planString(df).take(2000))
    assert(planString(df).contains("Expand"), planString(df).take(2000))
  }

  // ---- round-7/8 surface: the hand-audited plan properties of the
  // most expensive bench queries, regression-guarded (VERDICT r7 §next-4)

  /** Execute (so AQE finalizes), then return the final plan string. */
  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf0)
    df.queryExecution.toRdd.count()
    val s = planString(df)
    spark.catalog.clearCache()
    s
  }

  private def scansOf(plan: String): Int =
    "InMemoryTableScan".r.findAllIn(plan).size

  test("q_simhash_pairs: banded signatures pinned (kernel runs once), equi-join only") {
    // the r7 audit found the Md5SimHash kernel evaluating on BOTH
    // self-join sides (11.4 → 4.9 s at sf1 after the pin): both sides
    // must scan the SAME in-memory table, and the candidate stage must
    // be a bucket equi-join, never a cartesian
    val plan = finalPlan("q_simhash_pairs")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(scansOf(plan) >= 2, s"expected both join sides on the pinned table:\n${plan.take(2000)}")
  }

  test("q_mm_phash: decoded-image table pinned (PNG decode runs once)") {
    // same pin class: a full PNG decode re-running per join side was
    // the 2.65 → 1.86 s audit finding
    val plan = finalPlan("q_mm_phash")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(scansOf(plan) >= 2, plan.take(2000))
  }

  test("q_cooccur: pair table pinned across its three consumers") {
    // 3 consumers re-ran the tokenize+explode before the pin
    // (3.95 → 2.22 s at sf1)
    val plan = finalPlan("q_cooccur")
    assert(scansOf(plan) >= 2, plan.take(2000))
  }

  test("q_grid_density: cell labels broadcast back to points, no cartesian") {
    // the un-hinted final join exchanged ALL points (r7 audit); the
    // label side is cell-table-sized and must broadcast
    val plan = finalPlan("q_grid_density")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q_roc_auc: the global window runs over the aggregated score table") {
    // the single-partition Window is metric-sized BY CONSTRUCTION: a
    // HashAggregate (the one score-keyed combine) must sit below it —
    // a Window over the raw corpus is the scale anti-plan
    val df = SparkEntry.queries("q_roc_auc")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    assert(plan.contains("Window"), plan.take(2000))
    assert(plan.contains("HashAggregate"), plan.take(2000))
    // corpus → distinct-score combine → window: the whole query fits
    // in a handful of exchanges (a window over raw rows would too, so
    // also pin the aggregate-below-window order in the tree string)
    val wIdx = plan.indexOf("Window")
    assert(plan.indexOf("HashAggregate", wIdx) > wIdx,
      s"no aggregate below the window:\n${plan.take(2000)}")
    spark.catalog.clearCache()
  }

  test("q_pr_auc: the descending window runs over the aggregated score table") {
    val df = SparkEntry.queries("q_pr_auc")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    val wIdx = plan.indexOf("Window")
    assert(wIdx >= 0 && plan.indexOf("HashAggregate", wIdx) > wIdx,
      s"no aggregate below the window:\n${plan.take(2000)}")
    spark.catalog.clearCache()
  }

  test("q_dsir: fit tables broadcast back, selection is top-k not global sort") {
    val df = SparkEntry.queries("q_dsir")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    spark.catalog.clearCache()
  }

  test("q_semdedup: within-cluster pairs are an equi-join, never corpus²") {
    val plan = finalPlan("q_semdedup")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("q_kneser_ney: c2 pinned across its four consumers; top-k not global sort") {
    // the bigram count table feeds the follower/history aggregate, the
    // predecessor aggregate, the type total AND the scoring join — an
    // unpinned c2 re-runs tokenize+explode four times
    val plan = finalPlan("q_kneser_ney")
    assert(scansOf(plan) >= 3, plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q_chi2_terms: one corpus aggregate, totals broadcast, top-k bounded") {
    val plan = finalPlan("q_chi2_terms")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q_silhouette: scoring is map-only — centroids are literals, no join") {
    // the Lloyd fit collects k×dims to the driver; the scoring pass
    // must embed centroids as literals — ANY join/exchange beyond the
    // single k-row aggregate means the fit table leaked into the plan
    val plan = finalPlan("q_silhouette")
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("q_mannwhitney: the rank window runs over the aggregated value table") {
    // same contract as q_roc_auc: the single-partition cumulative
    // window must sit ABOVE the value-keyed combine (distinct-value-
    // sized input), never over the raw corpus
    val df = SparkEntry.queries("q_mannwhitney")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    val wIdx = plan.indexOf("Window")
    assert(wIdx >= 0 && plan.indexOf("HashAggregate", wIdx) > wIdx,
      s"no aggregate below the window:\n${plan.take(2000)}")
    spark.catalog.clearCache()
  }

  test("q_isotonic: the m² interval table sits above the score-keyed combine") {
    // the minimax dataflow must reduce the corpus FIRST: a
    // HashAggregate below the pair join/windows. A join of raw corpus
    // rows against raw corpus rows is the scale anti-plan.
    val df = SparkEntry.queries("q_isotonic")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    val jIdx = math.max(plan.indexOf("SortMergeJoin"),
      plan.indexOf("BroadcastHashJoin") max plan.indexOf("BroadcastNestedLoopJoin"))
    assert(jIdx >= 0, plan.take(2000))
    assert(plan.indexOf("HashAggregate", jIdx) > jIdx,
      s"no aggregate below the interval join:\n${plan.take(2000)}")
    spark.catalog.clearCache()
  }

  test("q_cusum: one (grp, day)-keyed aggregate below the per-group windows") {
    val df = SparkEntry.queries("q_cusum")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    val wIdx = plan.indexOf("Window")
    assert(wIdx >= 0 && plan.indexOf("HashAggregate", wIdx) > wIdx,
      s"no aggregate below the window:\n${plan.take(2000)}")
    // the whole-corpus totals ride a broadcast join back to the day
    // grid, not a second corpus exchange
    assert(plan.contains("BroadcastHashJoin")
      || plan.contains("BroadcastExchange"), plan.take(2000))
    spark.catalog.clearCache()
  }

  test("q_quantile_norm: ECDF mapping is a sorted merge, never grid×pool") {
    // the rank→pooled-boundary mapping must run as the union + running-
    // min window (one (grid+pool)-sized pass): an inequality
    // BroadcastNestedLoopJoin here evaluates the range predicate
    // against EVERY pool row per grid point — grid×pool comparisons,
    // the r12 bench's dominant cost for this query. The only BNLJ
    // allowed is the condition-free 1-row npTot cross broadcast.
    val df = SparkEntry.queries("q_quantile_norm")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    assert(!plan.contains("BroadcastNestedLoopJoin Inner"),
      s"quadratic inequality mapping join is back:\n${plan.take(2000)}")
    assert(plan.contains("min(__vp"),
      s"running-min merge window missing:\n${plan.take(2000)}")
    spark.catalog.clearCache()
  }

  test("q_mrl_recall: query sides broadcast in both ranking passes") {
    // bruteForceTopK's contract twice over: the corpus scans stream,
    // the bounded query sets broadcast — no corpus×corpus product
    val df = SparkEntry.queries("q_mrl_recall")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    spark.catalog.clearCache()
  }

  test("q_seq_patterns: position index + level resolutions pinned, no pattern-keyed cartesian") {
    // the pos-index window table feeds p1 and both level probes, and
    // p1/p2 each feed a support count plus the next level — unpinned,
    // each level re-runs the whole chain (the funnel 2^k lesson). The
    // only nested-loop joins are the 1-row active-key total crosses.
    val plan = finalPlan("q_seq_patterns")
    assert(scansOf(plan) >= 5, plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q_cuped: one corpus scan reduced by the unit aggregate, pooled moments broadcast") {
    // the per-unit (x, y) table is pinned (arm aggregate + pooled-
    // moment aggregate both read it) and the 1-row moment table rides
    // a broadcast cross — nothing after the first aggregate exceeds
    // unit cardinality
    // (plan.toString repeats the cached subtree's inner parquet scan
    // per consumer, so the single-scan property is pinned via the
    // InMemoryTableScan count, not a raw "Scan parquet" count)
    val plan = finalPlan("q_cuped")
    assert(scansOf(plan) >= 2, plan.take(2000))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("q_jaro_winkler: blocked linkage is an equi-join, never a cartesian") {
    // the (firstChar, lengthBand) blocking must reach the join as an
    // EQUI key (the s1 < s2 ordering rides along as a filter) — a
    // CartesianProduct/NestedLoop here is the all-pairs O(V²) linkage
    // the blocking exists to prevent
    val plan = finalPlan("q_jaro_winkler")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("NestedLoop"), plan.take(2000))
  }

  test("q_acf: one corpus-keyed aggregate below a partitioned window; totals broadcast") {
    // the corpus is reduced to (grp, day) by the FIRST aggregate; the
    // 7-lag window must be per-group (a global single-partition window
    // would serialize the series concat) and the per-group totals ride
    // a broadcast join back onto the lag pairs
    val df = SparkEntry.queries("q_acf")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // partitioned window: the Window spec carries the grp partition key
    assert(plan.contains("windowspecdefinition(grp"), plan.take(2000))
  }

  test("q_trend_robust: daily table pinned above its three consumers; no cartesian") {
    // the corpus reduces to (grp, day) ONCE (cache feeds the pair
    // self-join, the tie counts and the day counts); everything
    // downstream is day-span²-sized per group
    val plan = finalPlan("q_trend_robust")
    assert(scansOf(plan) >= 3, plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q_ams_f2: 48 sketch counters ride ONE aggregate — no Expand, no per-key pass for the sketch") {
    // the sketch side must stay a single partial-combined aggregate
    // (the whole point vs exact distinct's Expand); the only Expand-
    // free second pass is the exact-F2 certifier's key-keyed aggregate
    val df = SparkEntry.queries("q_ams_f2")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    assert(!plan.contains("Expand"), plan.take(2000))
    val shuffles = countShuffles(df)
    // sketch agg (1) + exact key agg (1) + its final single-row agg
    assert(shuffles <= 3, s"$shuffles shuffles\n${plan.take(2000)}")
  }

  test("q_perm_test: unit table pinned; the 63-fold explode sits ABOVE the corpus aggregate") {
    // the replicate fan-out must multiply the UNIT table, never the
    // corpus: the only corpus-sized exchange is the (grp, unit)
    // combine, whose cache feeds both the observed arms and the
    // replicate explode
    val plan = finalPlan("q_perm_test")
    assert(scansOf(plan) >= 2, plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q_logrank: one lifetime aggregate below the at-risk windows; 1-row joins broadcast") {
    val df = SparkEntry.queries("q_logrank")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    // the per-unit lifetime reduction is the only corpus-keyed pass;
    // the horizon and totals ride broadcast crosses
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q_poisson_boot: unit table pinned; replicate fan-out above the corpus aggregate") {
    // same contract as q_perm_test: the (grp, unit) combine is the
    // only corpus-sized exchange; its cache feeds the observed means
    // AND the 63-replicate explode
    val plan = finalPlan("q_poisson_boot")
    assert(scansOf(plan) >= 2, plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q_isotropy: component table pinned above the dim and label combines") {
    val plan = finalPlan("q_isotropy")
    assert(scansOf(plan) >= 2, plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("q_cmh: one stratum-keyed combine, then stratum-count-sized — no join, no cartesian") {
    // the 4-counter stratum combine is the ONLY corpus-sized exchange;
    // everything above it (E/V/OR terms, the single-row totals) is
    // strata-sized. A third exchange or any join means a term left the
    // combined table
    val df = SparkEntry.queries("q_cmh")(spark, sf0)
    val shuffles = countShuffles(df)
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("Join"), s"q_cmh should be join-free:\n${plan.take(2000)}")
    // stratum agg exchange + single-partition totals exchange
    assert(shuffles <= 2, s"$shuffles shuffles\n${plan.take(2000)}")
  }

  test("q_hill: the rank window runs over the (grp, key) combine, never the raw corpus") {
    // order statistics need a per-group rank, but its input must be
    // the key-cardinality count table (one corpus combine below the
    // window); the ref join is grp-keyed, never a cartesian
    val df = SparkEntry.queries("q_hill")(spark, sf0)
    df.queryExecution.toRdd.count()
    val plan = planString(df)
    val wIdx = plan.indexOf("Window")
    assert(wIdx >= 0 && plan.indexOf("HashAggregate", wIdx) > wIdx,
      s"no aggregate below the rank window:\n${plan.take(2000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    spark.catalog.clearCache()
  }

  test("q_rake: the published table is the bounded driver-side cell fit — a local relation") {
    // rakeWeights reduces the corpus to the margin-cardinality² cell
    // table (ONE combine, collected bounded — the stationary-
    // distribution precedent) and iterates in BigInt driver-side; the
    // RETURNED plan must therefore be a shuffle-free local scan. An
    // exchange here means the IPF rounds moved onto the cluster path
    // and the gate's exact-replay contract broke
    val df = SparkEntry.queries("q_rake")(spark, sf0)
    val shuffles = countShuffles(df)
    val plan = planString(df)
    assert(plan.contains("LocalTableScan"), plan.take(2000))
    // the only exchange is the cells-sized output sort — a hash
    // exchange would mean a cluster-side aggregate/join appeared
    assert(shuffles <= 1, s"$shuffles shuffles\n${plan.take(2000)}")
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
  }

  test("q_dpo: read-back scans the partitioned layout and aggregates — one exchange, no join") {
    // the gate's value is the WRITE (dynamic partition overwrite); the
    // returned read-back must stay a partition-pruned-capable parquet
    // scan + month-keyed aggregate: o_month arrives as a partition
    // column (absent from ReadSchema), and the only exchange is the
    // group-by
    val df = SparkEntry.queries("q_dpo")(spark, sf0)
    val shuffles = countShuffles(df)
    val plan = planString(df)
    assert(plan.contains("FileScan parquet"), plan.take(2000))
    assert(!plan.matches("(?s).*ReadSchema:[^\\n]*o_month.*"),
      s"o_month must be a partition column, not a data column:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), plan.take(2000))
    // month-keyed aggregate + month-count-sized output sort
    assert(shuffles <= 2, s"$shuffles shuffles\n${plan.take(2000)}")
  }

  test("q_wilson: part dim broadcast; corpus shuffled once (agg) plus the output sort") {
    val df = SparkEntry.queries("q_wilson")(spark, sf0)
    val shuffles = countShuffles(df)
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // partial+final brand aggregate (1 exchange) + the 25-row output
    // sort (1 range exchange) — a third exchange means the dim join
    // stopped broadcasting
    assert(shuffles <= 2, s"$shuffles shuffles\n${plan.take(2000)}")
  }

  /** Executed node sequence (AQE-resolved) — the shape-identity probe
    * shared by the adaptive-chooser pins: a data-chosen parameter must
    * only pick a CONSTANT, never mutate the plan shape.
    */
  private def execShape(df: DataFrame): Seq[String] = {
    // fullEval, not raw toRdd.count(): the raw action never fires
    // autoRelease listeners (CacheScope contract), so each pin run
    // would leak its persisted blocks + listeners into the rest of
    // the suite (NOTES.md documents cache-block pressure flipping
    // AQE broadcast sides in shape pins)
    graft.CacheScope.fullEval(df)
    def walk(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case _ => p.getClass.getSimpleName +: p.children.flatMap(walk)
    }
    walk(planOf(df))
  }

  test("q_jaro_winkler: census rungs are one-row aggregates; chosen-prefix join shape-identical to fixed-prefix") {
    // (a) each adaptiveJaroPrefix rung collects exactly ONE row from a
    // bounded aggregate chain (distinct → block group-by → global
    // count-sum: ≤ 3 exchanges, vocabulary-sized throughout) — probed
    // on a corpus larger than the gate's so a corpus-sized pre-pass
    // can't hide behind small inputs
    val big = spark.range(5000)
      .select(concat(lit("w"), col("id")).as("s"))
    val census = graft.operators.DedupOps.jaroCensusPlan(big, "s", 1, 2)
    assert(census.count() === 1L)
    assert(countShuffles(census) <= 3, planString(census).take(2000))
    // (b) the driver corpus keeps rung 2 — oracle equality depends on it
    val toks = Tables.documents(spark, sf0).select(explode(
      expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("s"))
    val strs = toks.unionByName(
      Tables.part(spark, sf0).select(col("p_name").as("s")))
    assert(graft.operators.DedupOps.adaptiveJaroPrefix(strs) === 2)
    // (c) the census-chosen gate executes operator-for-operator the
    // fixed-prefix plan — the two census pre-jobs run and finish
    // BEFORE the linkage plan is built, so a census change that leaked
    // a corpus-sized stage into the join pipeline breaks this pin
    val auto = execShape(SparkEntry.queries("q_jaro_winkler")(spark, sf0))
    val fixed = execShape(
      graft.operators.DedupOps.jaroLinkage(strs, "s", 0.90, 1, prefixLen = 2)
        .orderBy(desc("jw"), col("s1"), col("s2")))
    assert(auto === fixed,
      s"census path diverged from fixed-prefix shape:\nauto:  $auto\nfixed: $fixed")
  }

  test("q_semdedup: census rungs are one-row pair-count collects; chosen-k tail shape-identical to fixed-k") {
    // (a) a census rung's only driver-bound row is the pair-count
    // aggregate over a kmeansAssign fit — one row, and the fit's own
    // driver state is the k × dims centroid matrix (lloyd collects)
    val emb = Tables.embeddings(spark, sf0)
    val asg = graft.operators.ClusterOps.kmeansAssign(
      emb, "vec_id", "embedding", dims = 8, k = 4, iters = 2)
    val censusRow = asg.groupBy("cluster").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).as("pairs"))
    assert(censusRow.count() === 1L)
    // (b) the adaptive gate's tail executes the SAME node sequence as
    // the fixed-k operator at the driver-chosen rung (k=4): the census
    // only picks the constant k, the within-cluster pipeline is shared
    val adaptive = execShape(SparkEntry.queries("q_semdedup")(spark, sf0))
    val fixed = execShape(
      graft.operators.SimilarityOps.semDedupAdaptive(emb, dims = 8,
          iters = 2, tau = 0.4, maxPairs = Long.MaxValue,
          ladder = Seq(4, 8))
        .orderBy(col("cluster"), col("vec_id").asc_nulls_last,
          col("dup_of").asc_nulls_last))
    assert(adaptive === fixed,
      s"adaptive tail diverged:\nadaptive: $adaptive\nfixed: $fixed")
  }

  test("q_neardup_auto: chooser sample is plan-bounded; band join shape-identical to q_neardup_minhash") {
    // The gate's load-bearing property: chooseBanding decides (r, b)
    // from a BOUNDED 2048-doc sample (driver state ≤ sample × sigLen
    // longs by plan construction), then the banding join it feeds is
    // shape-identical to q_neardup_minhash's. A chooser change that
    // silently adds a corpus-sized pre-pass, or a chooser decision that
    // mutates the join shape, breaks this pin before it breaks a value.
    val docs = Tables.documents(spark, sf0)
    // (a) the only thing the chooser collects flows through one global
    // limit at the sample size — no corpus-sized driver state. Probed on
    // a corpus LARGER than the sample (at sf0's 500 docs the bound is
    // vacuous), and as a row-count bound rather than a plan-string match:
    // the shingle stage sits behind PlanUtils.spread's deliberate
    // RDD optimizer barrier, so the limit is real but invisible to the
    // downstream physical plan string.
    val big = spark.range(5000).select(col("id").as("doc_id"),
      concat(lit("w "), col("id"), lit(" x y")).as("text"))
    val collected = graft.operators.DedupOps.bandingSamplePlan(big).count()
    assert(collected <= 2048, s"chooser sample grew corpus-sized: $collected rows")
    // (b) on the driver corpus the chooser keeps the default rung —
    // equality with q_neardup_minhash's oracle depends on this
    assert(graft.operators.DedupOps.chooseBanding(docs) === (4, 32))
    // (c) the executed band-join pipeline is operator-for-operator the
    // shape q_neardup_minhash runs: same node sequence, same exchanges
    def shape(df: DataFrame): Seq[String] = {
      // fullEval, not raw toRdd.count(): the raw action never fires
      // autoRelease listeners (CacheScope contract), so each pin run
      // would leak its persisted blocks + listeners into the rest of
      // the suite
      graft.CacheScope.fullEval(df)
      def walk(p: SparkPlan): Seq[String] = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        // AQE picks a BHJ's build side from runtime stage sizes; when
        // both sides fit, the choice can flip run-to-run (whichever
        // stage lands first). Canonicalize the children order so the
        // pin compares operator SHAPE, not that scheduling race.
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          b.getClass.getSimpleName +:
            b.children.map(walk).sortBy(_.mkString(",")).flatten
        case _ => p.getClass.getSimpleName +: p.children.flatMap(walk)
      }
      val out = walk(planOf(df))
      // scoped-cache release is ASYNC (listener bus): if the first
      // pin's cache entry is still registered when the second query
      // persists the same-result subtree, the second reuses the first's
      // MATERIALIZED InMemoryRelation (actual-size stats) instead of a
      // fresh one (estimates) and AQE can flip a broadcast build side —
      // a timing artifact, not a plan difference. clearCache() between
      // the two evals (the Bench belt-and-braces discipline) makes both
      // pins plan against the same fresh cache state.
      df.sparkSession.catalog.clearCache()
      out
    }
    // each compared query is built only after every release queued by
    // earlier actions has run: Spark's unpersist matches cache entries by
    // sameResult, so a late release could drop (or leave) the other
    // query's same-result pin mid-build
    awaitListenerBus()
    val auto = shape(SparkEntry.queries("q_neardup_auto")(spark, sf0))
    awaitListenerBus()
    val fixed = shape(SparkEntry.queries("q_neardup_minhash")(spark, sf0))
    assert(auto === fixed,
      s"auto plan shape diverged from q_neardup_minhash:\nauto:  $auto\nfixed: $fixed")
  }
}
