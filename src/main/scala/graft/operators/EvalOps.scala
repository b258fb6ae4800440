package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-evaluation and distribution-monitoring operators — the
  * measurement half of a curation pipeline. Training a quality /
  * language / curation classifier (RegressionOps.logisticGd,
  * TextOps.naiveBayes) is only useful if the pipeline can also GRADE
  * it at corpus scale: ROC/AUC for threshold-free ranking quality,
  * calibration + ECE for "is the score a probability", NDCG for the
  * retrieval rankers (SimilarityOps.rrfFuse), and PSI drift for the
  * ongoing monitoring of every scored snapshot against a reference.
  *
  * Scale shape (shared by the whole family): one map-side-combined
  * aggregate keyed by a BOUNDED key (distinct score value, bin id,
  * query id) reduces the corpus to a metric-sized table; every window
  * and total after that runs over that tiny table, never the corpus.
  * The per-row scoring pass is scan-local. Nothing here holds
  * corpus-sized driver state.
  *
  * Determinism (the oracle contract): counts stay integer as long as
  * possible; every published rate is ONE IEEE division of exact
  * integers (correctly rounded on any engine) rounded to a fixed
  * scale; ln/log terms are rounded to 9 dp before the decimal-exact
  * sum (the repo-wide portable-transcendental pattern).
  */
object EvalOps {

  /** Exact ROC curve + tie-aware AUC for an integer-valued score
    * against a binary label — the Mann–Whitney rank-sum identity:
    * AUC = (S − P(P+1)/2) / (P·N) with S = Σ over positives of their
    * mid-rank (ties get the average rank). All rank arithmetic is
    * carried DOUBLED so it stays BIGINT-exact:
    * 2S = Σ_s npos_s · (2·cnt_lt_s + n_s + 1).
    *
    * Output: one row per distinct score (the threshold "predict
    * positive when score ≥ s"), with exact cumulative tp/fp counts,
    * tpr/fpr (one exact-integer IEEE division, 9 dp), and the global
    * `auc` repeated on every row (broadcast of a 1-row metric).
    *
    * Scale: the corpus reduces via ONE score-keyed partial-combined
    * aggregate; the cumulative windows and the AUC total run over the
    * distinct-score table only (bounded — integer scores), so the
    * single-partition window is metric-sized, never corpus-sized.
    */
  def rocAuc(scored: DataFrame, score: Column, label: Column): DataFrame = {
    val byScore = scored
      .select(score.cast("long").as("score"), label.cast("long").as("y"))
      .groupBy("score")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
    val asc = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val desc = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byScore
      .withColumn("cum_le", sum("n").over(asc))
      .withColumn("cum_tp", sum("n_pos").over(desc))
      .withColumn("cum_fp", sum(col("n") - col("n_pos")).over(desc))
      // 2 × Σ mid-ranks of this score's positives (BIGINT-exact)
      .withColumn("s2_part",
        col("n_pos") * (lit(2L) * (col("cum_le") - col("n")) + col("n") + lit(1L)))
    val totals = ranked.agg(
      sum("n_pos").as("p_tot"),
      sum(col("n") - col("n_pos")).as("n_tot"),
      sum("s2_part").as("s2"))
      .withColumn("auc",
        round((col("s2") - col("p_tot") * (col("p_tot") + lit(1L))).cast("double") /
          (lit(2L) * col("p_tot") * col("n_tot")).cast("double"), 9))
    ranked.crossJoin(broadcast(totals.select("p_tot", "n_tot", "auc")))
      .select(col("score"), col("n"), col("n_pos"), col("cum_tp"), col("cum_fp"),
        round(col("cum_tp").cast("double") / col("p_tot").cast("double"), 9).as("tpr"),
        round(col("cum_fp").cast("double") / col("n_tot").cast("double"), 9).as("fpr"),
        col("auc"))
  }

  /** Precision–recall curve + average precision (step interpolation —
    * the `average_precision_score` definition: AP = Σ_k ΔR_k·P_k over
    * distinct-score blocks walked from the highest threshold down;
    * Zhu 2004 "Recall, precision and average precision"). PR is the
    * metric of record for the IMBALANCED gates a curation pipeline
    * actually runs — near-dup flags, contamination flags, quality
    * filters at low positive rates — where ROC-AUC saturates (a
    * ranker that finds 1-in-10⁴ contamination at precision 0.1 moves
    * ROC-AUC by ~nothing and AP by everything).
    *
    * Same scale shape as [[rocAuc]]: ONE score-keyed partial-combined
    * aggregate reduces the corpus; the descending window and the AP
    * total run over the distinct-score table only. Portability: tp/fp
    * exact BIGINT; each precision and each AP term (ΔR_k·P_k =
    * n_pos_k·tp_k / (P·(tp_k+fp_k)) — the 1/P factored out) is one
    * IEEE division of exact ints rounded 9 dp; AP = decimal sum of
    * terms / P, published 6 dp.
    */
  def prAuc(scored: DataFrame, score: Column, label: Column): DataFrame = {
    val dec = "decimal(38,12)"
    val byScore = scored
      .select(score.cast("long").as("score"), label.cast("long").as("y"))
      .groupBy("score")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
    val desc = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byScore
      .withColumn("cum_tp", sum("n_pos").over(desc))
      .withColumn("cum_fp", sum(col("n") - col("n_pos")).over(desc))
      .withColumn("term", round(
        (col("n_pos") * col("cum_tp")).cast("double") /
          (col("cum_tp") + col("cum_fp")).cast("double"), 9))
    val totals = ranked.agg(
        sum("n_pos").as("p_tot"),
        sum(col("term").cast(dec)).cast("double").as("term_sum"))
      .withColumn("ap",
        round(col("term_sum") / col("p_tot").cast("double"), 6))
    ranked.crossJoin(broadcast(totals.select("p_tot", "ap")))
      .select(col("score"), col("n"), col("n_pos"), col("cum_tp"), col("cum_fp"),
        round(col("cum_tp").cast("double")
          / (col("cum_tp") + col("cum_fp")).cast("double"), 9).as("precision"),
        round(col("cum_tp").cast("double") / col("p_tot").cast("double"), 9).as("recall"),
        col("ap"))
  }

  /** Per-slice ROC AUC — [[rocAuc]] partitioned by a slice key (the
    * "sliced eval" every responsible model report needs: a global AUC
    * hides regressions inside languages/sources/domains). Same
    * BIGINT mid-rank arithmetic per slice; every window partitions BY
    * SLICE, so nothing is metric-global. Slices with no positives or
    * no negatives publish a null `auc` (undefined, not 0.5). Output:
    * one row per slice.
    */
  def rocAucBySlice(scored: DataFrame, slice: Column, score: Column,
      label: Column): DataFrame = {
    val byScore = scored
      .select(slice.as("slice"), score.cast("long").as("score"),
        label.cast("long").as("y"))
      .groupBy("slice", "score")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
    val asc = Window.partitionBy("slice").orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byScore
      .withColumn("cum_le", sum("n").over(asc))
      .withColumn("s2_part",
        col("n_pos") * (lit(2L) * (col("cum_le") - col("n")) + col("n") + lit(1L)))
    ranked.groupBy("slice")
      .agg(sum("n").as("n_rows"),
        sum("n_pos").as("p_tot"),
        sum(col("n") - col("n_pos")).as("n_tot"),
        sum("s2_part").as("s2"),
        count(lit(1)).as("n_scores"))
      .withColumn("auc",
        when(col("p_tot") > 0 && col("n_tot") > 0,
          round((col("s2") - col("p_tot") * (col("p_tot") + lit(1L))).cast("double") /
            (lit(2L) * col("p_tot") * col("n_tot")).cast("double"), 9)))
      .select("slice", "n_rows", "p_tot", "n_tot", "n_scores", "auc")
  }

  /** Split-conformal outlier calibration (Vovk's inductive conformal,
    * one-class form): the calibration split fixes, per miscoverage
    * level α, the ⌈(1−α)(n_cal+1)⌉-th smallest nonconformity score as
    * the threshold; eval points strictly above it are flagged. Under
    * exchangeability the flag rate is ≤ α plus the finite-sample term
    * 1/(n_cal+1) — the published `bound`, checked empirically on the
    * eval split (`valid`). All rank arithmetic on integer scores is
    * BIGINT-exact; rates are single IEEE divisions.
    *
    * Scale: the calibration side reduces to a distinct-score table
    * (ROC machinery — one bounded-key aggregate + one metric-sized
    * cumulative window); thresholds derive per α from that table, and
    * the eval side needs one broadcast-threshold scan. No sort of the
    * corpus, no per-row driver state.
    */
  def conformalOutliers(calib: DataFrame, eval_ : DataFrame, score: Column,
      alphas: Seq[Double]): DataFrame = {
    val spark = calib.sparkSession
    import spark.implicits._
    val byScore = calib.select(score.cast("long").as("score"))
      .groupBy("score").agg(count(lit(1)).as("n"))
    val asc = Window.orderBy("score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byScore.withColumn("cum_le", sum("n").over(asc))
    val nCal = cum.agg(sum("n").as("n_calib"))
    // r = ⌈(1−α)(n+1)⌉ in pure BIGINT arithmetic on a milli-α grid —
    // a double ceil() flips at exact-integer boundaries (0.9·10 is
    // 9.000000000000002 in IEEE), so the rank is computed exactly
    val al = alphas.map(a => (a, math.round(a * 1000)))
      .toDF("alpha", "alpha_milli")
      .crossJoin(broadcast(nCal))
      .withColumn("r",
        expr("((1000 - alpha_milli) * (n_calib + 1) + 999) div 1000"))
    // threshold(α) = min score whose cumulative count reaches r
    // (clamped to the max score when r exceeds n_calib)
    val thr = al.crossJoin(cum)
      .groupBy("alpha", "r", "n_calib")
      .agg(min(when(col("cum_le") >= col("r"), col("score"))).as("thr_or_null"),
        max("score").as("max_score"))
      .withColumn("threshold", coalesce(col("thr_or_null"), col("max_score")))
      .select("alpha", "n_calib", "r", "threshold")
    val evalScores = eval_.select(score.cast("long").as("score"))
    val flagged = evalScores.crossJoin(broadcast(thr))
      .groupBy("alpha", "n_calib", "r", "threshold")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("score") > col("threshold"), 1L).otherwise(0L))
          .as("n_flagged"))
    flagged
      .withColumn("flag_rate",
        round(col("n_flagged").cast("double") / col("n_eval").cast("double"), 9))
      .withColumn("bound",
        round(col("alpha") + lit(1.0) / (col("n_calib") + lit(1L)).cast("double"), 9))
      .withColumn("valid", col("flag_rate") <= col("bound"))
  }

  /** Exact tie-corrected Mann–Whitney U (Wilcoxon rank-sum) test —
    * the nonparametric two-sample location test (Mann & Whitney 1947):
    * does group 1's value distribution stochastically dominate group
    * 2's? The workhorse for comparing metric distributions between
    * corpus slices without a normality assumption (its statistic is
    * the same mid-rank sum as [[rocAuc]]: U/(n1·n2) = AUC).
    *
    * All rank arithmetic is carried DOUBLED so it stays exact:
    * 2R1 = Σ_v n1_v · (2·cnt_lt_v + n_v + 1), 2U1 = 2R1 − n1(n1+1).
    * Totals that can pass int64 at corpus scale (2R1; the tie term
    * Σ(t³−t); n1·n2) are carried as DECIMAL(38,0) — exact 128-bit
    * integers, the q_colloc precedent. The tie-corrected normal
    * approximation
    *   z = (2U1 − n1·n2) / (2·√(n1·n2/12 · ((N+1) − Σ(t³−t)/(N(N−1)))))
    * is ONE IEEE dag over those exact integers, rounded 6 dp at
    * publication, shape-mirrored by the oracle. `u1_twice` is
    * published doubled (always even — halving it would invoke decimal
    * division semantics for no information gain); published integer
    * columns CAST back to BIGINT at the end (the q_colloc precedent:
    * 128-bit lanes for the arithmetic, int64 at the boundary).
    *
    * Scale shape: ONE value-keyed partial-combined aggregate reduces
    * the corpus to the distinct-value table (bounded — integer-grid
    * values, the [[rocAuc]] contract); the cumulative window and the
    * final totals run over that table only. Output: one row.
    */
  def mannWhitneyU(df: DataFrame, group1: Column, value: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val byV = df
      .select(value.cast("long").as("v"),
        group1.cast("long").as("g1"))
      .groupBy("v")
      .agg(count(lit(1)).as("n"), sum("g1").as("n1"))
    val asc = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = byV
      .withColumn("cum_le", sum("n").over(asc))
      // 2 × Σ mid-ranks of this value's group-1 members (exact)
      .withColumn("r2_part", col("n1").cast(dec)
        * (lit(2L) * (col("cum_le") - col("n")) + col("n") + lit(1L)).cast(dec))
      .withColumn("tie_part",
        (col("n").cast(dec) * col("n") * col("n")) - col("n").cast(dec))
    ranked.agg(
        sum("n1").as("n1"), sum(col("n") - col("n1")).as("n2"),
        sum(col("r2_part")).as("r1_twice"), sum(col("tie_part")).as("ties"))
      .withColumn("n_all", col("n1") + col("n2"))
      .withColumn("u1_twice", (col("r1_twice")
        - (col("n1").cast(dec) * (col("n1") + lit(1L)).cast(dec))).cast(dec))
      .select(col("n1"), col("n2"), col("u1_twice").cast("long").as("u1_twice"),
        col("ties").cast("long").as("tie_cubes"),
        (round((col("u1_twice") - col("n1").cast(dec) * col("n2").cast(dec))
          .cast("double")
          / (lit(2L) * sqrt(
            (col("n1").cast(dec) * col("n2").cast(dec)).cast("double") / lit(12)
              * ((col("n_all") + lit(1L)).cast("double")
                 - col("ties").cast("double")
                   / (col("n_all").cast("double") * (col("n_all") - lit(1L)))))),
            6) + 0.0) // + 0.0: signed-zero normalization (house idiom)
          .as("z"))
  }

  /** Exact two-sample Kolmogorov–Smirnov drift statistic between two
    * corpus snapshots over an integer feature: D = max over values of
    * |ECDF_a − ECDF_b|, carried as the cross-multiplied BIGINT
    * |cumA·Nb − cumB·Na| so the max is decided on exact integers and
    * divided once at the end. The asymptotic α=0.05 decision is
    * published next to it (c(α)=1.358, Smirnov): reject iff
    * D > c·√((Na+Nb)/(Na·Nb)). The distribution-free companion to
    * [[psi]] — no binning choice to tune.
    *
    * Scale shape: one value-keyed aggregate per side, a full-outer
    * merge on the distinct-value axis, cumulative windows over that
    * axis. Nothing corpus-sized past the first aggregate.
    */
  def ksDrift(a: DataFrame, b: DataFrame, value: Column): DataFrame = {
    def counts(df: DataFrame, side: String): DataFrame =
      df.select(value.cast("long").as("v"))
        .groupBy("v").agg(count(lit(1)).as(s"n_$side"))
    val merged = counts(a, "a").join(counts(b, "b"), Seq("v"), "full")
      .na.fill(0L, Seq("n_a", "n_b"))
    val asc = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = merged
      .withColumn("cum_a", sum("n_a").over(asc))
      .withColumn("cum_b", sum("n_b").over(asc))
      .withColumn("na", sum("n_a").over(all))
      .withColumn("nb", sum("n_b").over(all))
      .withColumn("num", abs(col("cum_a") * col("nb") - col("cum_b") * col("na")))
    cum
      .withColumn("ecdf_a",
        round(col("cum_a").cast("double") / col("na").cast("double"), 9))
      .withColumn("ecdf_b",
        round(col("cum_b").cast("double") / col("nb").cast("double"), 9))
      .withColumn("diff",
        round(col("num").cast("double") / (col("na") * col("nb")).cast("double"), 9))
      .withColumn("d_stat",
        round(max("num").over(all).cast("double") /
          (col("na") * col("nb")).cast("double"), 9))
      .withColumn("crit_05",
        round(lit(1.358) * sqrt((col("na") + col("nb")).cast("double") /
          (col("na") * col("nb")).cast("double")), 9))
      .withColumn("reject_05", col("d_stat") > col("crit_05"))
      .select("v", "n_a", "n_b", "cum_a", "cum_b", "ecdf_a", "ecdf_b",
        "diff", "d_stat", "crit_05", "reject_05")
  }

  /** Reliability diagram + expected calibration error for a confidence
    * score in [0, 1) against a binary label. `conf` must already be a
    * deterministic 9-dp-rounded double (the caller owns score
    * portability); bins are equal-width. Per bin: empirical positive
    * rate (`acc`, one exact-int division), mean confidence (decimal
    * sum of the 9-dp confs ÷ count), and the bin's |acc − avg_conf|
    * gap. ECE = Σ n_b/N · gap_b is published on every row.
    *
    * The corpus reduces via ONE bin-keyed aggregate (≤ nBins rows);
    * ECE's total window runs over the bin table.
    */
  def calibration(scored: DataFrame, conf: Column, label: Column,
      nBins: Int = 10): DataFrame = {
    val binned = scored.select(conf.as("conf"), label.cast("long").as("y"))
      .withColumn("bin",
        least(floor(col("conf") * lit(nBins.toDouble)), lit(nBins - 1L)).cast("long"))
    val byBin = binned.groupBy("bin").agg(
      count(lit(1)).as("n"),
      sum("y").as("n_pos"),
      sum(col("conf").cast("decimal(28,12)")).as("conf_sum"))
      .withColumn("acc",
        round(col("n_pos").cast("double") / col("n").cast("double"), 9))
      .withColumn("avg_conf",
        round(col("conf_sum").cast("double") / col("n").cast("double"), 9))
      .withColumn("gap", round(abs(col("acc") - col("avg_conf")), 9))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byBin
      .withColumn("ece",
        round(sum(round(col("gap") * col("n").cast("double"), 6)
            .cast("decimal(28,12)")).over(all)
          .cast("double") / sum("n").over(all).cast("double"), 9))
      .select("bin", "n", "n_pos", "acc", "avg_conf", "gap", "ece")
  }

  /** NDCG@k of a ranking against graded relevance (Järvelin &
    * Kekäläinen 2002). `ranking` is (q_id, nn_id, pos) — the system
    * order under evaluation; `rels` is (q_id, nn_id, rel) with integer
    * gains. DCG = Σ_{pos ≤ k} (2^rel − 1) · 1/log2(pos+1); IDCG is the
    * same formula over this query's rels sorted descending. Per-term
    * portability: the gain is an exact integer, the discount is
    * round(1/log2(pos+1), 9), their product is one IEEE multiply
    * re-rounded to 9 dp, and the per-query sums are decimal-exact.
    * ndcg = one IEEE division of the two sums, 6 dp.
    *
    * Scale: both sides are already top-k-bounded per query (k·|Q|
    * rows); the rel join is q-and-doc-keyed; the ideal ranking's sort
    * window partitions BY QUERY (never global). Queries with no
    * relevant docs publish ndcg = null rather than 0/0.
    */
  def ndcgAtK(ranking: DataFrame, rels: DataFrame, k: Int): DataFrame = {
    def discount(pos: Column): Column =
      round(lit(1.0) / log2(pos.cast("double") + lit(1.0)), 9)
    // 2^rel − 1 for small integer rel (exact in double, then BIGINT)
    def gain(rel: Column): Column =
      pow(lit(2.0), rel.cast("double")).cast("long") - lit(1L)
    val sys = ranking.filter(col("pos") <= k)
      .join(rels, Seq("q_id", "nn_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
      .withColumn("term",
        round(gain(col("rel")).cast("double") * discount(col("pos")), 9))
    val dcg = sys.groupBy("q_id").agg(
      sum(col("term").cast("decimal(28,12)")).as("dcg_sum"),
      sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel_ranked"))
    val iw = Window.partitionBy("q_id").orderBy(col("rel").desc, col("nn_id"))
    val ideal = rels.filter(col("rel") > 0)
      .withColumn("ipos", row_number().over(iw))
      .filter(col("ipos") <= k)
      .withColumn("term",
        round(gain(col("rel")).cast("double") * discount(col("ipos")), 9))
      .groupBy("q_id").agg(
        sum(col("term").cast("decimal(28,12)")).as("idcg_sum"),
        count(lit(1)).as("n_rel"))
    dcg.join(ideal, Seq("q_id"), "left")
      .select(col("q_id"),
        round(col("dcg_sum").cast("double"), 6).as("dcg"),
        round(col("idcg_sum").cast("double"), 6).as("idcg"),
        when(col("idcg_sum").isNotNull,
          round(col("dcg_sum").cast("double") / col("idcg_sum").cast("double"), 6))
          .as("ndcg"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("n_rel_ranked"))
  }

  /** Population-stability-index drift between a reference and a
    * current corpus snapshot over a pre-binned feature — the standard
    * production monitor for "did the input distribution move" (PSI
    * < 0.1 stable / 0.1–0.25 drifting / > 0.25 shifted). Laplace
    * add-one keeps every bin's probability integer-exact before its
    * single IEEE division: p = (cnt+1)/(N+nBins), term =
    * round((pa−pb)·ln(pa/pb), 9), decimal-summed.
    *
    * Each side reduces via ONE bin-keyed partial-combined aggregate;
    * the full-outer bin merge and the PSI total run over ≤ nBins rows.
    */
  def psi(ref: DataFrame, cur: DataFrame, bin: Column, nBins: Int): DataFrame = {
    def binCounts(df: DataFrame, side: String): DataFrame =
      df.select(bin.cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(s"cnt_$side"))
    val merged = binCounts(ref, "ref").join(binCounts(cur, "cur"), Seq("bin"), "full")
      .na.fill(0L, Seq("cnt_ref", "cnt_cur"))
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val probs = merged
      .withColumn("p_ref",
        round((col("cnt_ref") + lit(1L)).cast("double") /
          (sum("cnt_ref").over(all) + lit(nBins.toLong)).cast("double"), 9))
      .withColumn("p_cur",
        round((col("cnt_cur") + lit(1L)).cast("double") /
          (sum("cnt_cur").over(all) + lit(nBins.toLong)).cast("double"), 9))
      .withColumn("term",
        round((col("p_ref") - col("p_cur")) * log(col("p_ref") / col("p_cur")), 9))
    probs
      .withColumn("psi",
        round(sum(col("term").cast("decimal(28,12)")).over(all).cast("double"), 9))
      .select("bin", "cnt_ref", "cnt_cur", "p_ref", "p_cur", "term", "psi")
  }

  /** Lorenz curve + exact Gini concentration of an integer mass
    * (tokens per document) — the data-card answer to "what fraction of
    * the corpus' tokens sits in its largest documents". Grouped exact
    * formula over distinct values v_1 < v_2 < …:
    * G = 1 − Σ_i f_i·(2·S_{i−1} + s_i) / (N·T), with f_i the count at
    * value i, s_i = f_i·v_i its mass and S the cumulative mass — the
    * tie-correct population Gini, all BIGINT until one final division.
    *
    * Same scale shape as [[rocAuc]]: the corpus reduces via ONE
    * value-keyed aggregate; the cumulative window and the total run
    * over the distinct-value table (bounded by the max document
    * length, never corpus-sized). Output: one Lorenz point per
    * distinct value with the global `gini` on every row.
    */
  def lorenzGini(df: DataFrame, value: Column): DataFrame = {
    val byVal = df.select(value.cast("long").as("v"))
      .groupBy("v")
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("mass", col("v") * col("n_rows"))
    val asc = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byVal
      .withColumn("cum_rows", sum("n_rows").over(asc))
      .withColumn("cum_mass", sum("mass").over(asc))
      .withColumn("g_part",
        col("n_rows") * (lit(2L) * (col("cum_mass") - col("mass")) + col("mass")))
    // exact-int half-up publication (the sf10 round-at-tie class):
    // every ratio here is a rational of exact counts
    val dec0 = "decimal(38,0)"
    val totals = cum.agg(sum("n_rows").as("n_tot"), sum("mass").as("t_tot"),
        sum("g_part").as("g_num"))
      .withColumn("gini",
        graft.PlanUtils.ratioRound(
          col("n_tot").cast(dec0) * col("t_tot") - col("g_num"),
          col("n_tot").cast(dec0) * col("t_tot"), 9))
    cum.crossJoin(broadcast(totals.select("n_tot", "t_tot", "gini")))
      .select(col("v"), col("n_rows"), col("mass"), col("cum_rows"), col("cum_mass"),
        graft.PlanUtils.ratioRound(col("cum_rows"), col("n_tot"), 9)
          .as("lorenz_p"),
        graft.PlanUtils.ratioRound(col("cum_mass"), col("t_tot"), 9)
          .as("lorenz_l"),
        col("gini"))
  }

  /** Per-group PSI against a shared static reference — the grouped
    * form of [[psi]] for monitoring MANY snapshots at once (one per
    * time window, shard, or source). `cur` is (grp, bin, cnt) — e.g.
    * the output of a streaming windowed bin count — and `ref` is
    * (bin, cnt_ref). The bin axis is the REFERENCE's: when the
    * reference is the full corpus and each group is a subset of it
    * (the monitoring shape), every group bin is a reference bin by
    * construction; absent (grp, bin) cells count 0 and Laplace
    * add-one keeps them finite.
    *
    * Scale: both inputs are already bin-reduced; the group×bin axis
    * is |groups|·nBins rows (the reference broadcasts), and every
    * window partitions BY GROUP. Nothing corpus-sized.
    */
  def psiByGroup(cur: DataFrame, ref: DataFrame, nBins: Int): DataFrame = {
    val refTot = ref.agg(sum("cnt_ref").as("n_ref"))
    val axis = cur.select("grp").distinct()
      .crossJoin(broadcast(ref))
    val merged = axis.join(cur, Seq("grp", "bin"), "left")
      .na.fill(0L, Seq("cnt"))
      .crossJoin(broadcast(refTot))
    val perGrp = Window.partitionBy("grp")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val probs = merged
      .withColumn("p_cur",
        round((col("cnt") + lit(1L)).cast("double") /
          (sum("cnt").over(perGrp) + lit(nBins.toLong)).cast("double"), 9))
      .withColumn("p_ref",
        round((col("cnt_ref") + lit(1L)).cast("double") /
          (col("n_ref") + lit(nBins.toLong)).cast("double"), 9))
      .withColumn("term",
        round((col("p_ref") - col("p_cur")) * log(col("p_ref") / col("p_cur")), 9))
    probs
      .withColumn("psi",
        round(sum(col("term").cast("decimal(28,12)")).over(perGrp).cast("double"), 9))
      .select("grp", "bin", "cnt", "cnt_ref", "p_cur", "p_ref", "term", "psi")
  }

  /** kNN label-agreement noise detection (the classic edited-nearest-
    * neighbor / Confident-Learning-style screen): a labeled point whose
    * k nearest neighbors mostly DISAGREE with its label is a likely
    * mislabel — surfaced for re-annotation before training. Output per
    * node: its label, the neighbor vote counts, the agreement
    * fraction, and `suspect` (strict-minority agreement).
    *
    * Built on the exact directed kNN lists ([[SimilarityOps]]); the
    * label lookup is one id-keyed equi-join of the k·n list table
    * against the (id, label) projection, and the vote is one
    * node-keyed aggregate. At corpus scale, feed the same join from
    * ANN lists — the vote shape is unchanged.
    */
  /** Multiclass confusion summary: one row per TRUE class with its
    * support, the diagonal count, and exact-ratio precision / recall
    * / F1 for that class (the standard per-class report every
    * classifier evaluation prints). The full |C|² confusion matrix
    * reduces to two |C|-sized marginal joins — corpus touched by ONE
    * (true, pred)-keyed aggregate with map-side partials; everything
    * after is class-table sized. Ratios are single exact-int64 IEEE
    * divisions; F1 = 2pr/(p+r) on those exact doubles, published at
    * 6 dp. Classes never predicted (p denominator 0) publish NULL
    * precision/F1.
    */
  def confusionReport(scored: DataFrame, trueCol: Column,
      predCol: Column): DataFrame = {
    val cm = graft.CacheScope.autoRelease(
      scored.select(trueCol.as("t"), predCol.as("p"))
        .groupBy("t", "p").agg(count(lit(1)).as("n")))
    val byTrue = cm.groupBy(col("t")).agg(sum("n").as("support"))
    val byPred = cm.groupBy(col("p").as("t")).agg(sum("n").as("__npred"))
    val diag = cm.filter(col("t") === col("p"))
      .select(col("t"), col("n").as("__tp"))
    val prec = col("__tp").cast("double") / col("__npred")
    val rec = col("__tp").cast("double") / col("support")
    byTrue
      .join(diag, Seq("t"), "left")
      .join(byPred, Seq("t"), "left")
      .withColumn("__tp", coalesce(col("__tp"), lit(0L)))
      .select(col("t").as("label"), col("support"), col("__tp").as("tp"),
        round(prec, 6).as("precision"), round(rec, 6).as("recall"),
        when(col("__npred").isNull, lit(null))
          .when(prec + rec > 0, round(lit(2.0) * prec * rec / (prec + rec), 6))
          .otherwise(lit(0.0)).as("f1"))
  }

  /** Two-proportion A/B z-test per experiment group (the standard
    * pooled-variance test every experimentation platform runs):
    * units are rows, the variant is a deterministic hash split of
    * `unit`, success is `success`. z = (p₁ − p₀) /
    * sqrt(p̂(1 − p̂)(1/n₀ + 1/n₁)) with p̂ the pooled rate.
    *
    * All counts are exact int64 (ONE group-keyed aggregate with
    * map-side partials — the entire corpus reduces to |groups|·2
    * counters); the z arithmetic is a fixed dag of IEEE double ops on
    * integer ratios — bit-identical across engines, published at
    * 6 dp with the significance flag decided ON the published value.
    * Degenerate groups (a one-sided split or a 0/100% pooled rate)
    * publish NULL z, significant = false.
    */
  def abTest(df: DataFrame, group: Column, unit: Column, success: Column,
      zCrit: Double = 1.96): DataFrame = {
    val agg = df.select(group.as("grp"), pmod(unit, lit(2L)).as("__v"),
        success.cast("long").as("__s"))
      .groupBy("grp")
      .agg(sum(when(col("__v") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("__v") === 0, col("__s")).otherwise(0L)).as("s0"),
        sum(when(col("__v") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__v") === 1, col("__s")).otherwise(0L)).as("s1"))
    val p0 = col("s0").cast("double") / col("n0")
    val p1 = col("s1").cast("double") / col("n1")
    val pp = (col("s0") + col("s1")).cast("double") / (col("n0") + col("n1"))
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n0") + lit(1.0) / col("n1")))
    val z = when(col("n0") > 0 && col("n1") > 0 && se > 0,
      round((p1 - p0) / se, 6) + 0.0)
    agg.select(col("grp"), col("n0"), col("s0"), col("n1"), col("s1"),
      z.as("z"), coalesce(abs(z) > zCrit, lit(false)).as("significant"))
  }

  /** Wilson score-interval lower bound per key — "how not to sort by
    * average rating" (Wilson 1927; the ranking fix popularized for
    * star-ratings/comment ranking): the naive success rate p̂ ranks a
    * 1/1 item above a 95/100 item; the Wilson lower bound
    *   lb = (p̂ + z²/2n − z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    * shrinks small-n estimates toward 0 so ranking is
    * uncertainty-aware.
    *
    * Portability: (n, x) are exact int64 counts from ONE partial-
    * combined aggregate; p̂ is published through the exact half-up
    * [[graft.PlanUtils.ratioRound]], and lb is a deterministic scalar
    * IEEE dag from (x, n) — the oracle writes the IDENTICAL expression
    * (z as the literal product 1.96·1.96, never a folded 3.8416 — the
    * NOTES.md double-constant rule), so the RAW double is published
    * and the ranking it induces is bit-identical cross-engine.
    *
    * Plan shape: corpus → one group-keyed combine; the scalar dag runs
    * on the key-sized table. Output: (key, n, x, p_hat, wilson_lb).
    */
  def wilsonLowerBound(df: DataFrame, key: Column, success: Column,
      z: Double = 1.96): DataFrame = {
    val agg = df.select(key.as("key"), success.cast("long").as("__s"))
      .groupBy("key")
      .agg(count(lit(1)).as("n"), sum("__s").as("x"))
    val nD = col("n").cast("double")
    val p = col("x").cast("double") / nD
    val zz = lit(z) * lit(z)
    val lb = (p + zz / (lit(2.0) * nD)
        - lit(z) * sqrt(p * (lit(1.0) - p) / nD + zz / (lit(4.0) * nD * nD))) /
      (lit(1.0) + zz / nD)
    agg.select(col("key"), col("n"), col("x"),
      (graft.PlanUtils.ratioRound(col("x"), col("n"), 6) + 0.0).as("p_hat"),
      lb.as("wilson_lb"))
  }

  /** Kendall τ-b rank correlation per group (Kendall 1938; the tie-
    * corrected τ) between two INTEGER-BINNED variables —
    * [[spearmanCorr]]'s sibling built from concordance counts, the
    * form auditors prefer when the data is heavily tied (grids,
    * ratings, hours): τ_b = (C − D) / √((n₀−n₁)(n₀−n₂)).
    *
    * The naive C/D needs all O(n²) observation pairs. This one is
    * EXACT with no pairwise term anywhere: observations reduce to the
    * (x-bin × y-bin) contingency table, the table densifies onto its
    * per-group bin grid (zero-filled), and TWO window passes compute
    * strict 2-D suffix/prefix sums — C = Σ f·S^{>,>}, D = Σ f·S^{>,<}
    * counts every concordant/discordant pair exactly once at its
    * lower cell. All counts exact int64/decimal; τ publishes through
    * one IEEE dag (√ of a decimal-exact product) at 6 dp; degenerate
    * margins (all mass in one x or one y bin) publish null.
    *
    * Plan shape: corpus → ONE (grp, x, y) combine; the grid scaffold,
    * both window passes and the closing reduction run on the
    * bin²-sized table (the caller CHOOSES the bin axes — cells are a
    * design constant, never data-sized). Output: (grp, n, c_pairs,
    * d_pairs, tau_b).
    */
  def kendallTauB(df: DataFrame, group: Column, xBin: Column,
      yBin: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = graft.CacheScope.autoRelease(
      df.select(group.as("grp"), xBin.cast("long").as("x"),
          yBin.cast("long").as("y"))
        .groupBy("grp", "x", "y").agg(count(lit(1)).as("f")))
    val xs = cells.select("grp", "x").distinct()
    val ys = cells.select("grp", "y").distinct()
    val grid = xs.join(ys, "grp")
      .join(cells, Seq("grp", "x", "y"), "left")
      .select(col("grp"), col("x"), col("y"),
        coalesce(col("f"), lit(0L)).as("f"))
    val afterY = Window.partitionBy("grp", "x").orderBy("y")
      .rowsBetween(1, Window.unboundedFollowing)
    val beforeY = Window.partitionBy("grp", "x").orderBy("y")
      .rowsBetween(Window.unboundedPreceding, -1)
    val afterX = Window.partitionBy("grp", "y").orderBy("x")
      .rowsBetween(1, Window.unboundedFollowing)
    val sums = grid
      .withColumn("ry", sum("f").over(afterY))
      .withColumn("ly", sum("f").over(beforeY))
      .withColumn("sc", sum("ry").over(afterX))
      .withColumn("sd", sum("ly").over(afterX))
    val marg = (mc: String) => cells.groupBy("grp", mc)
      .agg(sum("f").as("t"))
      .groupBy("grp")
      .agg(sum(col("t").cast(dec) * (col("t") - 1)).as(s"tt_$mc"))
    val perG = sums.groupBy("grp").agg(
      sum("f").as("n"),
      sum(col("f").cast(dec) * coalesce(col("sc"), lit(0L))).as("c_pairs"),
      sum(col("f").cast(dec) * coalesce(col("sd"), lit(0L))).as("d_pairs"))
    // doubled-pair lanes: 2n₀ = n(n−1), 2n₁ = Σ tx(tx−1) — the ½s
    // cancel inside the √ product
    val den2 = (col("n").cast(dec) * (col("n") - 1) - col("tt_x")) *
      (col("n").cast(dec) * (col("n") - 1) - col("tt_y"))
    perG.join(marg("x"), Seq("grp")).join(marg("y"), Seq("grp"))
      .select(col("grp"), col("n"),
        col("c_pairs").cast("long").as("c_pairs"),
        col("d_pairs").cast("long").as("d_pairs"),
        when(den2 > 0, round(
          (col("c_pairs") - col("d_pairs")).cast("double") * 2.0
            / sqrt(den2.cast("double")), 6) + 0.0).as("tau_b"))
  }

  /** Poisson bootstrap CI per group (Chamandy, Muralidharan, Najmi &
    * Naidu 2012 — the industrial bootstrap for distributed data):
    * classic resampling needs the full dataset per replicate; the
    * Poisson approximation gives each UNIT an independent
    * Poisson(1) multiplicity per replicate, so all `bReps` replicate
    * means stream out of ONE pass over the unit table. The published
    * interval is the percentile CI of the replicate means.
    *
    * Deterministic and exact: multiplicities come from the salted
    * Horner-cubic hash ([[permutationTest]]'s family, its own salt
    * stream) thresholded against pinned integer Poisson(1) CDF
    * cutoffs in hash space — no RNG; each replicate mean is the
    * exact rational Σc·s / Σc·n carried as (num, den) DECIMAL lanes;
    * replicates rank by their (identical cross-engine) double value
    * with the exact rational as tiebreak (the Theil–Sen idiom), the
    * 2.5%/97.5% ranks are picked by conditional aggregation and
    * publish through half-up [[graft.PlanUtils.ratioRound]]. A group
    * with any empty-resample replicate (measure-zero beyond tiny
    * populations) publishes null CI.
    *
    * Plan shape: the pinned (grp, unit) combine is the only
    * corpus-sized exchange; the B-fold explode multiplies the UNIT
    * table; the rank window runs over B rows per group. Output:
    * (grp, n_units, mean, ci_lo, ci_hi).
    */
  def poissonBootstrapCI(df: DataFrame, group: Column, unit: Column,
      metric: Column, bReps: Int = 63): DataFrame = {
    require(bReps >= 3, "bReps must be >= 3")
    val dec = "decimal(38,0)"
    // Poisson(1) CDF cutoffs quantized into [0, AmsPrime) hash space
    val cuts = Seq(385748L, 771496L, 964371L, 1028662L, 1044735L, 1047949L)
    val units = graft.CacheScope.autoRelease(
      df.select(group.as("grp"), unit.as("u"), metric.cast("long").as("x"))
        .groupBy("grp", "u")
        .agg(count(lit(1)).as("n"), sum(col("x").cast(dec)).as("s")))
    val h = SketchOps.hornerHash(col("u"), col("b") + lit(200))
    val c = cuts.zipWithIndex.foldRight(lit(cuts.length.toLong)) {
      case ((cut, i), rest) => when(h < cut, i.toLong).otherwise(rest)
    }
    val reps = units
      .withColumn("b", explode(sequence(lit(1), lit(bReps))))
      .withColumn("c", c)
      .groupBy("grp", "b")
      .agg(sum(col("c").cast(dec) * col("s")).as("rnum"),
        sum(col("c").cast(dec) * col("n")).as("rden"))
    val wRank = Window.partitionBy("grp")
      .orderBy(col("rnum").cast("double") / col("rden").cast("double"),
        col("rnum"), col("rden"))
    val loRank = math.max(1, math.ceil(bReps * 0.025).toInt)
    val hiRank = bReps + 1 - loRank
    val ranked = reps.filter(col("rden") > 0)
      .withColumn("rn", row_number().over(wRank))
    val ci = ranked.groupBy("grp").agg(
      count(lit(1)).as("n_valid"),
      max(when(col("rn") === loRank, col("rnum"))).as("lo_n"),
      max(when(col("rn") === loRank, col("rden"))).as("lo_d"),
      max(when(col("rn") === hiRank, col("rnum"))).as("hi_n"),
      max(when(col("rn") === hiRank, col("rden"))).as("hi_d"))
    val obs = units.groupBy("grp").agg(
      count(lit(1)).as("n_units"), sum("s").as("os"), sum("n").as("on"))
    val ok = col("n_valid") === bReps
    obs.join(ci, Seq("grp"), "left")
      .select(col("grp"), col("n_units"),
        (graft.PlanUtils.ratioRound(col("os"), col("on").cast(dec), 6) + 0.0)
          .as("mean"),
        when(ok, graft.PlanUtils.ratioRound(col("lo_n"), col("lo_d"), 6)
          + 0.0).as("ci_lo"),
        when(ok, graft.PlanUtils.ratioRound(col("hi_n"), col("hi_d"), 6)
          + 0.0).as("ci_hi"))
  }

  /** Cochran–Mantel–Haenszel test (Mantel & Haenszel 1959) —
    * arm/outcome association CONTROLLING for a stratification
    * variable: the guard against Simpson's paradox that a pooled
    * [[abTest]] walks straight into (an arm over-represented in a
    * high-rate stratum looks causal pooled, vanishes stratified).
    * Per stratum i the 2×2 table contributes a_i (treated
    * successes), E_i = n1_i·m1_i/n_i and V_i = n1_i·n0_i·m1_i·m0_i /
    * (n_i²(n_i−1)); the statistic is
    *   χ² = max(|Σa − ΣE| − ½, 0)² / ΣV  (continuity-corrected,
    * clamped at 0 so a near-null |Σa−ΣE| < ½ reads as χ² = 0).
    *
    * Portability: the same discipline as the log-rank gate — per-
    * stratum E/V are rationals with different denominators, so each
    * is quantized to a scale-9 integer by exact half-up division and
    * the sums run in DECIMAL lanes (order-independent); Σa stays an
    * exact int64, and χ² is one IEEE dag from the three exact lanes
    * published at 6 dp (null when ΣV = 0). Also publishes the
    * Mantel–Haenszel common odds ratio Σ(a_i·d_i/n_i)/Σ(b_i·c_i/n_i)
    * from two more quantized-term sums.
    *
    * Plan shape: corpus → ONE stratum-keyed 4-counter combine;
    * everything after is stratum-count-sized. Output: one row
    * (n_strata, sum_a, e, v, chi2, or_mh, significant at χ²₁ > 3.84).
    */
  def cmhTest(df: DataFrame, stratum: Column, unit: Column,
      success: Column, chiCrit: Double = 3.84): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.select(stratum.as("st"),
        (pmod(unit, lit(2L)) === 1).as("__t"), success.cast("long").as("__s"))
      .groupBy("st").agg(
        sum(when(col("__t"), col("__s")).otherwise(0L)).as("a"),
        sum(when(col("__t"), lit(1L) - col("__s")).otherwise(0L)).as("b"),
        sum(when(!col("__t"), col("__s")).otherwise(0L)).as("c"),
        sum(when(!col("__t"), lit(1L) - col("__s")).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
    val S = 1000000000L
    val et = graft.PlanUtils.ratioRound(
      (col("a") + col("b")).cast(dec) * (col("a") + col("c")) * lit(S),
      col("n"), 0)
    val vt = when(col("n") > 1, graft.PlanUtils.ratioRound(
        (col("a") + col("b")).cast(dec) * (col("c") + col("d"))
          * (col("a") + col("c")) * (col("b") + col("d")) * lit(S),
        col("n").cast(dec) * col("n") * (col("n") - 1), 0))
      .otherwise(lit(0.0))
    val adt = graft.PlanUtils.ratioRound(
      col("a").cast(dec) * col("d") * lit(S), col("n"), 0)
    val bct = graft.PlanUtils.ratioRound(
      col("b").cast(dec) * col("c") * lit(S), col("n"), 0)
    val tots = cells.filter(col("n") > 0).agg(
      count(lit(1)).as("n_strata"), sum("a").as("sum_a"),
      sum(et.cast(dec)).as("es"), sum(vt.cast(dec)).as("vs"),
      sum(adt.cast(dec)).as("ads"), sum(bct.cast(dec)).as("bcs"))
    // every published statistic here is an EXACT rational of the
    // integer lanes (no √ anywhere), so publish through half-up
    // ratioRound — round(double, 6) of an exact rational is the
    // tie-boundary divergence class the sf10 audit fixed. The
    // continuity correction clamps at 0 (textbook max(|Σa−E|−½, 0)):
    // unclamped, a near-null |Σa−E| < ½ would square into a spurious
    // positive χ².
    val x9 = greatest(
      abs(col("sum_a").cast(dec) * lit(S) - col("es")) - lit(S / 2),
      lit(0L).cast(dec))
    val chi2 = graft.PlanUtils.ratioRound(x9 * x9,
      col("vs").cast(dec) * lit(S), 6) + 0.0
    tots.select(col("n_strata"), col("sum_a"),
      (graft.PlanUtils.ratioRound(col("es"), lit(S), 6) + 0.0).as("e"),
      (graft.PlanUtils.ratioRound(col("vs"), lit(S), 6) + 0.0).as("v"),
      when(col("vs") > 0, chi2).as("chi2"),
      when(col("bcs") > 0,
        graft.PlanUtils.ratioRound(col("ads"), col("bcs"), 6) + 0.0)
        .as("or_mh"),
      coalesce(when(col("vs") > 0, chi2) > chiCrit, lit(false))
        .as("significant"))
  }

  /** Unit-level permutation (approximate randomization) test per
    * group — inference with NO distributional assumptions where
    * [[abTest]]/[[welchTTest]] lean on normality: the null
    * distribution of the arm mean-difference is built by
    * re-assigning UNITS to pseudo-arms `bReps` times and the p-value
    * is the exceedance fraction (add-one form, Phipson & Smyth
    * 2010). Re-assignments are the salted 4-wise Horner-cubic parity
    * family ([[SketchOps.amsF2]]'s portable hash — deterministic,
    * replayable, engine-identical), so the whole test is a
    * deterministic function of the data: no RNG, no seed plumbing.
    *
    * EXACT end to end — the rare permutation test with zero float
    * error: per-unit (n, Σx) are integer lanes; each replicate's
    * mean difference D_b = s₁/n₁ − s₀/n₀ is compared to D_obs by
    * cross-multiplication in DECIMAL lanes (|D_b| ≥ |D_obs| ⟺
    * |num_b|·den_obs ≥ |num_obs|·den_b — no division ever happens),
    * and p = (1 + #exceed)/(B + 1) publishes through half-up
    * [[graft.PlanUtils.ratioRound]]. A replicate with an empty arm
    * counts as exceeding (conservative, measure-zero at any real
    * unit count); an empty OBSERVED arm nulls the row.
    *
    * Plan shape: corpus → ONE (grp, unit) combine (pinned); the
    * B-fold explode runs on the UNIT table (B×units rows, never
    * B×corpus), followed by one (grp, b) combine and a group-sized
    * reduction. Output: (grp, n_units, d_obs, n_exceed, p_value).
    */
  def permutationTest(df: DataFrame, group: Column, unit: Column,
      metric: Column, bReps: Int = 63): DataFrame = {
    require(bReps >= 1, "bReps must be >= 1")
    val dec = "decimal(38,0)"
    val units = graft.CacheScope.autoRelease(
      df.select(group.as("grp"), unit.as("u"), metric.cast("long").as("x"))
        .groupBy("grp", "u")
        .agg(count(lit(1)).as("n"), sum(col("x").cast(dec)).as("s")))
    def arms(armCol: Column) = Seq(
      sum(when(armCol, col("s")).otherwise(lit(0L).cast(dec))).as("s1"),
      sum(when(armCol, col("n")).otherwise(0L)).as("n1"),
      sum(when(!armCol, col("s")).otherwise(lit(0L).cast(dec))).as("s0"),
      sum(when(!armCol, col("n")).otherwise(0L)).as("n0"))
    def dNum = col("s1") * col("n0") - col("s0") * col("n1")
    def dDen = col("n1").cast(dec) * col("n0")
    val obs = units.groupBy("grp")
      .agg(count(lit(1)).as("n_units"),
        arms(pmod(col("u"), lit(2L)) === 1): _*)
      .select(col("grp"), col("n_units"), dNum.as("onum"), dDen.as("oden"))
    // salted Horner-cubic parity per replicate (offset 100 decouples
    // the coefficient stream from the AMS F2 estimators) — the SHARED
    // kernel, one definition for all three oracle families
    val h = SketchOps.hornerHash(col("u"), col("b") + lit(100))
    val reps = units
      .withColumn("b", explode(sequence(lit(1), lit(bReps))))
      .groupBy("grp", "b")
      .agg(arms(h % 2 === 0).head, arms(h % 2 === 0).tail: _*)
      .select(col("grp"), dNum.as("rnum"), dDen.as("rden"))
    val exceed = when(col("rden") > 0,
      abs(col("rnum")) * col("oden") >= abs(col("onum")) * col("rden"))
      .otherwise(lit(true))
    reps.join(broadcast(obs), Seq("grp"))
      .groupBy("grp")
      .agg(first(col("n_units")).as("n_units"),
        first(col("onum")).as("onum"), first(col("oden")).as("oden"),
        sum(when(exceed, 1L).otherwise(0L)).as("n_exceed"))
      .select(col("grp"), col("n_units"),
        when(col("oden") > 0,
          graft.PlanUtils.ratioRound(col("onum"), col("oden"), 6) + 0.0)
          .as("d_obs"),
        col("n_exceed"),
        when(col("oden") > 0, graft.PlanUtils.ratioRound(
          col("n_exceed") + 1, lit(bReps + 1L), 6) + 0.0).as("p_value"))
  }

  /** Empirical-Bayes beta-binomial shrinkage per key — the POOLING
    * companion to [[wilsonLowerBound]] (Wilson bounds each key's rate
    * in isolation; EB borrows strength ACROSS keys): fit Beta(α, β)
    * to the observed rate population by method of moments, then
    * publish each key's posterior-mean rate (x + α)/(n + α + β) —
    * small-n keys shrink toward the population mean instead of
    * toward 0 (Efron & Morris 1975; the batting-average estimator).
    *
    * Portability: per-key rates are quantized to EXACT micro-units
    * u = halfUp(x·10⁶/n) in pure integer arithmetic (both engines run
    * the same hugeint/decimal floor-division — no double ever enters
    * the moment lanes), so Σu / Σu² / K are exact ints and the MoM
    * dag (m₁, m₂ sample variance, total = m₁(1−m₁)/m₂ − 1, α = m₁·
    * total, β = (1−m₁)·total, shrunk rate) is ONE deterministic IEEE
    * chain written identically in the oracle; published at 6 dp. A
    * degenerate population (m₂ = 0, or total ≤ 0 — overdispersed
    * beyond what any Beta prior explains) nulls α/β/shrunk.
    *
    * Plan shape: corpus → one key-keyed combine (pinned — the moment
    * pass and the publication both read it); the 1-row moment table
    * broadcasts back. Output: (key, n, x, p_hat, p_shrunk, alpha,
    * beta) ranked by the shrunk rate.
    */
  def ebShrink(df: DataFrame, key: Column, success: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val perKey = graft.CacheScope.autoRelease(
      df.select(key.as("key"), success.cast("long").as("__s"))
        .groupBy("key")
        .agg(count(lit(1)).as("n"), sum("__s").as("x")))
    // exact micro-unit rate: u = halfUp(x·10⁶ / n) as an integer
    val a = col("x").cast(dec) * lit(1000000L) * lit(2L) + col("n")
    val b = col("n").cast(dec) * lit(2L)
    val withU = perKey.withColumn("u",
      ((a - pmod(a, b)) / b).cast("long"))
    val mom = withU.agg(count(lit(1)).as("kk"),
      sum(col("u")).as("su"),
      sum(col("u").cast(dec) * col("u")).as("suu"))
    val kD = col("kk").cast("double")
    val m1 = col("su").cast("double") / (kD * lit(1000000.0))
    // guard the K−1 denominator BEFORE the division is planned: under
    // ANSI mode a single-key population raises DIVIDE_BY_ZERO even
    // though `ok` would mask the result (EdgeCasesSpec pins this)
    val m2 = when(col("kk") > 1, (col("kk").cast(dec) * col("suu")
        - col("su").cast(dec) * col("su")).cast("double") /
      (kD * (kD - lit(1.0)) * lit(1e12)))
    val tot = m1 * (lit(1.0) - m1) / m2 - lit(1.0)
    val alpha = m1 * tot
    val beta = (lit(1.0) - m1) * tot
    val ok = col("kk") > 1 && m2 > 0 && tot > 0
    val shrunk = (col("x") + alpha) / (col("n") + alpha + beta)
    withU.join(broadcast(mom))
      .select(col("key"), col("n"), col("x"),
        (graft.PlanUtils.ratioRound(col("x"), col("n"), 6) + 0.0).as("p_hat"),
        when(ok, round(shrunk, 6) + 0.0).as("p_shrunk"),
        when(ok, round(alpha, 6) + 0.0).as("alpha"),
        when(ok, round(beta, 6) + 0.0).as("beta"))
  }

  /** Welch's unequal-variance t-test per experiment group — the
    * continuous-metric sibling of [[abTest]]: units split by a
    * deterministic hash of `unit`, compared on the MEAN of `metric`.
    * t = (m₁ − m₀) / sqrt(s₀²/n₀ + s₁²/n₁) with sᵢ² the sample
    * variance; Welch–Satterthwaite df published alongside.
    *
    * Portability: per-arm Σx and Σx² are DECIMAL(38,12) sums of the
    * raw doubles (order-independent); means/variances derive from
    * those decimals through one fixed IEEE dag, t and df published at
    * 6 dp with significance (|t| > tCrit) decided on the published t.
    * One group-keyed aggregate carries six accumulators — the corpus
    * is touched once. Degenerate arms (n ≤ 1 or zero variance both
    * sides) publish NULL t.
    */
  def welchTTest(df: DataFrame, group: Column, unit: Column, metric: Column,
      tCrit: Double = 1.96): DataFrame = {
    val dec = "decimal(38,12)"
    def arm(v: Int, c: Column) = sum(when(col("__v") === v, c).otherwise(lit(0).cast(dec)))
    val agg = df.select(group.as("grp"), pmod(unit, lit(2L)).as("__v"),
        metric.cast("double").as("__x"))
      .groupBy("grp")
      .agg(sum(when(col("__v") === 0, 1L).otherwise(0L)).as("n0"),
        arm(0, col("__x").cast(dec)).as("__s0"),
        arm(0, (col("__x") * col("__x")).cast(dec)).as("__q0"),
        sum(when(col("__v") === 1, 1L).otherwise(0L)).as("n1"),
        arm(1, col("__x").cast(dec)).as("__s1"),
        arm(1, (col("__x") * col("__x")).cast(dec)).as("__q1"))
    def mean(s: Column, n: Column) = s.cast("double") / n
    def varS(s: Column, q: Column, n: Column) =
      (q.cast("double") - s.cast("double") * s.cast("double") / n) / (n - 1)
    val m0 = mean(col("__s0"), col("n0")); val m1 = mean(col("__s1"), col("n1"))
    val v0 = varS(col("__s0"), col("__q0"), col("n0"))
    val v1 = varS(col("__s1"), col("__q1"), col("n1"))
    val se2 = v0 / col("n0") + v1 / col("n1")
    val t = round((m1 - m0) / sqrt(se2), 6) + 0.0
    val dfw = round(se2 * se2 /
      (v0 * v0 / (col("n0") * col("n0") * (col("n0") - 1)) +
       v1 * v1 / (col("n1") * col("n1") * (col("n1") - 1))), 6)
    val ok = col("n0") > 1 && col("n1") > 1 && se2 > 0
    agg.select(col("grp"), col("n0"), col("n1"),
      round(m0, 6).as("mean0"), round(m1, 6).as("mean1"),
      when(ok, t).as("t"), when(ok, dfw).as("df"),
      coalesce(abs(when(ok, t)) > tCrit, lit(false)).as("significant"))
  }

  /** CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013)
    * — the experimentation-platform standard for tightening A/B
    * metrics with a pre-experiment covariate: per unit, the adjusted
    * metric is Y − θ·(X − X̄) with θ = cov(X,Y)/var(X) fitted on the
    * POOLED population; the achievable variance reduction is exactly
    * ρ² = cov²/(var X · var Y). Publishes, per arm (deterministic
    * `pmod(unit, 2)` split): n_units, the raw and CUPED-adjusted
    * mean of Y, plus the pooled θ and ρ² (constant columns).
    *
    * Exactness: `metric` must be integer-valued (the caller quantizes
    * — the gate uses round(value)); per-unit X/Y are int64 sums, and
    * ALL pooled moments (Σx, Σy, Σx², Σxy, Σy²) are DECIMAL(38,0)
    * sums, so n·Σxy − Σx·Σy style centered moments are exact
    * integers. Every published ratio goes through
    * [[graft.PlanUtils.ratioRound]] (integer half-up — no
    * round-of-double-ratio tie exposure anywhere): the adjusted mean
    * is the single exact rational
    *   (Σyₐ·varP·n − covP·(Σxₐ·n − nₐ·Σx)) / (nₐ·varP·n),
    * and ρ² = θ·θ₂ (θ₂ = cov/var Y) is multiplied in the DECIMAL
    * domain from the two published 6-dp values and rounded AS DECIMAL
    * (the round-after-cast lesson). The numerator lane peaks at
    * ~Σy·varP·n ≈ 4·10³⁰ on this corpus at sf10 and saturates
    * DECIMAL(38,0) around sf30 — the [[TemporalOps.cusumShift]]
    * publication-lane precedent.
    *
    * Plan shape: one unit-keyed aggregate reduces the event corpus to
    * a unit-sized (x, y) table (cached — it feeds the pooled-moment
    * aggregate and the per-arm aggregate); both consumers are partial-
    * aggregated shuffles; the 1-row pooled moments broadcast onto the
    * 2-row arm table. Nothing after the first aggregate exceeds unit
    * cardinality.
    */
  def cupedAdjust(df: DataFrame, unit: Column, metric: Column,
      preFlag: Column): DataFrame = {
    val dec0 = "decimal(38,0)"
    val perUnit = graft.CacheScope.autoRelease(
      df.select(unit.as("u"), preFlag.cast("boolean").as("__pre"),
          metric.cast("long").as("__m"))
        .groupBy("u")
        .agg(sum(when(col("__pre"), col("__m")).otherwise(0L)).as("x"),
          sum(when(!col("__pre"), col("__m")).otherwise(0L)).as("y")))
    val g = perUnit.agg(
      count(lit(1)).cast(dec0).as("n"),
      sum(col("x").cast(dec0)).as("sx"),
      sum(col("y").cast(dec0)).as("sy"),
      sum(col("x").cast(dec0) * col("x")).as("sxx"),
      sum(col("x").cast(dec0) * col("y")).as("sxy"),
      sum(col("y").cast(dec0) * col("y")).as("syy"))
    val varP = col("n") * col("sxx") - col("sx") * col("sx")
    val covP = col("n") * col("sxy") - col("sx") * col("sy")
    val varY = col("n") * col("syy") - col("sy") * col("sy")
    val numC = col("sya") * varP * col("n") -
      covP * (col("sxa") * col("n") - col("n_a").cast(dec0) * col("sx"))
    val denC = col("n_a").cast(dec0) * varP * col("n")
    val theta = when(varP > 0, graft.PlanUtils.ratioRound(covP, varP, 6))
    val theta2 = when(varY > 0, graft.PlanUtils.ratioRound(covP, varY, 6))
    val rho2 = round(theta.cast("decimal(18,6)")
      * theta2.cast("decimal(18,6)"), 6).cast("double")
    perUnit.groupBy(pmod(col("u"), lit(2L)).as("arm"))
      .agg(count(lit(1)).as("n_a"),
        sum(col("x").cast(dec0)).as("sxa"),
        sum(col("y").cast(dec0)).as("sya"))
      .crossJoin(broadcast(g))
      .select(col("arm"), col("n_a").as("n_units"),
        graft.PlanUtils.ratioRound(col("sya"), col("n_a"), 4).as("mean_y"),
        when(varP > 0, graft.PlanUtils.ratioRound(numC, denC, 4))
          .as("mean_y_cuped"),
        theta.as("theta"), rho2.as("rho2"))
      .orderBy("arm")
  }

  /** Difference-in-differences per group — the quasi-experimental
    * member of the experimentation family ([[abTest]]/[[welchTTest]]
    * compare arms at one time; [[cupedAdjust]] tightens with a
    * pre-period covariate; DiD estimates a treatment effect when
    * assignment is NOT randomized, by differencing out both the
    * group baseline and the common time trend):
    *   DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre).
    *
    * Treatment arm is the deterministic `pmod(unit, 2)` split; the
    * pre/post cut is the midpoint of the observed day span (one
    * 1-row aggregate broadcast back — both engines derive the same
    * cut from the data, no wall-clock literal).
    *
    * Exactness: `metric` must be integer-valued (caller grid), so
    * the 4 cells' (n, Σx, Σx²) lanes are exact DECIMAL(38,0) ints
    * from ONE group-keyed aggregate; DiD itself is published as the
    * EXACT rational [A·D_C − B·D_T] / (D_T·D_C) (A/B the cleared
    * cell-mean differences, D the cell-count products) through
    * half-up [[graft.PlanUtils.ratioRound]]. The t statistic uses the
    * unpooled four-cell SE — the [[welchTTest]] IEEE dag shape, cell
    * variances from the same exact lanes — published at 6 dp; any
    * cell with n ≤ 1 (or zero SE) nulls the inference columns.
    *
    * Plan shape: corpus → ONE partial-combined group aggregate (12
    * conditional counters); the cut is a broadcast 1-row cross; all
    * arithmetic runs on the group-sized table. Output: (grp, n_tpre,
    * n_tpost, n_cpre, n_cpost, did, t_did, significant).
    */
  def diffInDiff(df: DataFrame, group: Column, unit: Column,
      tsCol: Column, metric: Column, tCrit: Double = 1.96,
      dayUs: Long = 86400000000L): DataFrame = {
    val dec = "decimal(38,0)"
    val based = df.select(group.as("grp"),
      (pmod(unit, lit(2L)) === 1).as("__t"),
      unix_micros(tsCol).as("__us"), metric.cast("long").as("__x"))
      .withColumn("day", expr(s"__us div ${dayUs}L")).drop("__us")
    val span = based.agg(
        (min(col("day")) + max(col("day")) + 1).as("__c2"))
      .select(expr("__c2 div 2").as("cut"))
    val cells = based.join(broadcast(span))
      .withColumn("__po", col("day") >= col("cut"))
    def cnt(t: Boolean, po: Boolean) =
      sum(when(col("__t") === t && col("__po") === po, 1L).otherwise(0L))
    def s(t: Boolean, po: Boolean) =
      sum(when(col("__t") === t && col("__po") === po,
        col("__x").cast(dec)).otherwise(lit(0L).cast(dec)))
    def q(t: Boolean, po: Boolean) =
      sum(when(col("__t") === t && col("__po") === po,
        (col("__x") * col("__x")).cast(dec)).otherwise(lit(0L).cast(dec)))
    val agg = cells.groupBy("grp").agg(
      cnt(true, false).as("n_tpre"), s(true, false).as("__s_tpre"),
      q(true, false).as("__q_tpre"),
      cnt(true, true).as("n_tpost"), s(true, true).as("__s_tpost"),
      q(true, true).as("__q_tpost"),
      cnt(false, false).as("n_cpre"), s(false, false).as("__s_cpre"),
      q(false, false).as("__q_cpre"),
      cnt(false, true).as("n_cpost"), s(false, true).as("__s_cpost"),
      q(false, true).as("__q_cpost"))
    val aT = col("__s_tpost") * col("n_tpre") - col("__s_tpre") * col("n_tpost")
    val aC = col("__s_cpost") * col("n_cpre") - col("__s_cpre") * col("n_cpost")
    val dT = col("n_tpost").cast(dec) * col("n_tpre")
    val dC = col("n_cpost").cast(dec) * col("n_cpre")
    def meanD(s0: Column, n0: Column) = s0.cast("double") / n0
    def varS(s0: Column, q0: Column, n0: Column) =
      (q0.cast("double") - s0.cast("double") * s0.cast("double") / n0) /
        (n0 - 1)
    val didD =
      (meanD(col("__s_tpost"), col("n_tpost"))
        - meanD(col("__s_tpre"), col("n_tpre"))) -
      (meanD(col("__s_cpost"), col("n_cpost"))
        - meanD(col("__s_cpre"), col("n_cpre")))
    val se2 =
      varS(col("__s_tpost"), col("__q_tpost"), col("n_tpost")) / col("n_tpost") +
      varS(col("__s_tpre"), col("__q_tpre"), col("n_tpre")) / col("n_tpre") +
      varS(col("__s_cpost"), col("__q_cpost"), col("n_cpost")) / col("n_cpost") +
      varS(col("__s_cpre"), col("__q_cpre"), col("n_cpre")) / col("n_cpre")
    val ok = col("n_tpre") > 1 && col("n_tpost") > 1 &&
      col("n_cpre") > 1 && col("n_cpost") > 1 && se2 > 0
    val t = round(didD / sqrt(se2), 6) + 0.0
    agg.select(col("grp"), col("n_tpre"), col("n_tpost"),
      col("n_cpre"), col("n_cpost"),
      when(col("n_tpre") > 0 && col("n_tpost") > 0 &&
          col("n_cpre") > 0 && col("n_cpost") > 0,
        graft.PlanUtils.ratioRound(aT * dC - aC * dT, dT * dC, 6) + 0.0)
        .as("did"),
      when(ok, t).as("t_did"),
      coalesce(abs(when(ok, t)) > tCrit, lit(false)).as("significant"))
  }

  def labelNoise(knnLists: DataFrame, labels: DataFrame): DataFrame = {
    val lbl = labels.select(col("vec_id"), col("label"))
    val withQ = knnLists
      .join(lbl.withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("label", "label_q"), Seq("q_id"))
      .join(lbl.withColumnRenamed("vec_id", "nn_id")
        .withColumnRenamed("label", "label_n"), Seq("nn_id"))
    withQ.groupBy(col("q_id").as("vec_id"))
      .agg(
        first(col("label_q")).as("label"),
        count(lit(1)).as("n_neighbors"),
        sum(when(col("label_n") === col("label_q"), 1L).otherwise(0L)).as("n_agree"))
      // exact-int half-up (the sf10 round-at-tie class): k-NN vote
      // fractions like 9/12 land exactly ON 9-dp boundaries only for
      // pathological k, but the integer form costs nothing
      .withColumn("agree_frac",
        graft.PlanUtils.ratioRound(col("n_agree"), col("n_neighbors"), 9))
      .withColumn("suspect", lit(2L) * col("n_agree") < col("n_neighbors"))
  }

  /** Weight-of-Evidence / Information-Value feature screen (the
    * credit-scoring standard; Siddiqi 2006): per feature bin,
    * WoE = ln((gᵢ/G)/(bᵢ/B)) with add-one smoothing, and
    * IV = Σ (gᵢ/G − bᵢ/B)·WoEᵢ — "how separable is the label along
    * this feature", the screen run before any model training.
    *
    * Portability: bin counts are exact int64; the smoothed WoE is ONE
    * ln of an exact-int cross-ratio, rounded 9dp; each IV term is a
    * fixed IEEE dag on exact ratios and the 9-dp WoE, rounded 9dp and
    * DECIMAL-summed into the total. Published 6dp (+0.0 — WoE and IV
    * terms can be tiny negatives).
    *
    * Plan shape: corpus → ONE bin-keyed aggregate; everything after is
    * bin-count-sized. Output: per-bin rows (bin, g, b, woe, iv_term)
    * + an ALL row (bin NULL, totals, woe NULL, iv = the sum).
    */
  def woeIv(df: DataFrame, bin: Column, label: Column): DataFrame = {
    val dec = "decimal(38,12)"
    val agg = df.select(bin.cast("long").as("bin"), label.cast("long").as("y"))
      .groupBy("bin")
      .agg(sum("y").as("g"), (count(lit(1)) - sum(col("y"))).as("b"))
    val tot = agg.agg(sum("g").as("gt"), sum("b").as("bt"),
      count(lit(1)).as("k"))
    val woe = round(log(((col("g") + 1L) * (col("bt") + col("k"))).cast("double")
      / ((col("b") + 1L) * (col("gt") + col("k"))).cast("double")), 9)
    val ivTerm = round(((col("g") + 1L).cast("double") / (col("gt") + col("k"))
      - (col("b") + 1L).cast("double") / (col("bt") + col("k"))) * woe, 9)
    val perBin = agg.crossJoin(broadcast(tot))
      .select(col("bin"), col("g"), col("b"),
        (round(woe, 6) + 0.0).as("woe"), (round(ivTerm, 6) + 0.0).as("iv_term"),
        ivTerm.cast(dec).as("__t"))
    val allRow = perBin
      .agg(sum("g").as("g"), sum("b").as("b"), sum(col("__t")).as("__iv"))
      .select(lit(null).cast("long").as("bin"), col("g"), col("b"),
        lit(null).cast("double").as("woe"),
        (round(col("__iv").cast("double"), 6) + 0.0).as("iv_term"))
    perBin.drop("__t").unionByName(allRow)
  }

  /** Fleiss' kappa (Fleiss 1971): chance-corrected agreement among
    * `m` raters per item — the multi-annotator generalization of
    * [[cohenKappa]], the QA gate for consensus-labeled training data.
    * `ratings` carries one row per (item, rater-assignment).
    *
    * P̄ = Σᵢ(Σⱼ nᵢⱼ² − m) / (N·m·(m−1)) is an exact int64 ratio;
    * category shares pⱼ are exact ratios; P̄ₑ = Σ pⱼ² enters as 9-dp
    * terms decimal-summed; kappa is one IEEE dag, published 6dp
    * (+0.0). P̄ₑ = 1 (all raters constant) publishes NULL kappa.
    *
    * Plan shape: ratings → ONE (item, label)-keyed aggregate; the
    * per-item Σn² reduces item-keyed, categories reduce label-keyed —
    * nothing wider than the corpus ever shuffles. Output: one row per
    * category (label, n, p) + an ALL row (N, pbar, pe, kappa).
    */
  def fleissKappa(ratings: DataFrame, item: Column, label: Column,
      m: Int): DataFrame = {
    require(m >= 2, "Fleiss' kappa needs m >= 2 raters")
    val dec = "decimal(38,12)"
    val nij = ratings.select(item.as("i"), label.as("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n"))
    val perItem = nij.groupBy("i").agg(sum(col("n") * col("n")).as("s2"))
    val nTot = perItem.agg(count(lit(1)).as("nn"),
      sum(col("s2") - lit(m.toLong)).as("sp"))
    val pj = nij.groupBy("j").agg(sum("n").as("cj"))
    val cat = pj.crossJoin(broadcast(nTot))
      .select(col("j").as("label"), col("cj"),
        (col("cj").cast("double")
          / (col("nn") * lit(m.toLong)).cast("double")).as("p"))
    val pe = cat.agg(sum(round(col("p") * col("p"), 9).cast(dec)).as("peD"))
    val catRows = cat.select(col("label"), col("cj").as("n"),
      round(col("p"), 6).as("p"), lit(null).cast("double").as("pbar"),
      lit(null).cast("double").as("pe"), lit(null).cast("double").as("kappa"))
    val allRow = nTot.crossJoin(broadcast(pe))
      .select(lit("ALL").as("label"), col("nn").as("n"),
        lit(null).cast("double").as("p"),
        (col("sp").cast("double")
          / (col("nn") * lit(m.toLong * (m - 1).toLong)).cast("double")).as("pbar"),
        col("peD").cast("double").as("pe"))
      .select(col("label"), col("n"), col("p"), round(col("pbar"), 6).as("pbar"),
        round(col("pe"), 6).as("pe"),
        when(col("pe") < 1.0,
          round((col("pbar") - col("pe")) / (lit(1.0) - col("pe")), 6) + 0.0)
          .as("kappa"))
    catRows.unionByName(allRow)
  }

  /** Bradley–Terry preference-strength fit (Bradley & Terry 1952) via
    * `rounds` fixed iterations of the Zermelo/Hunter MM update — the
    * model behind pairwise human-preference data (RLHF reward
    * modeling, LLM arena leaderboards): p(i beats j) = πᵢ/(πᵢ+πⱼ),
    * fit by πᵢ ← Wᵢ / Σⱼ nᵢⱼ/(πᵢ+πⱼ), normalized to Σπ = 1 per round.
    *
    * Portability: the pair matrix (nᵢⱼ, wᵢⱼ) is exact int64; each MM
    * round's per-opponent terms are rounded 9dp and DECIMAL-summed
    * (order-independent), the division and normalization run on
    * identical doubles, and the next round's π is re-rounded 9dp — so
    * every engine walks the same fixpoint path bit-for-bit. Published
    * strength at 6dp. Items with zero wins converge to π = 0 (the
    * MLE boundary); a pair of mutually-unplayed zero-win items cannot
    * make a 0/0 term because every played pair has a winner.
    *
    * Plan shape: outcomes → ONE (winner, loser)-keyed aggregate; the
    * item-squared pair matrix is cached once and every round is
    * broadcast-joined against the item-sized π table — iteration cost
    * is independent of the outcome count. Output: (item, n_comps,
    * wins, strength).
    */
  def bradleyTerry(outcomes: DataFrame, winner: Column, loser: Column,
      rounds: Int = 5): DataFrame = {
    val dec = "decimal(38,12)"
    graft.CacheScope.pinned { pins =>
      // pin the per-(winner, loser) counts: the symmetrization below
      // references wl TWICE — unpinned, the corpus aggregation (and any
      // upstream window) would run once per branch. coalesce(1): every
      // table from here on is item²-sized, so the 5 MM rounds run as
      // 1-task stages instead of shuffle.partitions-wide ones.
      val wl = pins(outcomes.select(winner.as("w"), loser.as("l"))
        .groupBy("w", "l").agg(count(lit(1)).as("c"))
        .coalesce(1))
      val sym = pins(wl.select(col("w").as("i"), col("l").as("j"),
          col("c").as("wi"), col("c").as("nn"))
        .unionByName(wl.select(col("l").as("i"), col("w").as("j"),
          lit(0L).as("wi"), col("c").as("nn")))
        .groupBy("i", "j").agg(sum("wi").as("w"), sum("nn").as("n")))
      val tot = sym.groupBy("i").agg(sum("w").as("wins"), sum("n").as("n_comps"))
      var p = tot.select(col("i"), lit(1.0).as("p"))
      for (_ <- 1 to rounds) {
        val pi = p.select(col("i"), col("p").as("pi"))
        val pj = p.select(col("i").as("j"), col("p").as("pj"))
        val den = sym
          .join(broadcast(pi), Seq("i"))
          .join(broadcast(pj), Seq("j"))
          .groupBy("i")
          .agg(sum(round(col("n").cast("double") / (col("pi") + col("pj")), 9)
            .cast(dec)).as("den"))
        // item-sized; localCheckpoint truncates the recurrence lineage —
        // praw is referenced twice (normalizer + update) and p twice
        // (both sides of the pair join), so an unpinned plan doubles
        // per round (the nearDupClusters/bpeMerges lesson). LAZY form
        // (the labelPropagation/kCore idiom): an eager checkpoint here
        // is one blocking driver job per MM round; lazy truncates the
        // lineage identically but lets all rounds run inside the
        // caller's single action.
        val praw = pins.checkpoint(tot.join(broadcast(den), Seq("i"))
          .select(col("i"), round(col("wins").cast("double")
            / col("den").cast("double"), 9).as("praw")))
        val s = praw.agg(sum(col("praw").cast(dec)).as("s"))
        p = praw.crossJoin(broadcast(s))
          .select(col("i"),
            round(col("praw") / col("s").cast("double"), 9).as("p"))
      }
      tot.join(p, Seq("i"))
        .select(col("i").as("item"), col("n_comps"), col("wins"),
          round(col("p"), 6).as("strength"))
    }
  }

  /** Chance-corrected annotator agreement (Cohen 1960): kappa between
    * two label columns — the labeling-QA gate every annotation or
    * weak-supervision pipeline runs before trusting its labels. One
    * 'ALL' row carries the multi-class kappa; one row per label
    * carries the one-vs-rest binary kappa (which classes the
    * annotators actually disagree on).
    *
    * po and pe are exact-int ratios (counts and marginal products over
    * the confusion matrix), so kappa = (po − pe) / (1 − pe) is one
    * fixed IEEE dag on identical doubles in every engine; published
    * 6dp (+0.0 absorbs negative-zero on near-chance agreement).
    * Degenerate pe = 1 (both annotators constant) publishes NULL.
    *
    * Plan shape: corpus → ONE (a,b)-keyed partial-combined aggregate;
    * everything after runs on the label-squared-sized matrix (collect-
    * free: marginals ride broadcast joins). Output: (label, n, po, pe,
    * kappa).
    */
  def cohenKappa(labeled: DataFrame, a: Column, b: Column): DataFrame = {
    val cm = labeled.select(a.as("a"), b.as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    val tot = cm.agg(sum("c").as("n"),
      sum(when(col("a") === col("b"), col("c")).otherwise(0L)).as("diag"))
    val ra = cm.groupBy("a").agg(sum("c").as("ca"))
    val rb = cm.groupBy("b").agg(sum("c").as("cb"))
    val labels = ra.select(col("a").as("label"))
      .union(rb.select(col("b").as("label"))).distinct()
    val marg = labels
      .join(broadcast(ra.withColumnRenamed("a", "label")), Seq("label"), "left")
      .join(broadcast(rb.withColumnRenamed("b", "label")), Seq("label"), "left")
      .select(col("label"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val withTot = marg.crossJoin(broadcast(tot))
    val diagPer = cm.filter(col("a") === col("b"))
      .select(col("a").as("label"), col("c").as("tp"))
    // per-label one-vs-rest: po = (tp + tn)/n, pe from binary marginals
    val perLabel = withTot
      .join(broadcast(diagPer), Seq("label"), "left")
      .withColumn("tp", coalesce(col("tp"), lit(0L)))
      .withColumn("tn", col("n") - col("ca") - col("cb") + col("tp"))
      .withColumn("po",
        (col("tp") + col("tn")).cast("double") / col("n").cast("double"))
      .withColumn("pe",
        (col("ca") * col("cb") + (col("n") - col("ca")) * (col("n") - col("cb")))
          .cast("double") / (col("n") * col("n")).cast("double"))
      .select(col("label"), col("n"), col("po"), col("pe"))
    val peAll = withTot
      .agg(first(col("n")).as("n"), first(col("diag")).as("diag"),
        sum(col("ca") * col("cb")).as("s"))
      .select(lit("ALL").as("label"), col("n"),
        col("diag").cast("double") / col("n").cast("double") as "po",
        col("s").cast("double") / (col("n") * col("n")).cast("double") as "pe")
    perLabel.unionByName(peAll)
      .select(col("label"), col("n"),
        round(col("po"), 6).as("po"), round(col("pe"), 6).as("pe"),
        when(col("pe") < 1.0,
          round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6) + 0.0)
          .as("kappa"))
  }

  /** Tie-corrected Spearman rank correlation between two INTEGER-grid
    * features per group — the monotone-association screen (does a
    * quality score track a length proxy, does value drift with time)
    * run where Pearson's linearity assumption doesn't hold.
    *
    * Method: mid-ranks for ties, carried DOUBLED so every rank is
    * BIGINT-exact (the [[rocAuc]] / [[mannWhitneyU]] trick), then
    * Pearson on the doubled ranks — the factor 2 cancels. The joint
    * Σ 2rx·2ry needs the JOINT (x,y) distribution, so the corpus
    * combines ONCE into the (grp, x, y)-keyed count table (bounded by
    * the callers' grid choice, never corpus-sized); marginal doubled
    * mid-ranks come from cumulative windows over each marginal slice
    * of that table, and every product sum runs in DECIMAL(38,0)
    * (HUGEINT in DuckDB) — n·Σxy terms reach ~6e19 past sf1, over
    * int64.
    *
    * Portability: numerator and both variance terms are exact
    * integers; rho is ONE IEEE division-of-sqrt dag on them, rounded
    * 6 dp (+0.0 — rho can be a tiny negative).
    *
    * Scale shape: one map-side-combined (grp,x,y) aggregate reduces
    * the corpus; the per-group rank windows run over that bounded
    * table partitioned BY GROUP (no global window).
    */
  def spearmanCorr(df: DataFrame, group: Column, x: Column, y: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val joint = df.select(group.as("grp"), x.cast("long").as("x"),
        y.cast("long").as("y"))
      .groupBy("grp", "x", "y").agg(count(lit(1)).as("n_xy"))
    // doubled mid-rank of a tied block ending at cumulative count c
    // with block size m: 2r = 2(c - m) + m + 1
    def midRanks(col0: String): DataFrame = {
      val byV = joint.groupBy(col("grp"), col(col0).as("v"))
        .agg(sum("n_xy").as("m"))
      val asc = Window.partitionBy("grp").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byV.withColumn("c", sum("m").over(asc))
        .select(col("grp"), col("v"),
          (lit(2L) * (col("c") - col("m")) + col("m") + lit(1L)).as(s"r_$col0"))
    }
    val withR = joint
      .join(midRanks("x").withColumnRenamed("v", "x"), Seq("grp", "x"))
      .join(midRanks("y").withColumnRenamed("v", "y"), Seq("grp", "y"))
    val agg = withR.groupBy("grp").agg(
      sum("n_xy").as("n"),
      sum(col("n_xy").cast(dec) * col("r_x")).as("sx"),
      sum(col("n_xy").cast(dec) * col("r_y")).as("sy"),
      sum(col("n_xy").cast(dec) * col("r_x") * col("r_x")).as("sxx"),
      sum(col("n_xy").cast(dec) * col("r_y") * col("r_y")).as("syy"),
      sum(col("n_xy").cast(dec) * col("r_x") * col("r_y")).as("sxy"))
    val num = (col("n").cast(dec) * col("sxy") - col("sx") * col("sy")).cast("double")
    val vx = (col("n").cast(dec) * col("sxx") - col("sx") * col("sx")).cast("double")
    val vy = (col("n").cast(dec) * col("syy") - col("sy") * col("sy")).cast("double")
    agg.select(col("grp"), col("n"),
      when(vx > 0 && vy > 0, round(num / (sqrt(vx) * sqrt(vy)), 6) + 0.0)
        .as("rho"))
  }

  /** One-way ANOVA F-test + effect size across K groups — "does the
    * metric's mean differ across groups at all", the omnibus test run
    * before per-pair comparisons ([[welchTTest]]).
    *
    * Decomposition off ONE group-keyed combine of exact integer-grid
    * sums (metric pre-scaled to a long grid by the caller):
    * SSB = Σ_g s_g²/n_g − S²/N, SSW = Σ_g (q_g − s_g²/n_g).
    *
    * EXACT nano-unit lanes end to end (the sf10/zipf tie-boundary
    * class — the first form rounded each s_g²/n_g as an IEEE DOUBLE at
    * 9 dp, and the zipf corpus's hot-group sums landed it on the
    * x.…5 boundary where Spark and DuckDB round apart): each s_g²/n_g
    * and the grand term S²/N quantize by half-up INTEGER division to a
    * scale-9 decimal(38,0) lane ([[graft.PlanUtils.ratioRound]]'s
    * convention, kept in decimal because the nano values exceed
    * int64), the SS lanes are exact differences of those integers,
    * and every published stat is one half-up rational:
    * ss at 2 dp (sum-of-squares is corpus-sized — ssw·10² must stay
    * an exact long, good to sf ~10⁴; 6 dp would saturate near sf2),
    * F and eta² at 6 dp (O(1)-sized). No float touches anything
    * until the final published division.
    *
    * Scale shape: corpus → one K-row aggregate; everything after is
    * K-sized. The final single-row total is a coalesce(1)-free
    * aggregate over K rows.
    */
  def anovaF(df: DataFrame, group: Column, metric: Column,
      fCrit: Double = 2.21): DataFrame = {
    val dec = "decimal(38,0)"
    val S9 = lit(1000000000L)
    // half-up num/den at scale 9, kept in a decimal(38,0) lane (the
    // values exceed int64; ratioRound's long cast would overflow)
    def q9(num: Column, den: Column): Column = {
      val a = num.cast(dec) * S9 * lit(2L) + den.cast(dec)
      val b = den.cast(dec) * lit(2L)
      (a - pmod(a, b)) / b
    }
    val byG = df.select(group.as("grp"), metric.cast("long").as("v"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_g"), sum(col("v").cast(dec)).as("s_g"),
        sum((col("v").cast(dec) * col("v")).cast(dec)).as("q_g"))
      .withColumn("t_g", q9(col("s_g") * col("s_g"), col("n_g")).cast(dec))
    val tot = byG.agg(
      count(lit(1)).as("k"), sum("n_g").as("n"),
      sum("s_g").as("s"), sum("q_g").as("q"), sum("t_g").as("t"))
      .withColumn("grand9", q9(col("s") * col("s"), col("n")).cast(dec))
      .withColumn("ssb9", col("t") - col("grand9"))
      .withColumn("ssw9", col("q").cast(dec) * S9 - col("t"))
      .withColumn("sst9", col("q").cast(dec) * S9 - col("grand9"))
    val f = graft.PlanUtils.ratioRound(
      col("ssb9") * (col("n") - col("k")),
      col("ssw9") * (col("k") - lit(1L)), 6) + 0.0
    tot.select(col("k"), col("n"),
      (graft.PlanUtils.ratioRound(col("ssb9"), S9, 2) + 0.0).as("ss_between"),
      (graft.PlanUtils.ratioRound(col("ssw9"), S9, 2) + 0.0).as("ss_within"),
      (col("k") - 1).as("df1"), (col("n") - col("k")).as("df2"),
      when(col("ssw9") > 0 && col("n") > col("k"), f).as("f_stat"),
      when(col("sst9") > 0,
        graft.PlanUtils.ratioRound(col("ssb9"), col("sst9"), 6) + 0.0)
        .as("eta_sq"),
      coalesce(when(col("ssw9") > 0 && col("n") > col("k"), f) > fCrit,
        lit(false)).as("significant"))
  }

  /** Benjamini–Hochberg step-up FDR correction over a table of
    * hypotheses — the multiple-testing companion to the Bonferroni
    * bound published by the regression family: adjusted
    * p_(i) = min_{j ≥ i} p_(j)·m/j, clamped to 1, monotone by
    * construction; reject where adjusted p ≤ alpha.
    *
    * The suffix-min is a running min over the table sorted by p
    * DESCENDING, so one window pass computes it. Ties in p are safe:
    * tied hypotheses' suffix windows differ only by each other's
    * identical terms, so their adjusted values coincide regardless of
    * tie order (the secondary id sort just pins row order for the
    * oracle).
    *
    * Scale note: the input is a HYPOTHESIS table (one row per tested
    * feature/metric — metric-sized by construction, the caller's
    * contract), so the global window is bounded; this never runs over
    * a corpus.
    */
  def fdrBh(pvals: DataFrame, id: Column, p: Column,
      alpha: Double = 0.05): DataFrame = {
    val base = pvals.select(id.as("id"), p.cast("double").as("p"))
    val m = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val desc = Window.orderBy(col("p").desc, col("id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("m", count(lit(1)).over(m))
      .withColumn("rank", col("m") - count(lit(1)).over(desc) + 1L)
      // p*m/rank is one IEEE dag on exact ints and the published p;
      // round 9dp BEFORE the running min so the min compares
      // identical doubles on both engines
      .withColumn("term", round(col("p") * col("m") / col("rank"), 9))
      .withColumn("p_adj", least(min(col("term")).over(desc), lit(1.0)))
      .select(col("id"), col("p"), col("rank"),
        round(col("p_adj"), 6).as("p_adj"),
        (col("p_adj") <= alpha).as("reject"))
  }

  /** Isotonic-regression calibration (PAV fit) on an integer score
    * grid: the nonparametric score→probability map (Zadrozny & Elkan
    * 2002) that [[calibrationBins]]' fixed-width bins approximate —
    * monotone by construction, no bin-width hyperparameter.
    *
    * Instead of the sequential pool-adjacent-violators loop, compute
    * the SAME fit through the minimax identity
    *   iso(i) = max_{j≤i} min_{k≥i} mean(y[j..k])
    * which is pure dataflow: the corpus reduces in ONE score-keyed
    * aggregate to the m-row grid (exact int64 event/total counts),
    * prefix sums give every interval mean as a single IEEE division of
    * exact integers, and two window passes over the m²/2 interval
    * table (running min over k desc per j, then a max per i) produce
    * the fit. Everything after the first aggregate is
    * distinct-score-sized — the [[rocAuc]]/[[conformalThresholds]]
    * metric-table discipline, with an m² term a calibration grid
    * (hundreds of scores) keeps trivial.
    *
    * Portability: counts are exact ints, and every interval mean
    * enters the min/max ordering as a SCALE-18 INTEGER key
    * ⌊num·10¹⁸/den⌋ instead of a double — comparisons are exact, and
    * since a mean can only land ON a 6-dp rounding boundary when its
    * decimal expansion terminates (where the key is exact), the
    * published fit is decided by integer half-up ([[ratioRound]] on
    * the winning key), never by rounding an inexact double. Key
    * resolution bounds the contract at den < 5·10¹¹ rows per interval
    * (far past any calibration grid's corpus share). Output:
    * (s, n, y_pos, rate, iso), iso nondecreasing in s (the PAV
    * guarantee, spec-pinned).
    */
  def isotonicCalibration(df: DataFrame, score: Column, y: Column): DataFrame = {
    val dec0 = "decimal(38,0)"
    val sc18 = lit(1000000000000000000L).cast(dec0)
    val base = df.select(score.cast("long").as("s"),
        when(y, 1L).otherwise(0L).as("yy"))
      .groupBy("s").agg(count(lit(1)).as("w"), sum("yy").as("ysum"))
    val wRun = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = base
      .withColumn("cw", sum("w").over(wRun))
      .withColumn("cy", sum("ysum").over(wRun))
    val j = pre.select(col("s").as("sj"), col("w").as("wj"),
      col("ysum").as("yj"), col("cw").as("cwj"), col("cy").as("cyj"))
    val k = pre.select(col("s").as("sk"), col("cw").as("cwk"),
      col("cy").as("cyk"))
    // every interval [j..k]: exact-int mass from prefix differences
    // (cw_k − cw_j + w_j includes j itself); m²/2 rows, metric-sized.
    // a = the interval mean as a scale-18 integer (floor division)
    val num = (col("cyk") - col("cyj") + col("yj")).cast(dec0) * sc18
    val den = (col("cwk") - col("cwj") + col("wj")).cast(dec0)
    val pairs = j.join(k, col("sj") <= col("sk"))
      .select(col("sj"), col("sk"),
        ((num - pmod(num, den)) / den).cast(dec0).as("a"))
    val wMinK = Window.partitionBy("sj").orderBy(col("sk").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iso = pairs.withColumn("b", min(col("a")).over(wMinK))
      .groupBy(col("sk").as("s")).agg(max(col("b")).as("isoKey"))
    base.join(iso, Seq("s"))
      .select(col("s"), col("w").as("n"), col("ysum").as("y_pos"),
        graft.PlanUtils.ratioRound(col("ysum"), col("w"), 6).as("rate"),
        graft.PlanUtils.ratioRound(col("isoKey"),
          lit(1000000000000000000L), 6).as("iso"))
  }

  /** Black-box shift estimation (BBSE, Lipton et al. 2018), binary
    * form: estimate the TARGET label distribution and the
    * importance weights w(y) = p_tgt(y)/p_src(y) from (a) the
    * classifier's confusion on a LABELED source slice and (b) only its
    * PREDICTIONS on the unlabeled target slice — the label-shift
    * monitor run before reweighting or retraining on drifted data.
    * Solves C·w = μ (C = source joint p(ŷ, y), μ = target p(ŷ)) by
    * Cramer; identifiability requires det C ≠ 0 (a better-than-random
    * classifier), NULL otherwise.
    *
    * Portability: the corpus reduces to SEVEN int64 counters in one
    * aggregate; every published statistic is one IEEE division of
    * exact integer products carried in DECIMAL(38,0)/HUGEINT lanes
    * (triple products of counts leave int64 at ~2e6 rows):
    *   w_pos  = n_s·(m₁·n̄₀₀ − n̄₁₀·m₀) / (m·detInt),
    *   π_pos  = (m₁·n̄₀₀ − n̄₁₀·m₀)·(n̄₁₁+n̄₀₁) / (m·detInt),
    * with detInt = n̄₁₁·n̄₀₀ − n̄₁₀·n̄₀₁ (source confusion cells).
    * Estimates are published UNCLIPPED (BBSE can emit small negatives
    * under sampling noise; clipping is the caller's policy).
    *
    * Plan shape: ONE partial-combined aggregate → constant-sized dag.
    * Output: one row per class (cls, n_src_true, n_src_pred, m_pred,
    * w, pi_target).
    */
  def labelShiftBbse(df: DataFrame, predPos: Column, truePos: Column,
      isSource: Column): DataFrame = {
    val dec0 = "decimal(38,0)"
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val agg = df.select(predPos.as("p"), truePos.as("t"),
        isSource.as("src"))
      .agg(
        cnt(col("src") && col("p") && col("t")).as("n11"),
        cnt(col("src") && col("p") && !col("t")).as("n10"),
        cnt(col("src") && !col("p") && col("t")).as("n01"),
        cnt(col("src") && !col("p") && !col("t")).as("n00"),
        cnt(col("src")).as("ns"),
        cnt(!col("src") && col("p")).as("m1"),
        cnt(!col("src") && !col("p")).as("m0"))
    def d(c: Column) = c.cast(dec0)
    val rows = agg.select(col("*"),
        (d(col("n11")) * col("n00") - d(col("n10")) * col("n01")).as("det"),
        (col("m1") + col("m0")).as("m"))
      .select(col("*"),
        (d(col("m1")) * col("n00") - d(col("n10")) * col("m0")).as("numP"),
        (d(col("n11")) * col("m0") - d(col("m1")) * col("n01")).as("numN"))
    // exact-int half-up (the sf10 round-at-tie class); det can be
    // negative, so normalize the sign into the numerator (ratioRound
    // requires a positive denominator)
    def ratio(num: Column, scale: Column) =
      when(col("det") =!= 0 && col("m") > 0,
        graft.PlanUtils.ratioRound(
          when(col("det") < 0, -num * scale).otherwise(num * scale),
          abs(d(col("m")) * col("det")), 6) + 0.0)
    val pos = rows.select(lit("pos").as("cls"),
      (col("n11") + col("n01")).as("n_src_true"),
      (col("n11") + col("n10")).as("n_src_pred"), col("m1").as("m_pred"),
      ratio(col("numP"), d(col("ns"))).as("w"),
      ratio(col("numP"), d(col("n11") + col("n01"))).as("pi_target"))
    val neg = rows.select(lit("neg").as("cls"),
      (col("n10") + col("n00")).as("n_src_true"),
      (col("n01") + col("n00")).as("n_src_pred"), col("m0").as("m_pred"),
      ratio(col("numN"), d(col("ns"))).as("w"),
      ratio(col("numN"), d(col("n10") + col("n00"))).as("pi_target"))
    pos.unionByName(neg)
  }

  /** McNemar's paired test (McNemar 1947, uncorrected form): did
    * classifier B improve on classifier A, judged on the SAME items —
    * the right test when two models share an eval set (a paired-sample
    * design the two-proportion z-test gets wrong because it ignores
    * the pairing). Only the discordant counts carry signal:
    * n10 = A right / B wrong, n01 = A wrong / B right,
    * χ² = (n10 − n01)² / (n10 + n01), df = 1.
    *
    * Portability: all four cell counts are exact int64 from one
    * aggregate; χ² is a single IEEE division on them, published 6dp.
    * No discordant pairs (n10 + n01 = 0) publishes NULL — the models
    * are indistinguishable on this set by construction.
    *
    * Plan shape: the paired frame reduces in ONE partial-combined
    * aggregate to four counters; everything after is constant-sized.
    */
  def mcnemar(paired: DataFrame, aCorrect: Column, bCorrect: Column): DataFrame = {
    val agg = paired.select(aCorrect.cast("boolean").as("a"),
        bCorrect.cast("boolean").as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
        sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"),
        sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"))
    // 3.841459 = chi2(1) critical value at alpha = 0.05 — a published
    // constant, not a computed quantile (both engines compare the same
    // literal)
    agg.select(col("n"), col("n11"), col("n00"), col("n10"), col("n01"),
      when(col("n10") + col("n01") > 0L,
        graft.PlanUtils.ratioRound(
          (col("n10") - col("n01")) * (col("n10") - col("n01")),
          col("n10") + col("n01"), 6) + 0.0)
        .as("chi2"))
      .withColumn("significant",
        when(col("chi2").isNotNull, col("chi2") > 3.841459))
  }

  /** Krippendorff's alpha, nominal metric (Krippendorff 1970) — the
    * agreement coefficient that, unlike [[fleissKappa]], tolerates
    * MISSING ratings: items keep whatever raters they have, items with
    * fewer than 2 ratings drop out (nothing to pair). The general QA
    * gate for crowd-labeled training data where annotator coverage is
    * ragged.
    *
    * Coincidence-matrix identities keep it exact: with nᵤ𝒸 = count of
    * category c in item u and mᵤ = Σ𝒸 nᵤ𝒸,
    *   category totals  n𝒸 = Σᵤ nᵤ𝒸            (exact int64)
    *   observed-disagreement mass Σ_{c≠k} o_{ck}
    *     = Σᵤ (mᵤ² − Σ𝒸 nᵤ𝒸²) / (mᵤ − 1)      (9-dp terms, decimal sum)
    *   expected mass      n² − Σ𝒸 n𝒸²          (exact int64)
    *   α = 1 − (n − 1) · Σ_{c≠k} o_{ck} / (n² − Σ𝒸 n𝒸²).
    * When every mᵤ is odd-free of remainders (e.g. the constant-m
    * rater frame) the per-item division is exact anyway; the 9-dp
    * round makes the ragged case replay identically in both engines.
    * All ratings in one category (expected mass 0) publishes NULL.
    *
    * Plan shape: ratings → ONE (item, category)-keyed aggregate; the
    * item-keyed and category-keyed reductions both run on that bounded
    * table; nothing wider than the ratings ever shuffles. Output: one
    * row per category (label, n) + an ALL row (n, do_mass, alpha).
    */
  def krippendorffAlpha(ratings: DataFrame, item: Column, label: Column): DataFrame = {
    val dec = "decimal(38,12)"
    val nij = ratings.select(item.as("i"), label.as("j"))
      .groupBy("i", "j").agg(count(lit(1)).as("n"))
    // pairable items only: mu >= 2 (an unpaired rating has no
    // coincidence to contribute)
    val perItem = nij.groupBy("i")
      .agg(sum("n").as("mu"), sum(col("n") * col("n")).as("s2"))
      .filter(col("mu") >= 2L)
    val doMass = perItem.agg(
      sum("mu").as("nn"),
      sum(round((col("mu") * col("mu") - col("s2")).cast("double")
        / (col("mu") - 1L).cast("double"), 9).cast(dec)).as("doMass"))
    // n² − Σ n𝒸² in DECIMAL(38,0) lanes (HUGEINT in the oracle): past
    // ~3e9 ratings the squares leave int64 (the q_colloc lesson)
    val dec0 = "decimal(38,0)"
    val nc = nij.join(perItem.select("i"), Seq("i"))
      .groupBy("j").agg(sum("n").as("cj"))
    val sumSq = nc.agg(sum(col("cj").cast(dec0) * col("cj")).as("sq"))
    val catRows = nc.select(col("j").as("label"), col("cj").as("n"),
      lit(null).cast("double").as("do_mass"),
      lit(null).cast("double").as("alpha"))
    // publication in exact arithmetic (the sf10 round-at-tie class):
    // do_mass rounds AS DECIMAL; alpha = [E − (n−1)·Do] / E with
    // E = n² − Σn𝒸² runs through ratioRound on 10⁹-scaled integers
    // (doMass carries 9-dp terms) — exact to ~1e9 pairable ratings,
    // overflow-null (visible, never wrong) beyond
    val sc9 = 1000000000L
    val allRow = doMass.crossJoin(broadcast(sumSq))
      .select(lit("ALL").as("label"), col("nn").as("n"),
        (round(col("doMass"), 6).cast("double") + 0.0).as("do_mass"),
        when(col("nn").cast(dec0) * col("nn") > col("sq"),
          graft.PlanUtils.ratioRound(
            (col("nn").cast(dec0) * col("nn") - col("sq")) * lit(sc9)
              - (col("nn") - 1L) * (col("doMass") * lit(sc9)),
            (col("nn").cast(dec0) * col("nn") - col("sq")) * lit(sc9), 6) + 0.0)
          .as("alpha"))
    catRows.unionByName(allRow)
  }
}
