package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Massively-parallel standardized OLS — the reference's 1000-regression
  * hypothesis-testing pipeline (`Assignment 3/a3_p1.py`): per word,
  * regress an outcome on the word's relative frequency, optionally with
  * a control covariate, and report standardized β, t-statistic and
  * Bonferroni-corrected two-sided p-value.
  *
  * Design: the reference ships each word's observation list to a numpy
  * `pinv` solve (`a3_p1.py:77-96,111-131`). For standardized variables
  * the OLS solution is a closed form over Pearson correlations:
  *
  *   simple:        β = r_xy,           t = β·√((n−2)/(1−β²)),  df = n−2
  *   two-predictor: β₁ = (r_y1 − r_y2·r_12)/(1 − r_12²)
  *                  R² = (r_y1² + r_y2² − 2·r_y1·r_y2·r_12)/(1 − r_12²)
  *                  t₁ = β₁·√((n−3)(1 − r_12²)/(1 − R²)),       df = n−3
  *
  * so the whole fit is `groupBy(word).agg(corr, corr, corr, count)` —
  * codegen'd partial aggregation, ONE shuffle over (word), no per-group
  * matrix materialization and no driver involvement. That is the shape
  * that survives 100 TB: the reference's groupByKey→list would OOM on a
  * hot word; sufficient statistics never grow past a few doubles per
  * group. (`RegressionOpsSpec` cross-checks the closed form against a
  * Breeze `pinv` solve on collected data.)
  *
  * p-values use Student's t survival function (commons-math3, which
  * ships inside Spark's own classpath) applied AFTER aggregation — a
  * non-codegen UDF touching k rows, not N.
  */
object RegressionOps {

  /** Student-t two-sided survival probability 2·P(T_df > |t|)
    * (`a3_p1.py:94-96` `stats.t.sf(abs(t), df)*2`).
    */
  def tSf2(t: Double, df: Long): Double =
    if (df <= 0 || t.isNaN) Double.NaN
    else {
      val dist = new org.apache.commons.math3.distribution.TDistribution(df.toDouble)
      2.0 * (1.0 - dist.cumulativeProbability(math.abs(t)))
    }

  private val tSf2Udf = udf((t: Double, df: Long) => tSf2(t, df))

  /** Bonferroni multiplier as a COLUMN: explicit k when given, else
    * `count(*) over ()` on the aggregated (k-row) stats frame — inside
    * the plan, so omitting the parameter no longer hides a driver-
    * blocking `stats.count()` action in plan construction. The
    * unpartitioned window touches k aggregated rows, not N.
    */
  private def bonfK(explicit: Option[Long]): Column =
    explicit.map(k => lit(k.toDouble)).getOrElse(
      count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy())
        .cast(DoubleType))

  /** Dense per-(word ∈ top-k, doc) observations — the reference's
    * "emit a triple for EVERY top word per review, zero frequency
    * included" join (`a3_p1.py:49-59`, J1 in SURVEY.md §2.3):
    * docs × broadcast(top-k words) cross join, left join term
    * frequencies, `coalesce(0)`. Output: (word, doc_id, x, y, c) with
    * x = relative frequency, y = outcome, c = control.
    *
    * The only wide exchanges are the token aggregations; the dense
    * expansion itself is a broadcast nested-loop (k rows) plus a
    * broadcast-able left join, all streaming — no driver collection of
    * the top-k list as in the reference.
    */
  def denseWordObservations(docs: DataFrame, k: Int,
      outcome: Column, control: Column,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    // three consumers (doc lengths, term frequencies, top-k) → tokenize
    // once and pin the token stream for the query
    val toks = p(TextOps.tokenize(docs, "doc_id", textCol))
    val docLen = toks.groupBy("doc_id").agg(count(lit(1)).as("total"))
    val tf = toks.groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
    val top = TextOps.topKFromTokens(toks, k).select("word")
    docs.select(col("doc_id"), outcome.cast(DoubleType).as("y"),
        control.cast(DoubleType).as("c"))
      .join(docLen, "doc_id")
      .crossJoin(broadcast(top))
      .join(tf, Seq("doc_id", "word"), "left")
      .select(col("word"), col("doc_id"),
        (coalesce(col("cnt"), lit(0L)).cast(DoubleType) / col("total")).as("x"),
        col("y"), col("c"))
  }

  /** Per-word simple standardized OLS of y on x: (word, n, beta, t, p,
    * p_bonf). `bonferroniK` defaults to the number of simultaneous
    * tests = distinct words.
    */
  def simpleRegression(obs: DataFrame, bonferroniK: Option[Long] = None): DataFrame = {
    val stats = obs.groupBy("word").agg(
      count(lit(1)).as("n"), corr(col("x"), col("y")).as("beta"))
    stats
      .withColumn("t", col("beta") * sqrt((col("n") - 2) / (lit(1.0) - col("beta") * col("beta"))))
      .withColumn("p", tSf2Udf(col("t"), col("n") - 2))
      .withColumn("p_bonf", least(col("p") * bonfK(bonferroniK), lit(1.0)))
  }

  /** Per-word two-predictor standardized OLS of y on (x, c):
    * (word, n, beta1, beta2, t1, p1, p1_bonf).
    */
  def multiRegression(obs: DataFrame, bonferroniK: Option[Long] = None): DataFrame = {
    val stats = obs.groupBy("word").agg(
      count(lit(1)).as("n"),
      corr(col("x"), col("y")).as("ry1"),
      corr(col("c"), col("y")).as("ry2"),
      corr(col("x"), col("c")).as("r12"))
    val denom = lit(1.0) - col("r12") * col("r12")
    val r2 = (col("ry1") * col("ry1") + col("ry2") * col("ry2")
      - lit(2.0) * col("ry1") * col("ry2") * col("r12")) / denom
    stats
      .withColumn("beta1", (col("ry1") - col("ry2") * col("r12")) / denom)
      .withColumn("beta2", (col("ry2") - col("ry1") * col("r12")) / denom)
      .withColumn("t1", col("beta1") * sqrt((col("n") - 3) * denom / (lit(1.0) - r2)))
      .withColumn("p1", tSf2Udf(col("t1"), col("n") - 3))
      .withColumn("p1_bonf", least(col("p1") * bonfK(bonferroniK), lit(1.0)))
      .select("word", "n", "beta1", "beta2", "t1", "p1", "p1_bonf")
  }

  /** Full-batch logistic regression by gradient descent — the
    * quality-classifier trainer (fastText-style: learn a keep/drop
    * model on surface features, score the corpus). Features are the
    * caller's (x1, x2) columns plus an intercept; label y ∈ {0, 1}.
    *
    *   σ_i = 1/(1 + exp(−(b0 + b1·x1 + b2·x2)))
    *   b_j ← b_j − lr · (Σ_i (σ_i − y_i)·x_ij) / n,  rounded at 9 dp
    *
    * Unlike the linear case ([[graft.functions.MomentumGD]]), the
    * logistic gradient is NOT a function of fixed sufficient
    * statistics — σ re-evaluates per iteration — so each round is one
    * full pass: a map-only σ/gradient projection feeding a partially-
    * aggregated 3-sum reduce over a persisted, projection-slim feature
    * frame. Driver state is 3 doubles. `iters` passes over 100 TB is
    * the honest price of a non-linear link; production caps iters
    * (logistic GD converges in a handful of full-batch rounds on
    * standardized features) or fits on a bounded sample.
    *
    * Engine-portability (the lm_nll recipe): per-row σ and gradient
    * terms are rounded at 9 dp and decimal-summed — order-independent;
    * β is re-rounded at 9 dp after every update (driver mirrors SQL
    * `round(x, 9)` via BigDecimal.valueOf + HALF_UP, the same rule
    * Spark's `round` applies), so the whole trajectory replays exactly
    * in an unrolled-CTE oracle. Published values are the raw doubles of
    * that deterministic chain (the q_robust_z lesson: don't re-round a
    * deterministic double).
    *
    * Output: 6 (metric, value) rows — b0/b1/b2, n_correct/n_docs and
    * training accuracy at the 0.5 threshold (decided on z > 0, an
    * exact compare).
    */
  def logisticGd(featsIn: DataFrame, iters: Int = 3, lr: Double = 0.5): DataFrame = {
    val session = featsIn.sparkSession
    import session.implicits._
    // the returned frame is driver-side rows: the pin releases at return
    graft.CacheScope.pinned { p =>
      val feats = p(graft.PlanUtils.spread(featsIn.select(
        col("x1").cast(DoubleType).as("x1"), col("x2").cast(DoubleType).as("x2"),
        col("y").cast(DoubleType).as("y"))))
      def r9(v: Double): Double = java.math.BigDecimal.valueOf(v)
        .setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()
      def zOf(b: Array[Double]): Column =
        lit(b(0)) + lit(b(1)) * col("x1") + lit(b(2)) * col("x2")
      var b = Array(0.0, 0.0, 0.0)
      for (_ <- 1 to iters) {
        val sig = round(lit(1.0) / (lit(1.0) + exp(-zOf(b))), 9)
        def gSum(term: Column): Column =
          sum(round(term, 9).cast("decimal(28,12)"))
        val row = feats.agg(gSum(sig - col("y")).as("s0"),
          gSum((sig - col("y")) * col("x1")).as("s1"),
          gSum((sig - col("y")) * col("x2")).as("s2"),
          count(lit(1)).as("n")).head()
        val n = row.getLong(3).toDouble
        b = Array.tabulate(3)(j =>
          r9(b(j) - lr * (row.getDecimal(j).doubleValue() / n)))
      }
      val z = zOf(b)
      val acc = feats.agg(
        sum(when((z > lit(0.0)) === (col("y") === lit(1.0)), 1L).otherwise(0L))
          .as("nc"),
        count(lit(1)).as("n")).head()
      val (nc, n) = (acc.getLong(0), acc.getLong(1))
      Seq(("b0", b(0)), ("b1", b(1)), ("b2", b(2)),
        ("n_correct", nc.toDouble), ("n_docs", n.toDouble),
        ("accuracy", nc.toDouble / n.toDouble))
        .toDF("metric", "value").orderBy("metric")
    }
  }

  /** Decision-stump training by exhaustive exact Gini split search
    * (CART's root split, Breiman et al. 1984): every threshold
    * "x ≤ t" between distinct feature values is scored by the
    * weighted child impurity — equivalently argmin of
    * posL·negL/nL + posR·negR/nR (the 2/N factor is constant) — and
    * the full candidate table is published with each split's child
    * counts, 6-dp score, and rank (rank 1 = the trained stump).
    *
    * Arithmetic: the corpus reduces in ONE feature-keyed aggregate;
    * the cumulative-count window and scoring run on the
    * DISTINCT-value table (bounded — the discretized-feature
    * contract, same as rocAuc). Scores are IEEE doubles built from
    * exact int64 products/divisions — bit-identical across engines;
    * rank breaks ties on the raw score then the threshold.
    */
  def giniStump(df: DataFrame, feature: Column, label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byx = df.select(feature.as("x"), label.cast("long").as("y"))
      .groupBy("x").agg(count(lit(1)).as("n"), sum("y").as("pos"))
    val cw = Window.orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = byx.agg(sum("n").as("__N"), sum("pos").as("__P"))
    val negL = col("n_left") - col("pos_left")
    val nR = col("__N") - col("n_left")
    val posR = col("__P") - col("pos_left")
    val negR = nR - posR
    val score = col("pos_left").cast("double") * negL / col("n_left") +
      posR.cast("double") * negR / nR
    val rw = Window.orderBy(col("__score").asc, col("split").asc)
    byx
      .select(col("x").as("split"),
        sum("n").over(cw).as("n_left"), sum("pos").over(cw).as("pos_left"))
      .crossJoin(broadcast(tot))
      .filter(col("n_left") < col("__N")) // right child must be nonempty
      .withColumn("__score", score)
      .select(col("split"), col("n_left"), col("pos_left"),
        nR.as("n_right"), posR.as("pos_right"),
        round(col("__score"), 6).as("score"),
        row_number().over(rw).as("rank"))
  }
}
