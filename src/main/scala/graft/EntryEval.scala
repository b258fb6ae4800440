package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._
import graft.EntryHelpers._

/** model-eval family: GD, confusion/AUC/calibration, drift, agreement, survival, eval utilities.
  *
  * One registry slice of [[SparkEntry]]: `queries` declares each gated
  * Spark pipeline once, as a [[Query]] beside the DuckDB replay the
  * driver hash-compares it against.
  */
private[graft] object EntryEval {

  val queries: Seq[Query] = Seq(
    // Per-label embedding centroids through the vector-mean UDAF: one
    // label-keyed exchange shipping (n, 64 decimal sums) buffers — no
    // posexplode row amplification (64× on a 100 TB embedding table),
    // exact order-insensitive decimal sums (see VectorMeanAgg). The
    // float→decimal step rides Spark's own cast chain in the plan.
    // codec-free elementwise recomputation over the 64 dims
    Query("q_centroids", (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"),
          expr("transform(embedding, x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(28,12)))")
            .as("emb_dec"))
        .groupBy("label")
        .agg(graft.functions.VectorMeanAgg.vectorMean(col("emb_dec")).as("centroid"),
          count(lit(1)).as("n"))
        .select(col("label"), col("n"), posexplode(col("centroid")))
        .select(col("label"), col("n"), col("pos").as("d"),
          round(col("col"), 6).as("c"))
        .orderBy("label", "d"),
      """SELECT label, count(*) AS n, CAST(d AS INTEGER) AS d,
        |       round(CAST(sum(CAST(CAST(embedding[d+1] AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
        |             / count(*), 6) AS c
        |FROM embeddings CROSS JOIN range(64) r(d)
        |GROUP BY label, d
        |ORDER BY label, d""".stripMargin),
    // Momentum gradient descent (Part_2.pdf p.2 Q2): standardized-space
    // optimization from ONE pass over the data (raw-moment algebra);
    // every iteration is driver-side O(p²) — so running to convergence
    // (2000 iterations ≈ free) is exact: the converged β IS the
    // standardized OLS solution, which DuckDB expresses in closed form
    // from corr() — full rows/schema/hash oracle. Trajectory still
    // pinned step-by-step vs Breeze in MomentumGDSpec.
    // Quality-classifier training (fastText-style): full-batch logistic
    // regression via 3 GD rounds on surface features (en-stopword
    // ratio, scaled length) with label lang='en'. 9-dp σ/gradient
    // terms + decimal sums + per-round 9-dp β re-rounding make the
    // whole trajectory replay exactly in the unrolled-CTE oracle;
    // published values are the raw doubles of that chain. NOTE: the
    // driver corpus' lang column is (measured) nearly text-independent
    // — en-marker density 0.057-0.064 across ALL labels — so the
    // majority-class fit the gate converges to IS this data's optimum;
    // RegressionOpsSpec proves real learning (accuracy 1.0, signed β)
    // on a separable corpus.
    // Logistic GD replay: 3 unrolled rounds, each a MATERIALIZED
    // gradient CTE + β CTE mirroring the engine's exact expression
    // shapes (9-dp σ/terms, decimal sums, 9-dp β re-round)
    Query("q_logreg_gd", (s, dir) => {
      val ws = Tables.documents(s, dir)
        .select(col("lang"), DedupOps.words(col("text")).as("__ws"))
        .filter(size(col("__ws")) > 0)
      val feats = ws.select(
        (size(filter(col("__ws"), w => w.isin("the", "and", "of", "to", "a")))
          .cast("double") / size(col("__ws")).cast("double")).as("x1"),
        (size(col("__ws")).cast("double") / lit(100.0)).as("x2"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
      RegressionOps.logisticGd(feats, iters = 3, lr = 0.5)
    },
      """WITH f AS MATERIALIZED (
        |  SELECT CAST(len(list_filter(ws, t -> t IN ('the','and','of','to','a'))) AS DOUBLE)
        |           / CAST(len(ws) AS DOUBLE) AS x1,
        |         CAST(len(ws) AS DOUBLE) / 100.0 AS x2,
        |         CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE)
        |              ELSE CAST(0.0 AS DOUBLE) END AS y
        |  FROM (SELECT lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        |        FROM documents) t
        |  WHERE len(ws) > 0
        |), g1 AS MATERIALIZED (
        |  SELECT CAST(sum(CAST(round(sig - y, 9) AS DECIMAL(28,12))) AS DOUBLE) AS s0,
        |         CAST(sum(CAST(round((sig - y) * x1, 9) AS DECIMAL(28,12))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(round((sig - y) * x2, 9) AS DECIMAL(28,12))) AS DOUBLE) AS s2,
        |         count(*) AS n
        |  FROM (SELECT x1, x2, y,
        |          round(1.0 / (1.0 + exp(-(0.0 + 0.0 * x1 + 0.0 * x2))), 9) AS sig
        |        FROM f) r
        |), b1 AS MATERIALIZED (
        |  SELECT round(0.0 - 0.5 * (s0 / n), 9) AS b0,
        |         round(0.0 - 0.5 * (s1 / n), 9) AS b1v,
        |         round(0.0 - 0.5 * (s2 / n), 9) AS b2v FROM g1
        |), g2 AS MATERIALIZED (
        |  SELECT CAST(sum(CAST(round(sig - y, 9) AS DECIMAL(28,12))) AS DOUBLE) AS s0,
        |         CAST(sum(CAST(round((sig - y) * x1, 9) AS DECIMAL(28,12))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(round((sig - y) * x2, 9) AS DECIMAL(28,12))) AS DOUBLE) AS s2,
        |         count(*) AS n
        |  FROM (SELECT f.x1, f.x2, f.y,
        |          round(1.0 / (1.0 + exp(-(b.b0 + b.b1v * f.x1 + b.b2v * f.x2))), 9) AS sig
        |        FROM f, b1 b) r
        |), b2 AS MATERIALIZED (
        |  SELECT round(b.b0 - 0.5 * (g.s0 / g.n), 9) AS b0,
        |         round(b.b1v - 0.5 * (g.s1 / g.n), 9) AS b1v,
        |         round(b.b2v - 0.5 * (g.s2 / g.n), 9) AS b2v FROM g2 g, b1 b
        |), g3 AS MATERIALIZED (
        |  SELECT CAST(sum(CAST(round(sig - y, 9) AS DECIMAL(28,12))) AS DOUBLE) AS s0,
        |         CAST(sum(CAST(round((sig - y) * x1, 9) AS DECIMAL(28,12))) AS DOUBLE) AS s1,
        |         CAST(sum(CAST(round((sig - y) * x2, 9) AS DECIMAL(28,12))) AS DOUBLE) AS s2,
        |         count(*) AS n
        |  FROM (SELECT f.x1, f.x2, f.y,
        |          round(1.0 / (1.0 + exp(-(b.b0 + b.b1v * f.x1 + b.b2v * f.x2))), 9) AS sig
        |        FROM f, b2 b) r
        |), b3 AS MATERIALIZED (
        |  SELECT round(b.b0 - 0.5 * (g.s0 / g.n), 9) AS b0,
        |         round(b.b1v - 0.5 * (g.s1 / g.n), 9) AS b1v,
        |         round(b.b2v - 0.5 * (g.s2 / g.n), 9) AS b2v FROM g3 g, b2 b
        |), acc AS (
        |  SELECT sum(CASE WHEN ((b.b0 + b.b1v * f.x1 + b.b2v * f.x2) > 0.0) = (f.y = 1.0)
        |                  THEN 1 ELSE 0 END) AS nc, count(*) AS n
        |  FROM f, b3 b
        |)
        |SELECT metric, value FROM (
        |  SELECT 'b0' AS metric, b0 AS value FROM b3
        |  UNION ALL SELECT 'b1', b1v FROM b3
        |  UNION ALL SELECT 'b2', b2v FROM b3
        |  UNION ALL SELECT 'n_correct', CAST(nc AS DOUBLE) FROM acc
        |  UNION ALL SELECT 'n_docs', CAST(n AS DOUBLE) FROM acc
        |  UNION ALL SELECT 'accuracy', CAST(nc AS DOUBLE) / CAST(n AS DOUBLE) FROM acc
        |) u ORDER BY metric""".stripMargin),
    // Momentum GD run to convergence = standardized OLS, closed-form
    // from pairwise correlations (intercept is exactly 0 in z-space).
    Query("q_momentum_gd", (s, dir) => {
      import s.implicits._
      // spread: the moment aggregation's partial side is decimal-heavy;
      // without the barrier it runs inside the single-split scan task.
      val li = PlanUtils.spread(Tables.lineitem(s, dir).select(
        col("l_quantity").cast("double").as("x1"),
        col("l_discount").cast("double").as("x2"),
        col("l_extendedprice").cast("double").as("y")))
      val fit = graft.functions.MomentumGD.fitStandardized(li, Seq("x1", "x2"), "y",
        iters = 2000, lr = 0.05, gamma = 0.9)
      Seq(("beta_x1", fit.beta(0)), ("beta_x2", fit.beta(1)),
        ("intercept", fit.intercept))
        .toDF("coef", "value")
        .select(col("coef"), round(col("value"), 6).as("value"))
        .orderBy("coef")
    },
      """WITH st AS (
        |  SELECT corr(l_quantity, l_extendedprice) AS ry1,
        |         corr(l_discount, l_extendedprice) AS ry2,
        |         corr(l_quantity, l_discount) AS r12
        |  FROM lineitem
        |)
        |SELECT coef, round(value, 6) AS value FROM (
        |  SELECT 'beta_x1' AS coef, (ry1 - ry2 * r12) / (1 - r12 * r12) AS value FROM st
        |  UNION ALL
        |  SELECT 'beta_x2', (ry2 - ry1 * r12) / (1 - r12 * r12) FROM st
        |  UNION ALL
        |  SELECT 'intercept', 0.0 FROM st
        |) t ORDER BY coef""".stripMargin),
    // Per-class confusion report over the Naive-Bayes eval split:
    // corpus → ONE (true, pred)-keyed aggregate, then class-sized
    // marginal joins; exact-int precision/recall, F1 on those doubles.
    // per-class confusion over the same NB replay: one (t, p) agg +
    // class-sized marginals; DuckDB sums CAST to BIGINT
    Query("q_confusion", (s, dir) =>
      EvalOps.confusionReport(
          TextOps.naiveBayes(Tables.documents(s, dir), labelCol = "lang",
            evalMod = 5),
          col("true_label"), col("pred_label"))
        .orderBy("label"),
      s"""WITH nb AS ($NaiveBayesOracle),
         |cm AS (SELECT true_label AS t, pred_label AS p, count(*) AS n
         |       FROM nb GROUP BY 1, 2),
         |bt AS (SELECT t, CAST(sum(n) AS BIGINT) AS support FROM cm GROUP BY t),
         |bp AS (SELECT p AS t, CAST(sum(n) AS BIGINT) AS npred FROM cm GROUP BY p),
         |dg AS (SELECT t, n AS tp0 FROM cm WHERE t = p),
         |j AS (
         |  SELECT bt.t, bt.support, CAST(coalesce(dg.tp0, 0) AS BIGINT) AS tp,
         |         bp.npred
         |  FROM bt LEFT JOIN dg USING (t) LEFT JOIN bp USING (t)
         |)
         |SELECT t AS label, support, tp,
         |       round(CAST(tp AS DOUBLE) / npred, 6) AS precision,
         |       round(CAST(tp AS DOUBLE) / support, 6) AS recall,
         |       CASE WHEN npred IS NULL THEN NULL
         |            WHEN CAST(tp AS DOUBLE) / npred + CAST(tp AS DOUBLE) / support > 0
         |            THEN round(2.0 * (CAST(tp AS DOUBLE) / npred)
         |                       * (CAST(tp AS DOUBLE) / support)
         |                       / (CAST(tp AS DOUBLE) / npred
         |                          + CAST(tp AS DOUBLE) / support), 6)
         |            ELSE 0.0 END AS f1
         |FROM j ORDER BY label""".stripMargin),
    // Decision-stump training: exhaustive exact Gini split search on
    // the discretized doc-length feature vs the en label — the full
    // candidate-split table with child counts and rank (rank 1 = the
    // trained stump). Distinct-value-sized after one aggregate.
    // stump replay: same cumulative split table, same IEEE score dag
    Query("q_stump", (s, dir) =>
      RegressionOps.giniStump(Tables.documents(s, dir),
          expr("n_chars div 16"), col("lang") === "en")
        .orderBy("split"),
      """WITH byx AS (
        |  SELECT n_chars // 16 AS x, count(*) AS n,
        |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos
        |  FROM documents GROUP BY 1
        |), cum AS (
        |  SELECT x AS split,
        |         CAST(sum(n) OVER w AS BIGINT) AS n_left,
        |         CAST(sum(pos) OVER w AS BIGINT) AS pos_left
        |  FROM byx WINDOW w AS (ORDER BY x ROWS UNBOUNDED PRECEDING)
        |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |                  CAST(sum(pos) AS BIGINT) AS pp FROM byx),
        |sc AS (
        |  SELECT split, n_left, pos_left,
        |         t.nn - n_left AS n_right, t.pp - pos_left AS pos_right,
        |         CAST(pos_left AS DOUBLE) * (n_left - pos_left) / n_left
        |           + CAST(t.pp - pos_left AS DOUBLE)
        |             * ((t.nn - n_left) - (t.pp - pos_left)) / (t.nn - n_left) AS s
        |  FROM cum CROSS JOIN tot t WHERE n_left < t.nn
        |)
        |SELECT split, n_left, pos_left, n_right, pos_right,
        |       round(s, 6) AS score,
        |       row_number() OVER (ORDER BY s, split) AS rank
        |FROM sc ORDER BY split""".stripMargin),
    // Experimentation, continuous metric: Welch's unequal-variance
    // t-test per event type on `value` — six decimal accumulators in
    // one group-keyed aggregate, fixed IEEE dag for t and the
    // Welch–Satterthwaite df.
    // Welch replay: same decimal accumulators, same IEEE dag for t
    // and the Satterthwaite df; flag decided on the published t
    Query("q_welch_t", (s, dir) =>
      EvalOps.welchTTest(Tables.events(s, dir), col("event_type"),
          col("user_id"), col("value"))
        .orderBy("grp"),
      """WITH c AS (
        |  SELECT event_type AS grp, user_id % 2 AS v, CAST(value AS DOUBLE) AS x
        |  FROM events
        |), a AS (
        |  SELECT grp,
        |    CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    sum(CASE WHEN v = 0 THEN CAST(x AS DECIMAL(38,12))
        |             ELSE CAST(0 AS DECIMAL(38,12)) END) AS s0,
        |    sum(CASE WHEN v = 0 THEN CAST(x * x AS DECIMAL(38,12))
        |             ELSE CAST(0 AS DECIMAL(38,12)) END) AS q0,
        |    CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    sum(CASE WHEN v = 1 THEN CAST(x AS DECIMAL(38,12))
        |             ELSE CAST(0 AS DECIMAL(38,12)) END) AS s1,
        |    sum(CASE WHEN v = 1 THEN CAST(x * x AS DECIMAL(38,12))
        |             ELSE CAST(0 AS DECIMAL(38,12)) END) AS q1
        |  FROM c GROUP BY grp
        |), m AS (
        |  SELECT grp, n0, n1,
        |    CAST(s0 AS DOUBLE) / n0 AS m0, CAST(s1 AS DOUBLE) / n1 AS m1,
        |    (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / n0)
        |      / (n0 - 1) AS v0,
        |    (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
        |      / (n1 - 1) AS v1
        |  FROM a
        |), z AS (
        |  SELECT grp, n0, n1, round(m0, 6) AS mean0, round(m1, 6) AS mean1,
        |    CASE WHEN n0 > 1 AND n1 > 1 AND v0 / n0 + v1 / n1 > 0
        |         THEN round((m1 - m0) / sqrt(v0 / n0 + v1 / n1), 6) + 0.0 END AS t,
        |    CASE WHEN n0 > 1 AND n1 > 1 AND v0 / n0 + v1 / n1 > 0
        |         THEN round((v0 / n0 + v1 / n1) * (v0 / n0 + v1 / n1)
        |              / (v0 * v0 / (n0 * n0 * (n0 - 1))
        |                 + v1 * v1 / (n1 * n1 * (n1 - 1))), 6) END AS df
        |  FROM m
        |)
        |SELECT grp, n0, n1, mean0, mean1, t, df,
        |       coalesce(abs(t) > 1.96, FALSE) AS significant
        |FROM z ORDER BY grp""".stripMargin),
    // Experimentation: pooled two-proportion A/B z-test per event
    // type — variant = user_id mod 2, success = value > 50. Corpus →
    // one group-keyed aggregate of four exact int64 counters; the z
    // dag is fixed IEEE double ops, bit-identical across engines.
    Query("q_ab_test", (s, dir) =>
      EvalOps.abTest(Tables.events(s, dir), col("event_type"),
          col("user_id"), col("value") > 50.0)
        .orderBy("grp"),
      """WITH c AS (
        |  SELECT event_type AS grp, user_id % 2 AS v,
        |         CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS s
        |  FROM events
        |), agg AS (
        |  SELECT grp,
        |         CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |         CAST(sum(CASE WHEN v = 0 THEN s ELSE 0 END) AS BIGINT) AS s0,
        |         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |         CAST(sum(CASE WHEN v = 1 THEN s ELSE 0 END) AS BIGINT) AS s1
        |  FROM c GROUP BY grp
        |), m AS (
        |  SELECT grp, n0, s0, n1, s1,
        |         CAST(s0 AS DOUBLE) / n0 AS p0, CAST(s1 AS DOUBLE) / n1 AS p1,
        |         CAST(s0 + s1 AS DOUBLE) / (n0 + n1) AS pp
        |  FROM agg
        |), z AS (
        |  SELECT grp, n0, s0, n1, s1,
        |         CASE WHEN n0 > 0 AND n1 > 0
        |                   AND sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1)) > 0
        |              THEN round((p1 - p0)
        |                / sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1)), 6) + 0.0
        |              END AS z
        |  FROM m
        |)
        |SELECT grp, n0, s0, n1, s1, z,
        |       coalesce(abs(z) > 1.96, FALSE) AS significant
        |FROM z ORDER BY grp""".stripMargin),
    // Uncertainty-aware ranking: Wilson lower bound of each brand's
    // return rate over lineitem (broadcast part-dim join) — the
    // "don't sort by average rating" fix; lb is one deterministic
    // IEEE dag from exact counts, published raw.
    // Wilson replay: identical counts, the IDENTICAL IEEE dag with z
    // written as 1.96 and z² as 1.96 * 1.96 (never folded) — raw
    // double equality is the gate
    Query("q_wilson", (s, dir) =>
      EvalOps.wilsonLowerBound(
          Tables.lineitem(s, dir).join(
            broadcast(Tables.part(s, dir).select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey")),
          col("p_brand"), col("l_returnflag") === "R")
        .orderBy(desc("wilson_lb"), col("key")),
      s"""WITH j AS (
        |  SELECT p.p_brand AS key,
        |         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS s
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |), agg AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS x
        |  FROM j GROUP BY key
        |)
        |SELECT key, n, x,
        |       ${ratioRoundSql("x", "n", 6)} + 0.0 AS p_hat,
        |       (CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
        |          + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
        |          - 1.96 * sqrt((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
        |                          * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
        |                          / CAST(n AS DOUBLE)
        |                        + (1.96 * 1.96)
        |                          / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
        |         / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE)) AS wilson_lb
        |FROM agg ORDER BY wilson_lb DESC, key""".stripMargin),
    // CUPED variance reduction (Deng et al. 2013): per-user pre-
    // experiment covariate X = even-event_id value sum, outcome Y =
    // odd-event_id value sum (deterministic, SF-balanced split);
    // metric quantized to integer units so every moment lane is exact
    // and every published ratio is integer half-up (ratioRound).
    // CUPED replay: identical per-unit X/Y sums, HUGEINT pooled
    // moments, every published ratio the shared integer-half-up form;
    // ρ² multiplied and rounded in the DECIMAL domain (round-after-
    // cast rule)
    Query("q_cuped", (s, dir) =>
      EvalOps.cupedAdjust(Tables.events(s, dir), col("user_id"),
        round(col("value")), pmod(col("event_id"), lit(2L)) === 0),
      s"""WITH pu AS (
         |  SELECT user_id AS u,
         |         CAST(sum(CASE WHEN event_id % 2 = 0
         |                       THEN CAST(round(value) AS BIGINT)
         |                       ELSE 0 END) AS BIGINT) AS x,
         |         CAST(sum(CASE WHEN event_id % 2 <> 0
         |                       THEN CAST(round(value) AS BIGINT)
         |                       ELSE 0 END) AS BIGINT) AS y
         |  FROM events GROUP BY 1
         |), g AS (
         |  SELECT CAST(count(*) AS HUGEINT) AS n,
         |         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         |         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         |         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         |         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         |         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
         |  FROM pu
         |), a AS (
         |  SELECT u % 2 AS arm, CAST(count(*) AS BIGINT) AS n_a,
         |         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sxa,
         |         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sya
         |  FROM pu GROUP BY 1
         |), m AS (
         |  SELECT arm, n_a, sxa, sya, n, sx,
         |         n * sxx - sx * sx AS varp,
         |         n * sxy - sx * sy AS covp,
         |         n * syy - sy * sy AS vary
         |  FROM a CROSS JOIN g
         |), t AS (
         |  SELECT arm, n_a, sya, varp,
         |         sya * varp * n - covp * (sxa * n - n_a * sx) AS numc,
         |         n_a * varp * n AS denc,
         |         CASE WHEN varp > 0
         |              THEN ${ratioRoundSql("covp", "varp", 6)} END AS theta,
         |         CASE WHEN vary > 0
         |              THEN ${ratioRoundSql("covp", "vary", 6)} END AS theta2
         |  FROM m
         |)
         |SELECT arm, n_a AS n_units,
         |       ${ratioRoundSql("sya", "n_a", 4)} AS mean_y,
         |       CASE WHEN varp > 0
         |            THEN ${ratioRoundSql("numc", "denc", 4)} END AS mean_y_cuped,
         |       theta,
         |       CAST(round(CAST(theta AS DECIMAL(18,6))
         |                  * CAST(theta2 AS DECIMAL(18,6)), 6) AS DOUBLE) AS rho2
         |FROM t ORDER BY arm""".stripMargin),
    // Tie-robust rank correlation: Kendall τ-b between the unit
    // value bin and hour-of-day per event type — concordance counts
    // from 2-D suffix sums on the DENSE bin grid (bin²-sized, no
    // pairwise term anywhere), exact ints to one √ dag.
    // A/B replay: same four counters, same pooled-z double dag;
    // DuckDB sums CAST to BIGINT, flag decided on the published z
    // Kendall replay: identical dense grid, the identical two window
    // passes (strict 2-D suffix/prefix sums), doubled tie lanes, the
    // identical √ dag
    Query("q_kendall", (s, dir) =>
      EvalOps.kendallTauB(Tables.events(s, dir), col("event_type"),
          expr("CAST(floor(value) AS BIGINT)"),
          expr("(unix_micros(ts) div 3600000000L) % 24"))
        .orderBy("grp"),
      s"""WITH cells AS (
        |  SELECT event_type AS grp, CAST(floor(value) AS BIGINT) AS x,
        |         (epoch_us(ts) // 3600000000) % 24 AS y,
        |         CAST(count(*) AS BIGINT) AS f
        |  FROM events GROUP BY 1, 2, 3
        |), xs AS (SELECT DISTINCT grp, x FROM cells),
        |ys AS (SELECT DISTINCT grp, y FROM cells),
        |grid AS (
        |  SELECT g.grp, g.x, g.y, coalesce(c.f, 0) AS f
        |  FROM (SELECT xs.grp, xs.x, ys.y FROM xs JOIN ys USING (grp)) g
        |  LEFT JOIN cells c ON c.grp = g.grp AND c.x = g.x AND c.y = g.y
        |), s1 AS (
        |  SELECT *,
        |    sum(f) OVER (PARTITION BY grp, x ORDER BY y
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ry,
        |    sum(f) OVER (PARTITION BY grp, x ORDER BY y
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ly
        |  FROM grid
        |), s2 AS (
        |  SELECT *,
        |    sum(ry) OVER (PARTITION BY grp, y ORDER BY x
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS sc,
        |    sum(ly) OVER (PARTITION BY grp, y ORDER BY x
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS sd
        |  FROM s1
        |), perg AS (
        |  SELECT grp, CAST(sum(f) AS BIGINT) AS n,
        |         sum(CAST(f AS HUGEINT) * coalesce(sc, 0)) AS c_pairs,
        |         sum(CAST(f AS HUGEINT) * coalesce(sd, 0)) AS d_pairs
        |  FROM s2 GROUP BY grp
        |), mx AS (
        |  SELECT grp, sum(CAST(t AS HUGEINT) * (t - 1)) AS tt_x FROM (
        |    SELECT grp, x, CAST(sum(f) AS BIGINT) AS t
        |    FROM cells GROUP BY grp, x) GROUP BY grp
        |), my AS (
        |  SELECT grp, sum(CAST(t AS HUGEINT) * (t - 1)) AS tt_y FROM (
        |    SELECT grp, y, CAST(sum(f) AS BIGINT) AS t
        |    FROM cells GROUP BY grp, y) GROUP BY grp
        |)
        |SELECT p.grp, p.n, CAST(c_pairs AS BIGINT) AS c_pairs,
        |       CAST(d_pairs AS BIGINT) AS d_pairs,
        |  CASE WHEN (CAST(n AS HUGEINT) * (n - 1) - tt_x)
        |             * (CAST(n AS HUGEINT) * (n - 1) - tt_y) > 0 THEN
        |    round(CAST(c_pairs - d_pairs AS DOUBLE) * 2.0
        |          / sqrt(CAST((CAST(n AS HUGEINT) * (n - 1) - tt_x)
        |                      * (CAST(n AS HUGEINT) * (n - 1) - tt_y)
        |                      AS DOUBLE)), 6) + 0.0 END AS tau_b
        |FROM perg p JOIN mx USING (grp) JOIN my USING (grp)
        |ORDER BY p.grp""".stripMargin),
    // Stratified association: CMH test of arm × (value > 50) across
    // event-type strata — the Simpson's-paradox guard; scale-9
    // quantized hypergeometric terms, decimal sums, one χ² dag, plus
    // the MH common odds ratio.
    // CMH replay: identical 4-counter strata, scale-9 hugeint
    // half-up terms, order-independent sums, identical χ²/OR dags
    Query("q_cmh", (s, dir) =>
      EvalOps.cmhTest(Tables.events(s, dir), col("event_type"),
        col("user_id"), col("value") > 50.0),
      s"""WITH cells AS (
        |  SELECT event_type AS st,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 AND value > 50.0
        |             THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 AND NOT value > 50.0
        |             THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 AND value > 50.0
        |             THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 AND NOT value > 50.0
        |             THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM events GROUP BY event_type
        |), wn AS (SELECT *, a + b + c + d AS n FROM cells),
        |qt AS (
        |  SELECT *,
        |    (2 * (CAST(a + b AS HUGEINT) * (a + c) * 1000000000) + n)
        |      // (2 * CAST(n AS HUGEINT)) AS et,
        |    CASE WHEN n > 1 THEN
        |      (2 * (CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d)
        |            * 1000000000) + CAST(n AS HUGEINT) * n * (n - 1))
        |        // (2 * (CAST(n AS HUGEINT) * n * (n - 1)))
        |    ELSE 0 END AS vt,
        |    (2 * (CAST(a AS HUGEINT) * d * 1000000000) + n)
        |      // (2 * CAST(n AS HUGEINT)) AS adt,
        |    (2 * (CAST(b AS HUGEINT) * c * 1000000000) + n)
        |      // (2 * CAST(n AS HUGEINT)) AS bct
        |  FROM wn WHERE n > 0
        |), tots AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_strata,
        |         CAST(sum(a) AS BIGINT) AS sum_a, sum(et) AS es,
        |         sum(vt) AS vs, sum(adt) AS ads, sum(bct) AS bcs
        |  FROM qt
        |), x AS (
        |  -- continuity correction clamped at 0: max(|Σa−E|−½, 0)
        |  SELECT *, greatest(
        |    abs(CAST(sum_a AS HUGEINT) * 1000000000 - es) - 500000000,
        |    CAST(0 AS HUGEINT)) AS x9
        |  FROM tots
        |), f AS (
        |  SELECT *,
        |    CASE WHEN vs > 0 THEN
        |      ${ratioRoundSql("x9 * x9",
                 "vs * CAST(1000000000 AS HUGEINT)", 6)} + 0.0 END AS chi2
        |  FROM x
        |)
        |SELECT n_strata, sum_a,
        |  ${ratioRoundSql("es", "CAST(1000000000 AS HUGEINT)", 6)} + 0.0 AS e,
        |  ${ratioRoundSql("vs", "CAST(1000000000 AS HUGEINT)", 6)} + 0.0 AS v,
        |  chi2,
        |  CASE WHEN bcs > 0 THEN
        |    ${ratioRoundSql("ads", "bcs", 6)} + 0.0
        |  END AS or_mh,
        |  coalesce(chi2 > 3.84, FALSE) AS significant
        |FROM f""".stripMargin),
    // Distributed-bootstrap CI: Poisson bootstrap of the per-unit
    // mean per event type — 63 deterministic hash-Poisson replicates
    // in one pass, exact rational replicate means, percentile CI.
    // Poisson-bootstrap replay: identical unit table and salted
    // cubic hash (salt stream 200), the pinned Poisson(1) CDF
    // cutoffs in hash space, exact rational replicate means ranked
    // by (double, num, den), percentile picks half-up published
    Query("q_poisson_boot", (s, dir) =>
      EvalOps.poissonBootstrapCI(Tables.events(s, dir), col("event_type"),
          col("user_id"), expr("CAST(floor(value * 10) AS BIGINT)"))
        .orderBy("grp"),
      s"""WITH units AS (
        |  SELECT event_type AS grp, user_id AS u,
        |         CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(CAST(floor(value * 10) AS BIGINT) AS HUGEINT)) AS s
        |  FROM events GROUP BY 1, 2
        |), salted AS (
        |  SELECT u.*, r.b,
        |    (40503 * (r.b + 200)) % 1048573 AS a3,
        |    (92821 * (r.b + 200)) % 1048573 AS a2,
        |    (486187 * (r.b + 200)) % 1048573 AS a1,
        |    (12289 * (r.b + 200)) % 1048573 AS a0
        |  FROM units u
        |  CROSS JOIN (SELECT unnest(generate_series(1, 63)) AS b) r
        |), hashed AS (
        |  SELECT grp, b, n, s,
        |    (((((a3 * (u % 1048573) + a2) % 1048573) * (u % 1048573) + a1)
        |       % 1048573 * (u % 1048573) + a0) % 1048573) AS h
        |  FROM salted
        |), cnt AS (
        |  SELECT grp, b, n, s,
        |    CASE WHEN h < 385748 THEN 0 WHEN h < 771496 THEN 1
        |         WHEN h < 964371 THEN 2 WHEN h < 1028662 THEN 3
        |         WHEN h < 1044735 THEN 4 WHEN h < 1047949 THEN 5
        |         ELSE 6 END AS c
        |  FROM hashed
        |), reps AS (
        |  SELECT grp, b, sum(CAST(c AS HUGEINT) * s) AS rnum,
        |         sum(CAST(c AS HUGEINT) * n) AS rden
        |  FROM cnt GROUP BY grp, b
        |), ranked AS (
        |  SELECT grp, rnum, rden,
        |    row_number() OVER (PARTITION BY grp
        |      ORDER BY CAST(rnum AS DOUBLE) / CAST(rden AS DOUBLE),
        |               rnum, rden) AS rn
        |  FROM reps WHERE rden > 0
        |), ci AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n_valid,
        |    max(CASE WHEN rn = 2 THEN rnum END) AS lo_n,
        |    max(CASE WHEN rn = 2 THEN rden END) AS lo_d,
        |    max(CASE WHEN rn = 62 THEN rnum END) AS hi_n,
        |    max(CASE WHEN rn = 62 THEN rden END) AS hi_d
        |  FROM ranked GROUP BY grp
        |), obs AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n_units, sum(s) AS os,
        |         CAST(sum(n) AS HUGEINT) AS onn
        |  FROM units GROUP BY grp
        |)
        |SELECT o.grp, o.n_units,
        |  ${ratioRoundSql("os", "onn", 6)} + 0.0 AS mean,
        |  CASE WHEN n_valid = 63 THEN
        |    ${ratioRoundSql("lo_n", "lo_d", 6)} + 0.0 END AS ci_lo,
        |  CASE WHEN n_valid = 63 THEN
        |    ${ratioRoundSql("hi_n", "hi_d", 6)} + 0.0 END AS ci_hi
        |FROM obs o LEFT JOIN ci USING (grp)
        |ORDER BY o.grp""".stripMargin),
    // Assumption-free inference: unit-level permutation test per
    // event type — 63 deterministic hash re-assignments, exact
    // cross-multiplied exceedance comparisons, add-one p; zero float
    // error anywhere.
    // Permutation replay: identical unit table, the identical salted
    // Horner-cubic arm family, cross-multiplied exact exceedance,
    // add-one p through hugeint half-up
    Query("q_perm_test", (s, dir) =>
      EvalOps.permutationTest(Tables.events(s, dir), col("event_type"),
          col("user_id"), expr("CAST(floor(value * 10) AS BIGINT)"))
        .orderBy("grp"),
      s"""WITH units AS (
        |  SELECT event_type AS grp, user_id AS u,
        |         CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(CAST(floor(value * 10) AS BIGINT) AS HUGEINT)) AS s
        |  FROM events GROUP BY 1, 2
        |), obs AS (
        |  SELECT grp, CAST(count(*) AS BIGINT) AS n_units,
        |    sum(CASE WHEN u % 2 = 1 THEN s ELSE 0 END) AS s1,
        |    CAST(sum(CASE WHEN u % 2 = 1 THEN n ELSE 0 END) AS HUGEINT) AS n1,
        |    sum(CASE WHEN u % 2 = 0 THEN s ELSE 0 END) AS s0,
        |    CAST(sum(CASE WHEN u % 2 = 0 THEN n ELSE 0 END) AS HUGEINT) AS n0
        |  FROM units GROUP BY grp
        |), obsd AS (
        |  SELECT grp, n_units, s1 * n0 - s0 * n1 AS onum,
        |         n1 * n0 AS oden
        |  FROM obs
        |), salted AS (
        |  SELECT u.*, r.b,
        |    (40503 * (r.b + 100)) % 1048573 AS a3,
        |    (92821 * (r.b + 100)) % 1048573 AS a2,
        |    (486187 * (r.b + 100)) % 1048573 AS a1,
        |    (12289 * (r.b + 100)) % 1048573 AS a0
        |  FROM units u
        |  CROSS JOIN (SELECT unnest(generate_series(1, 63)) AS b) r
        |), armed AS (
        |  SELECT grp, b, n, s,
        |    (((((a3 * (u % 1048573) + a2) % 1048573) * (u % 1048573) + a1)
        |       % 1048573 * (u % 1048573) + a0) % 1048573) % 2 = 0 AS arm
        |  FROM salted
        |), reps AS (
        |  SELECT grp, b,
        |    sum(CASE WHEN arm THEN s ELSE 0 END) AS s1,
        |    CAST(sum(CASE WHEN arm THEN n ELSE 0 END) AS HUGEINT) AS n1,
        |    sum(CASE WHEN NOT arm THEN s ELSE 0 END) AS s0,
        |    CAST(sum(CASE WHEN NOT arm THEN n ELSE 0 END) AS HUGEINT) AS n0
        |  FROM armed GROUP BY grp, b
        |), repd AS (
        |  SELECT grp, s1 * n0 - s0 * n1 AS rnum, n1 * n0 AS rden FROM reps
        |), x AS (
        |  SELECT r.grp,
        |    CASE WHEN rden > 0 THEN abs(rnum) * oden >= abs(onum) * rden
        |         ELSE TRUE END AS ex
        |  FROM repd r JOIN obsd USING (grp)
        |), fin AS (
        |  SELECT grp, CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_exceed
        |  FROM x GROUP BY grp
        |)
        |SELECT o.grp, o.n_units,
        |  CASE WHEN oden > 0 THEN ${ratioRoundSql("onum", "oden", 6)} + 0.0
        |       END AS d_obs,
        |  f.n_exceed,
        |  CASE WHEN oden > 0 THEN
        |    ${ratioRoundSql("f.n_exceed + 1", "64", 6)} + 0.0 END AS p_value
        |FROM obsd o JOIN fin f USING (grp)
        |ORDER BY o.grp""".stripMargin),
    // Uncertainty pooling: empirical-Bayes beta-binomial shrinkage of
    // brand return rates (the Wilson gate's cross-key companion —
    // MoM Beta prior from exact micro-unit rate moments, posterior
    // means published).
    // EB replay: identical integer micro-unit rates (hugeint floor
    // division), exact moment lanes, the identical MoM/posterior
    // IEEE dag
    Query("q_eb_shrink", (s, dir) =>
      EvalOps.ebShrink(
          Tables.lineitem(s, dir).join(
            broadcast(Tables.part(s, dir).select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey")),
          col("p_brand"), col("l_returnflag") === "R")
        .orderBy(desc("p_shrunk"), col("key")),
      s"""WITH j AS (
        |  SELECT p.p_brand AS key,
        |         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS s
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |), pk AS (
        |  SELECT key, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(s) AS BIGINT) AS x
        |  FROM j GROUP BY key
        |), wu AS (
        |  SELECT *, (2 * CAST(x AS HUGEINT) * 1000000 + n)
        |              // (2 * CAST(n AS HUGEINT)) AS u
        |  FROM pk
        |), mom AS (
        |  SELECT CAST(count(*) AS BIGINT) AS kk,
        |         CAST(sum(u) AS HUGEINT) AS su,
        |         sum(CAST(u AS HUGEINT) * u) AS suu
        |  FROM wu
        |), m AS (
        |  SELECT kk,
        |    CAST(su AS DOUBLE) / (CAST(kk AS DOUBLE) * 1000000.0) AS m1,
        |    CAST(kk * suu - su * su AS DOUBLE)
        |      / (CAST(kk AS DOUBLE) * (CAST(kk AS DOUBLE) - 1.0) * 1e12)
        |      AS m2
        |  FROM mom
        |), pr AS (
        |  SELECT *, m1 * (1.0 - m1) / m2 - 1.0 AS tot FROM m
        |), qq AS (
        |  SELECT *, m1 * tot AS ab_a, (1.0 - m1) * tot AS ab_b,
        |         kk > 1 AND m2 > 0 AND tot > 0 AS ok
        |  FROM pr
        |)
        |SELECT w.key, w.n, w.x,
        |  ${ratioRoundSql("w.x", "w.n", 6)} + 0.0 AS p_hat,
        |  CASE WHEN ok THEN
        |    round((w.x + ab_a) / (w.n + ab_a + ab_b), 6) + 0.0 END AS p_shrunk,
        |  CASE WHEN ok THEN round(ab_a, 6) + 0.0 END AS alpha,
        |  CASE WHEN ok THEN round(ab_b, 6) + 0.0 END AS beta
        |FROM wu w CROSS JOIN qq
        |ORDER BY p_shrunk DESC, key""".stripMargin),
    // Quasi-experimental: difference-in-differences per event type —
    // treatment by unit hash, pre/post at the data-derived midpoint
    // day; DiD published as the exact cleared rational, t from the
    // unpooled four-cell SE (the welch dag shape).
    // DiD replay: identical 12 conditional counters, the exact
    // cleared rational for the estimate, the identical unpooled-SE
    // double dag for t (same summand ORDER — IEEE addition is not
    // associative)
    Query("q_did", (s, dir) =>
      EvalOps.diffInDiff(Tables.events(s, dir), col("event_type"),
          col("user_id"), col("ts"),
          expr("CAST(floor(value * 10) AS BIGINT)"))
        .orderBy("grp"), {
      def cell(nm: String, cond: String) =
        s"""CAST(sum(CASE WHEN $cond THEN 1 ELSE 0 END) AS BIGINT) AS n_$nm,
           |    sum(CASE WHEN $cond THEN CAST(x AS HUGEINT) ELSE 0 END) AS s_$nm,
           |    sum(CASE WHEN $cond THEN CAST(x * x AS HUGEINT) ELSE 0 END) AS q_$nm"""
          .stripMargin
      def varS(nm: String) =
        s"(CAST(q_$nm AS DOUBLE) - CAST(s_$nm AS DOUBLE) * CAST(s_$nm AS DOUBLE) / n_$nm) / (n_$nm - 1)"
      s"""WITH base AS (
        |  SELECT event_type AS grp, user_id % 2 = 1 AS t,
        |         epoch_us(ts) // 86400000000 AS day,
        |         CAST(floor(value * 10) AS BIGINT) AS x
        |  FROM events
        |), span AS (SELECT (min(day) + max(day) + 1) // 2 AS cut FROM base),
        |cells AS (SELECT b.*, b.day >= s.cut AS po
        |          FROM base b CROSS JOIN span s),
        |agg AS (
        |  SELECT grp,
        |    ${cell("tpre", "t AND NOT po")},
        |    ${cell("tpost", "t AND po")},
        |    ${cell("cpre", "NOT t AND NOT po")},
        |    ${cell("cpost", "NOT t AND po")}
        |  FROM cells GROUP BY grp
        |), m AS (
        |  SELECT *,
        |    (CAST(s_tpost AS DOUBLE) / n_tpost
        |       - CAST(s_tpre AS DOUBLE) / n_tpre)
        |      - (CAST(s_cpost AS DOUBLE) / n_cpost
        |           - CAST(s_cpre AS DOUBLE) / n_cpre) AS did_d,
        |    ${varS("tpost")} / n_tpost + ${varS("tpre")} / n_tpre
        |      + ${varS("cpost")} / n_cpost
        |      + ${varS("cpre")} / n_cpre AS se2,
        |    n_tpre > 1 AND n_tpost > 1 AND n_cpre > 1 AND n_cpost > 1
        |      AS nok
        |  FROM agg
        |), f AS (
        |  SELECT *, CASE WHEN nok AND se2 > 0 THEN
        |    round(did_d / sqrt(se2), 6) + 0.0 END AS t_did
        |  FROM m
        |)
        |SELECT grp, n_tpre, n_tpost, n_cpre, n_cpost,
        |  CASE WHEN n_tpre > 0 AND n_tpost > 0
        |        AND n_cpre > 0 AND n_cpost > 0 THEN
        |    ${ratioRoundSql(
               "(s_tpost * n_tpre - s_tpre * n_tpost) * (CAST(n_cpost AS HUGEINT) * n_cpre) - (s_cpost * n_cpre - s_cpre * n_cpost) * (CAST(n_tpost AS HUGEINT) * n_tpre)",
               "(CAST(n_tpost AS HUGEINT) * n_tpre) * (CAST(n_cpost AS HUGEINT) * n_cpre)",
               6)} + 0.0 END AS did,
        |  t_did,
        |  coalesce(abs(t_did) > 1.96, FALSE) AS significant
        |FROM f ORDER BY grp""".stripMargin
    }),
    // Experimentation, nonparametric: tie-corrected Mann–Whitney U on
    // the purchase-vs-view value distributions (deci-unit grid). Exact
    // doubled mid-rank arithmetic in 128-bit lanes; one IEEE z dag.
    // Mann–Whitney replay: same doubled mid-rank identity over the
    // distinct-value table, HUGEINT lanes mirroring DECIMAL(38,0),
    // same tie-corrected z dag term for term
    Query("q_mannwhitney", (s, dir) =>
      EvalOps.mannWhitneyU(
        Tables.events(s, dir)
          .filter(col("event_type").isin("purchase", "view")),
        col("event_type") === "purchase",
        expr("CAST(floor(value * 10) AS BIGINT)")),
      """WITH c AS (
        |  SELECT CAST(floor(value * 10) AS BIGINT) AS v,
        |         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g1
        |  FROM events WHERE event_type IN ('purchase', 'view')
        |), byv AS (
        |  SELECT v, count(*) AS n, CAST(sum(g1) AS BIGINT) AS n1
        |  FROM c GROUP BY v
        |), r AS (
        |  SELECT v, n, n1, CAST(sum(n) OVER (ORDER BY v) AS BIGINT) AS cum_le
        |  FROM byv
        |), p AS (
        |  SELECT CAST(n1 AS HUGEINT) * (2 * (cum_le - n) + n + 1) AS r2_part,
        |         CAST(n AS HUGEINT) * n * n - CAST(n AS HUGEINT) AS tie_part,
        |         n, n1
        |  FROM r
        |), t AS (
        |  SELECT CAST(sum(n1) AS BIGINT) AS n1,
        |         CAST(sum(n - n1) AS BIGINT) AS n2,
        |         sum(r2_part) AS r1_twice, sum(tie_part) AS ties
        |  FROM p
        |)
        |SELECT n1, n2,
        |       CAST(r1_twice - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT)
        |         AS u1_twice,
        |       CAST(ties AS BIGINT) AS tie_cubes,
        |       round(CAST((r1_twice - CAST(n1 AS HUGEINT) * (n1 + 1))
        |                  - CAST(n1 AS HUGEINT) * n2 AS DOUBLE)
        |             / (2 * sqrt(CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE) / 12
        |                 * (CAST(n1 + n2 + 1 AS DOUBLE)
        |                    - CAST(ties AS DOUBLE)
        |                      / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))))),
        |             6) + 0.0 AS z
        |FROM t""".stripMargin),
    // Experimentation, nonparametric: tie-corrected Spearman rho per
    // event type between the deci-grid value and hour-of-day (UTC,
    // derived from epoch micros so both engines bin identically) —
    // "does the metric drift monotonically with time of day".
    // Spearman replay: same joint (grp,x,y) combine, same doubled
    // mid-rank identity per marginal, HUGEINT lanes mirroring
    // DECIMAL(38,0); rho is the same single IEEE dag on exact ints
    Query("q_spearman", (s, dir) =>
      EvalOps.spearmanCorr(Tables.events(s, dir), col("event_type"),
          expr("CAST(floor(value * 10) AS BIGINT)"),
          expr("pmod(unix_micros(ts) div 3600000000, 24)"))
        .orderBy("grp"),
      """WITH c AS (
        |  SELECT event_type AS grp, CAST(floor(value * 10) AS BIGINT) AS x,
        |         (epoch_us(ts) // 3600000000) % 24 AS y
        |  FROM events
        |), joint AS (
        |  SELECT grp, x, y, count(*) AS n_xy FROM c GROUP BY grp, x, y
        |), mx AS (
        |  SELECT grp, x, 2 * (c - m) + m + 1 AS r_x FROM (
        |    SELECT grp, x, sum(n_xy) AS m,
        |           sum(sum(n_xy)) OVER (PARTITION BY grp ORDER BY x) AS c
        |    FROM joint GROUP BY grp, x)
        |), my AS (
        |  SELECT grp, y, 2 * (c - m) + m + 1 AS r_y FROM (
        |    SELECT grp, y, sum(n_xy) AS m,
        |           sum(sum(n_xy)) OVER (PARTITION BY grp ORDER BY y) AS c
        |    FROM joint GROUP BY grp, y)
        |), j AS (
        |  SELECT joint.grp, n_xy, CAST(r_x AS HUGEINT) AS r_x,
        |         CAST(r_y AS HUGEINT) AS r_y
        |  FROM joint
        |  JOIN mx ON joint.grp = mx.grp AND joint.x = mx.x
        |  JOIN my ON joint.grp = my.grp AND joint.y = my.y
        |), a AS (
        |  SELECT grp, CAST(sum(n_xy) AS BIGINT) AS n,
        |         sum(n_xy * r_x) AS sx, sum(n_xy * r_y) AS sy,
        |         sum(n_xy * r_x * r_x) AS sxx, sum(n_xy * r_y * r_y) AS syy,
        |         sum(n_xy * r_x * r_y) AS sxy
        |  FROM j GROUP BY grp
        |)
        |SELECT grp, n,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
        |       THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
        |            / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |               * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) + 0.0
        |  END AS rho
        |FROM a ORDER BY grp""".stripMargin),
    // Experimentation, omnibus: one-way ANOVA F across event types on
    // the deci-grid value — the "any difference at all" gate run
    // before the per-pair Welch tests. F crit 2.21 = df1=5 asymptote.
    // ANOVA replay: same exact integer-grid sums, same 9-dp-rounded
    // per-group term decimal-summed, same raw-SS F dag; flag decided
    // on the published 6-dp F
    Query("q_anova", (s, dir) =>
      EvalOps.anovaF(Tables.events(s, dir), col("event_type"),
          expr("CAST(floor(value * 10) AS BIGINT)")),
      s"""WITH c AS (
        |  SELECT event_type AS grp, CAST(floor(value * 10) AS BIGINT) AS v
        |  FROM events
        |), g AS (
        |  SELECT grp, count(*) AS n_g,
        |         CAST(sum(v) AS HUGEINT) AS s_g,
        |         CAST(sum(v * v) AS HUGEINT) AS q_g
        |  FROM c GROUP BY grp
        |), gt AS (
        |  -- exact scale-9 half-up lane (the engine's q9 dag): no
        |  -- double division anywhere before publication
        |  SELECT grp, n_g, s_g, q_g,
        |         (2 * s_g * s_g * 1000000000 + n_g)
        |           // (2 * CAST(n_g AS HUGEINT)) AS t_g
        |  FROM g
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
        |         sum(s_g) AS s, sum(q_g) AS q, sum(t_g) AS t
        |  FROM gt
        |), ss AS (
        |  SELECT k, n, t,
        |         (2 * s * s * 1000000000 + n)
        |           // (2 * CAST(n AS HUGEINT)) AS grand9,
        |         q * CAST(1000000000 AS HUGEINT) AS q9
        |  FROM tot
        |), lanes AS (
        |  SELECT k, n, t - grand9 AS ssb9, q9 - t AS ssw9,
        |         q9 - grand9 AS sst9
        |  FROM ss
        |)
        |SELECT k, n,
        |  ${ratioRoundSql("ssb9", "CAST(1000000000 AS HUGEINT)", 2)} + 0.0
        |    AS ss_between,
        |  ${ratioRoundSql("ssw9", "CAST(1000000000 AS HUGEINT)", 2)} + 0.0
        |    AS ss_within,
        |  k - 1 AS df1, n - k AS df2,
        |  CASE WHEN ssw9 > 0 AND n > k THEN
        |    ${ratioRoundSql("ssb9 * (n - k)", "ssw9 * (k - 1)", 6)} + 0.0
        |  END AS f_stat,
        |  CASE WHEN sst9 > 0 THEN
        |    ${ratioRoundSql("ssb9", "sst9", 6)} + 0.0
        |  END AS eta_sq,
        |  coalesce(CASE WHEN ssw9 > 0 AND n > k THEN
        |    ${ratioRoundSql("ssb9 * (n - k)", "ssw9 * (k - 1)", 6)} + 0.0
        |  END > 2.21, FALSE) AS significant
        |FROM lanes""".stripMargin),
    // Multiple testing: Benjamini–Hochberg step-up FDR over the
    // regression family's published 6-dp p-values — the
    // false-discovery companion to q_reg_pvalues' Bonferroni column.
    // BH replay: the q_reg_pvalues chain (shared PvalCtes) feeding the
    // same suffix-min over (p desc, id desc), 9-dp terms, published 6dp
    Query("q_fdr_bh", (s, dir) =>
      EvalOps.fdrBh(
        RegressionOps.multiRegression(regObs(s, dir), Some(RegK))
          .select(col("word"), round(col("p1"), 6).as("p6")),
        col("word"), col("p6"))
        .orderBy("id"),
      s"""${RegObsCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |$PvalCtes,
         |p6 AS (
         |  SELECT word AS id, round(p1, 6) AS p, count(*) OVER () AS m,
         |         row_number() OVER (ORDER BY round(p1, 6), word) AS rank
         |  FROM pfin
         |), tm AS (
         |  SELECT id, p, rank, round(p * m / rank, 9) AS term FROM p6
         |), adj AS (
         |  SELECT id, p, rank,
         |         least(min(term) OVER (ORDER BY p DESC, id DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)
         |           AS p_adj
         |  FROM tm
         |)
         |SELECT id, p, rank, round(p_adj, 6) AS p_adj, p_adj <= 0.05 AS reject
         |FROM adj ORDER BY id""".stripMargin),
    // Feature screening: Weight-of-Evidence / Information Value of the
    // doc-length bins against the en label (add-one smoothed).
    // tie-aware Mann–Whitney AUC replay: BIGINT mid-rank arithmetic,
    // one final exact-int division per published rate
    // WoE/IV replay: one ln per bin on exact-int cross-ratios, 9-dp
    // terms, decimal IV total
    Query("q_woe_iv", (s, dir) =>
      EvalOps.woeIv(Tables.documents(s, dir),
          expr("least(n_chars div 100, 9)"), col("lang") === "en")
        .orderBy(col("bin").asc_nulls_last),
      """WITH c AS (
        |  SELECT least(n_chars // 100, 9) AS bin,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents
        |), agg AS (
        |  SELECT bin, CAST(sum(y) AS BIGINT) AS g,
        |         CAST(count(*) - sum(y) AS BIGINT) AS b
        |  FROM c GROUP BY bin
        |), tot AS (
        |  SELECT CAST(sum(g) AS BIGINT) AS gt, CAST(sum(b) AS BIGINT) AS bt,
        |         CAST(count(*) AS BIGINT) AS k
        |  FROM agg
        |), pb AS (
        |  SELECT bin, g, b,
        |    round(ln(CAST((g + 1) * (bt + k) AS DOUBLE)
        |             / CAST((b + 1) * (gt + k) AS DOUBLE)), 9) AS woe9,
        |    round((CAST(g + 1 AS DOUBLE) / (gt + k)
        |           - CAST(b + 1 AS DOUBLE) / (bt + k))
        |          * round(ln(CAST((g + 1) * (bt + k) AS DOUBLE)
        |                     / CAST((b + 1) * (gt + k) AS DOUBLE)), 9), 9) AS iv9
        |  FROM agg CROSS JOIN tot
        |)
        |SELECT bin, g, b, round(woe9, 6) + 0.0 AS woe,
        |       round(iv9, 6) + 0.0 AS iv_term
        |FROM pb
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT), CAST(sum(g) AS BIGINT),
        |       CAST(sum(b) AS BIGINT), CAST(NULL AS DOUBLE),
        |       round(CAST(sum(CAST(iv9 AS DECIMAL(38,12))) AS DOUBLE), 6) + 0.0
        |FROM pb
        |ORDER BY bin NULLS LAST""".stripMargin),
    // Feature engineering: leave-one-out target encoding of
    // event_type against value (bounded slice published; the encoding
    // statistics come from the FULL corpus).
    // LOO replay: decimal sum minus the row's own decimal cast — the
    // numerator is exactly the other rows' sum; singleton keys NULL
    Query("q_target_encode", (s, dir) =>
      RelationalOps.targetEncodeLoo(Tables.events(s, dir),
          col("event_id"), col("event_type"), col("value"))
        .filter(col("id") < 5000)
        .orderBy("id"),
      s"""WITH b AS (
        |  SELECT event_id AS id, event_type AS k, CAST(value AS DOUBLE) AS t
        |  FROM events
        |), a AS (
        |  SELECT k, sum(CAST(t AS DECIMAL(38,2))) AS s,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY k
        |)
        |SELECT b.id, b.k, b.t,
        |       CASE WHEN a.n > 1
        |            THEN ${ratioRoundSql(
                       "CAST((a.s - CAST(b.t AS DECIMAL(38,2))) * 100 AS HUGEINT)",
                       "(a.n - 1) * 100", 6)} END AS loo
        |FROM b JOIN a USING (k) WHERE b.id < 5000 ORDER BY b.id""".stripMargin),
    // Multi-annotator QA: Fleiss' kappa among three raters on the NB
    // eval split — gold, the NB classifier, and the langId heuristic.
    // Fleiss replay: exact-int P̄, 9-dp decimal-summed P̄e, one IEEE
    // dag for kappa; raters = gold + NB replay + langId replay
    Query("q_fleiss", (s, dir) => CacheScope.pinned { p =>
      val docs = Tables.documents(s, dir)
      val nb = p(TextOps.naiveBayes(docs, labelCol = "lang", evalMod = 5))
      val lid = TextAnalysisOps.langId(docs.filter(col("doc_id") % 5 === 0))
      val ratings = nb.select(col("doc_id"), col("true_label").as("label"))
        .unionByName(nb.select(col("doc_id"), col("pred_label").as("label")))
        .unionByName(lid.select(col("doc_id"), col("lang_pred").as("label")))
      EvalOps.fleissKappa(ratings, col("doc_id"), col("label"), m = 3)
        .orderBy("label")
    },
      s"""WITH $LangCtes,
         |nb AS ($NaiveBayesOracle),
         |rat AS (
         |  SELECT doc_id AS i, true_label AS j FROM nb
         |  UNION ALL SELECT doc_id, pred_label FROM nb
         |  UNION ALL SELECT d.doc_id, coalesce(bt.lang, 'und')
         |  FROM documents d LEFT JOIN best bt USING (doc_id)
         |  WHERE d.doc_id % 5 = 0
         |), nij AS (
         |  SELECT i, j, CAST(count(*) AS BIGINT) AS n FROM rat GROUP BY i, j
         |), pitem AS (
         |  SELECT i, CAST(sum(n * n) AS BIGINT) AS s2 FROM nij GROUP BY i
         |), ntot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS nn,
         |         CAST(sum(s2 - 3) AS BIGINT) AS sp
         |  FROM pitem
         |), pj AS (SELECT j, CAST(sum(n) AS BIGINT) AS cj FROM nij GROUP BY j),
         |cat AS (
         |  SELECT j AS label, cj, CAST(cj AS DOUBLE) / (nn * 3) AS p
         |  FROM pj CROSS JOIN ntot
         |), pe AS (
         |  SELECT CAST(sum(CAST(round(p * p, 9) AS DECIMAL(38,12))) AS DOUBLE)
         |         AS ped
         |  FROM cat
         |), allr AS (
         |  SELECT 'ALL' AS label, nn AS n, CAST(NULL AS DOUBLE) AS p,
         |         CAST(sp AS DOUBLE) / (nn * 6) AS pbar, ped AS pe
         |  FROM ntot CROSS JOIN pe
         |)
         |SELECT label, cj AS n, round(p, 6) AS p, CAST(NULL AS DOUBLE) AS pbar,
         |       CAST(NULL AS DOUBLE) AS pe, CAST(NULL AS DOUBLE) AS kappa
         |FROM cat
         |UNION ALL
         |SELECT label, n, p, round(pbar, 6), round(pe, 6),
         |       CASE WHEN pe < 1.0
         |            THEN round((pbar - pe) / (1.0 - pe), 6) + 0.0 END
         |FROM allr
         |ORDER BY label""".stripMargin),
    // Label-shift monitor (BBSE): target 'en' prevalence + importance
    // weights estimated from the NB confusion on the even eval docs
    // (labeled source) and predictions alone on the odd eval docs
    // (target treated as unlabeled). Seven counters, one Cramer dag.
    // BBSE replay: the same seven counters off the NB replay, Cramer
    // products in HUGEINT lanes, one IEEE division per estimate
    Query("q_label_shift", (s, dir) => {
      val nb = TextOps.naiveBayes(Tables.documents(s, dir),
        labelCol = "lang", evalMod = 5)
      EvalOps.labelShiftBbse(nb,
        col("pred_label") === "en", col("true_label") === "en",
        pmod(col("doc_id"), lit(10L)) === 0L)
        .orderBy("cls")
    },
      s"""WITH nb AS ($NaiveBayesOracle),
         |f AS (
         |  SELECT pred_label = 'en' AS p, true_label = 'en' AS t,
         |         doc_id % 10 = 0 AS src
         |  FROM nb
         |), agg AS (
         |  SELECT
         |    CAST(sum(CASE WHEN src AND p AND t THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         |    CAST(sum(CASE WHEN src AND p AND NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |    CAST(sum(CASE WHEN src AND NOT p AND t THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         |    CAST(sum(CASE WHEN src AND NOT p AND NOT t THEN 1 ELSE 0 END) AS BIGINT) AS n00,
         |    CAST(sum(CASE WHEN src THEN 1 ELSE 0 END) AS BIGINT) AS ns,
         |    CAST(sum(CASE WHEN NOT src AND p THEN 1 ELSE 0 END) AS BIGINT) AS m1,
         |    CAST(sum(CASE WHEN NOT src AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS m0
         |  FROM f
         |), r AS (
         |  SELECT *,
         |         CAST(n11 AS HUGEINT) * n00 - CAST(n10 AS HUGEINT) * n01 AS det,
         |         m1 + m0 AS m,
         |         CAST(m1 AS HUGEINT) * n00 - CAST(n10 AS HUGEINT) * m0 AS nump,
         |         CAST(n11 AS HUGEINT) * m0 - CAST(m1 AS HUGEINT) * n01 AS numn
         |  FROM agg
         |)
         |SELECT 'pos' AS cls, n11 + n01 AS n_src_true, n11 + n10 AS n_src_pred,
         |       m1 AS m_pred,
         |       CASE WHEN det <> 0 AND m > 0 THEN
         |         ${ratioRoundSql("CASE WHEN det < 0 THEN -(nump * ns) ELSE nump * ns END",
                    "abs(CAST(m AS HUGEINT) * det)", 6)} + 0.0 END AS w,
         |       CASE WHEN det <> 0 AND m > 0 THEN
         |         ${ratioRoundSql(
                    "CASE WHEN det < 0 THEN -(nump * (n11 + n01)) ELSE nump * (n11 + n01) END",
                    "abs(CAST(m AS HUGEINT) * det)", 6)} + 0.0 END AS pi_target
         |FROM r
         |UNION ALL
         |SELECT 'neg', n10 + n00, n01 + n00, m0,
         |       CASE WHEN det <> 0 AND m > 0 THEN
         |         ${ratioRoundSql("CASE WHEN det < 0 THEN -(numn * ns) ELSE numn * ns END",
                    "abs(CAST(m AS HUGEINT) * det)", 6)} + 0.0 END,
         |       CASE WHEN det <> 0 AND m > 0 THEN
         |         ${ratioRoundSql(
                    "CASE WHEN det < 0 THEN -(numn * (n10 + n00)) ELSE numn * (n10 + n00) END",
                    "abs(CAST(m AS HUGEINT) * det)", 6)} + 0.0 END
         |FROM r
         |ORDER BY cls""".stripMargin),
    // Paired-classifier comparison: McNemar's test of the langId
    // heuristic (A) vs the NB classifier (B) on the SHARED eval split
    // — only the discordant counts carry signal.
    // McNemar replay: four exact-int cells from one aggregate over the
    // paired frame; chi2 one IEEE division; 3.841459 = chi2(1) 5% crit
    Query("q_mcnemar", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val nb = TextOps.naiveBayes(docs, labelCol = "lang", evalMod = 5)
        .select(col("doc_id"), col("true_label"), col("correct").as("b_ok"))
      val lid = TextAnalysisOps.langId(docs.filter(col("doc_id") % 5 === 0))
        .select(col("doc_id"), col("lang_pred"))
      val paired = nb.join(lid, Seq("doc_id"))
        .select((col("lang_pred") === col("true_label")).as("a_ok"), col("b_ok"))
      EvalOps.mcnemar(paired, col("a_ok"), col("b_ok"))
    },
      s"""WITH $LangCtes,
         |nb AS ($NaiveBayesOracle),
         |pairs AS (
         |  SELECT coalesce(bt.lang, 'und') = n.true_label AS a, n.correct AS b
         |  FROM nb n LEFT JOIN best bt ON bt.doc_id = n.doc_id
         |), agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         |         CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00,
         |         CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         |         CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01
         |  FROM pairs
         |), chi AS (
         |  SELECT *, CASE WHEN n10 + n01 > 0
         |                 THEN ${ratioRoundSql("(n10 - n01) * (n10 - n01)",
                              "n10 + n01", 6)} + 0.0 END AS chi2
         |  FROM agg
         |)
         |SELECT n, n11, n00, n10, n01, chi2,
         |       CASE WHEN chi2 IS NOT NULL THEN chi2 > 3.841459 END AS significant
         |FROM chi""".stripMargin),
    // Ragged-coverage annotator agreement: Krippendorff's alpha over
    // gold + NB (all eval docs) + langId (only every OTHER eval doc) —
    // the missing-ratings regime Fleiss' constant-m design can't
    // express (items here carry 2 or 3 ratings).
    // Krippendorff replay: coincidence-matrix identities — category
    // totals and the expected mass are exact ints (HUGEINT lanes for
    // the squares), the observed-disagreement mass is 9-dp per-item
    // terms decimal-summed, alpha one IEEE dag
    Query("q_krippendorff", (s, dir) => CacheScope.pinned { p =>
      val docs = Tables.documents(s, dir)
      val nb = p(TextOps.naiveBayes(docs, labelCol = "lang", evalMod = 5))
      val lid = TextAnalysisOps.langId(docs.filter(col("doc_id") % 10 === 0))
      val ratings = nb.select(col("doc_id"), col("true_label").as("label"))
        .unionByName(nb.select(col("doc_id"), col("pred_label").as("label")))
        .unionByName(lid.select(col("doc_id"), col("lang_pred").as("label")))
      EvalOps.krippendorffAlpha(ratings, col("doc_id"), col("label"))
        .orderBy("label")
    },
      s"""WITH $LangCtes,
         |nb AS ($NaiveBayesOracle),
         |rat AS (
         |  SELECT doc_id AS i, true_label AS j FROM nb
         |  UNION ALL SELECT doc_id, pred_label FROM nb
         |  UNION ALL SELECT d.doc_id, coalesce(bt.lang, 'und')
         |  FROM documents d LEFT JOIN best bt USING (doc_id)
         |  WHERE d.doc_id % 10 = 0
         |), nij AS (
         |  SELECT i, j, CAST(count(*) AS BIGINT) AS n FROM rat GROUP BY i, j
         |), pitem AS (
         |  SELECT i, CAST(sum(n) AS BIGINT) AS mu,
         |         CAST(sum(n * n) AS BIGINT) AS s2
         |  FROM nij GROUP BY i HAVING sum(n) >= 2
         |), dom AS (
         |  SELECT CAST(sum(mu) AS BIGINT) AS nn,
         |         sum(CAST(round(CAST(mu * mu - s2 AS DOUBLE) / (mu - 1), 9)
         |             AS DECIMAL(38,12))) AS domass
         |  FROM pitem
         |), nc AS (
         |  SELECT j, CAST(sum(n) AS BIGINT) AS cj
         |  FROM nij JOIN pitem USING (i) GROUP BY j
         |), sq AS (SELECT sum(CAST(cj AS HUGEINT) * cj) AS sq FROM nc)
         |SELECT j AS label, cj AS n, CAST(NULL AS DOUBLE) AS do_mass,
         |       CAST(NULL AS DOUBLE) AS alpha
         |FROM nc
         |UNION ALL
         |SELECT 'ALL', nn, CAST(round(domass, 6) AS DOUBLE) + 0.0,
         |       CASE WHEN CAST(nn AS HUGEINT) * nn > sq
         |            THEN ${ratioRoundSql(
                      "(CAST(nn AS HUGEINT) * nn - sq) * 1000000000"
                        + " - (nn - 1) * CAST(domass * 1000000000 AS HUGEINT)",
                      "(CAST(nn AS HUGEINT) * nn - sq) * 1000000000", 6)}
         |                 + 0.0 END
         |FROM dom CROSS JOIN sq
         |ORDER BY label""".stripMargin),
    // Sequential patterns: frequent adjacent 3-step event-type paths
    // per user timeline, support-filtered and ranked.
    // path replay: same two leads under the same total order, support
    // + rank; rk CAST to INTEGER (Spark row_number is int)
    Query("q_path3", (s, dir) =>
      TemporalOps.pathCounts3(Tables.events(s, dir), Seq("user_id"), "ts",
          "event_type", "event_id", minSupport = 5)
        .orderBy("rk"),
      """WITH seq AS (
        |  SELECT event_type AS t1,
        |         lead(event_type, 1) OVER w AS t2,
        |         lead(event_type, 2) OVER w AS t3
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), p AS (
        |  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE t3 IS NOT NULL GROUP BY 1, 2, 3
        |  HAVING count(*) >= 5
        |)
        |SELECT t1, t2, t3, n,
        |       CAST(row_number() OVER (ORDER BY n DESC, t1, t2, t3) AS INTEGER)
        |         AS rk
        |FROM p ORDER BY rk""".stripMargin),
    // Preference modeling: Bradley–Terry strengths over pairwise
    // "duels" — consecutive same-user events of different types, the
    // higher value wins (the RLHF reward-data shape). 5 MM rounds.
    // BT replay: exact-int pair matrix; each MM round re-derives the
    // 9dp/decimal-sum update; round CTEs MATERIALIZED (branching > 1)
    {
      val rounds = 5
      Query("q_bradley_terry", (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val pairs = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("t1"), col("value").as("v1"))
          .withColumn("t2", lead(col("t1"), 1).over(w))
          .withColumn("v2", lead(col("v1"), 1).over(w))
          .filter(col("t2").isNotNull && col("t1") =!= col("t2")
            && col("v1") =!= col("v2"))
          .select(
            when(col("v1") > col("v2"), col("t1")).otherwise(col("t2")).as("winner"),
            when(col("v1") > col("v2"), col("t2")).otherwise(col("t1")).as("loser"))
        EvalOps.bradleyTerry(pairs, col("winner"), col("loser"), rounds = rounds)
          .orderBy("item")
      },
        s"""WITH seq AS (
           |  SELECT user_id, event_type AS t1, value AS v1,
           |         lead(event_type) OVER w AS t2, lead(value) OVER w AS v2
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
           |), pr AS (
           |  SELECT CASE WHEN v1 > v2 THEN t1 ELSE t2 END AS winner,
           |         CASE WHEN v1 > v2 THEN t2 ELSE t1 END AS loser
           |  FROM seq WHERE t2 IS NOT NULL AND t1 <> t2 AND v1 <> v2
           |), wl AS (
           |  SELECT winner, loser, CAST(count(*) AS BIGINT) AS c
           |  FROM pr GROUP BY 1, 2
           |), sym AS (
           |  SELECT i, j, CAST(sum(w) AS BIGINT) AS w, CAST(sum(n) AS BIGINT) AS n
           |  FROM (
           |    SELECT winner AS i, loser AS j, c AS w, c AS n FROM wl
           |    UNION ALL
           |    SELECT loser AS i, winner AS j, 0 AS w, c AS n FROM wl) u
           |  GROUP BY i, j
           |), tot AS (
           |  SELECT i, CAST(sum(w) AS BIGINT) AS wins,
           |         CAST(sum(n) AS BIGINT) AS n_comps
           |  FROM sym GROUP BY i
           |), p0 AS (SELECT i, CAST(1.0 AS DOUBLE) AS p FROM tot),
           |${btRoundsSql(rounds)}
           |SELECT t.i AS item, t.n_comps, t.wins, round(p.p, 6) AS strength
           |FROM tot t JOIN p$rounds p ON p.i = t.i ORDER BY item""".stripMargin)
    },
    // Survival analysis: Kaplan–Meier user-retention curve; users
    // last seen within 6h of the corpus horizon are right-censored
    // (the corpus' inter-event cadence is hours, not days).
    // KM replay: exact-int risk/death counts, 9-dp ln factors
    // decimal-cumulated in lifetime order, exp published at 6dp
    Query("q_km_survival", (s, dir) =>
      TemporalOps.kmSurvival(Tables.events(s, dir), unitUs = 21600000000L)
        .orderBy("t"),
      s"""WITH pu AS (
        |  SELECT user_id, min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY user_id
        |), h AS (SELECT max(epoch_us(ts)) AS h_us FROM events),
        |lives AS (
        |  SELECT (last_us - first_us) // 21600000000 AS t,
        |         h.h_us - last_us < 21600000000 AS censored
        |  FROM pu CROSS JOIN h
        |), byt AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS ended,
        |         CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d,
        |         CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c
        |  FROM lives GROUP BY t
        |), r AS (
        |  SELECT *, CAST(sum(ended) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk
        |  FROM byt
        |), s AS (
        |  SELECT *,
        |    sum(CAST(CASE WHEN d > 0 AND n_risk > d
        |             THEN round(ln(CAST(n_risk - d AS DOUBLE) / n_risk), 9)
        |             ELSE 0.0 END AS DECIMAL(38,12))) OVER (ORDER BY t) AS cum_ln,
        |    sum(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t) AS zeroed
        |  FROM r
        |)
        |SELECT t, n_risk, d, c,
        |       ${ratioRoundSql("d", "n_risk", 6)} AS hazard,
        |       CASE WHEN zeroed > 0 THEN 0.0
        |            ELSE round(exp(CAST(cum_ln AS DOUBLE)), 6) END AS survival
        |FROM s ORDER BY t""".stripMargin),
    // Survival inference: log-rank test between the unit-hash arms'
    // retention curves (KM describes; this answers "same curve?").
    // Hypergeometric terms quantized to scale-9 ints, decimal sums,
    // one IEEE z dag.
    // Log-rank replay: identical lifetime/at-risk construction per
    // arm, hypergeometric terms as scale-9 hugeint half-up integers,
    // order-independent sums, the identical z dag
    Query("q_logrank", (s, dir) =>
      TemporalOps.logRankTest(Tables.events(s, dir),
        unitUs = 21600000000L),
      s"""WITH pk AS (
        |  SELECT user_id AS k, min(epoch_us(ts)) AS first_us,
        |         max(epoch_us(ts)) AS last_us
        |  FROM events GROUP BY user_id
        |), hz AS (SELECT max(epoch_us(ts)) AS h_us FROM events),
        |lives AS (
        |  SELECT (k % 2 = 1) AS g1,
        |         (last_us - first_us) // 21600000000 AS t,
        |         h.h_us - last_us < 21600000000 AS censored
        |  FROM pk CROSS JOIN hz h
        |), byt AS (
        |  SELECT t,
        |    CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS end1,
        |    CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT) AS end2,
        |    CAST(sum(CASE WHEN g1 AND NOT censored THEN 1 ELSE 0 END)
        |         AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN NOT g1 AND NOT censored THEN 1 ELSE 0 END)
        |         AS BIGINT) AS d2
        |  FROM lives GROUP BY t
        |), risk AS (
        |  SELECT *, sum(end1) OVER w AS n1, sum(end2) OVER w AS n2,
        |         d1 + d2 AS d
        |  FROM byt
        |  WINDOW w AS (ORDER BY t DESC
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), terms AS (
        |  SELECT d1, n1 + n2 AS n, d, n1, n2 FROM risk WHERE d > 0
        |), qt AS (
        |  SELECT d1,
        |    (2 * (CAST(d AS HUGEINT) * n1 * 1000000000) + n)
        |      // (2 * CAST(n AS HUGEINT)) AS e1t,
        |    CASE WHEN n > 1 THEN
        |      (2 * (CAST(d AS HUGEINT) * n1 * n2 * (n - d) * 1000000000)
        |         + CAST(n AS HUGEINT) * n * (n - 1))
        |        // (2 * (CAST(n AS HUGEINT) * n * (n - 1)))
        |    ELSE 0 END AS vt
        |  FROM terms
        |), tots AS (
        |  SELECT CAST(sum(d1) AS BIGINT) AS o1, sum(e1t) AS e1s,
        |         sum(vt) AS vs
        |  FROM qt
        |), arms AS (
        |  SELECT CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_treat,
        |         CAST(sum(CASE WHEN NOT g1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_ctrl
        |  FROM lives
        |), f AS (
        |  SELECT *, CASE WHEN vs > 0 THEN
        |    round((CAST(o1 AS DOUBLE) - CAST(e1s AS DOUBLE) / 1e9)
        |            / sqrt(CAST(vs AS DOUBLE) / 1e9), 6) + 0.0 END AS z
        |  FROM arms CROSS JOIN tots
        |)
        |SELECT coalesce(n_treat, 0) AS n_treat,
        |       coalesce(n_ctrl, 0) AS n_ctrl, coalesce(o1, 0) AS o1,
        |       ${ratioRoundSql("e1s", "CAST(1000000000 AS HUGEINT)", 6)}
        |         + 0.0 AS e1,
        |       ${ratioRoundSql("vs", "CAST(1000000000 AS HUGEINT)", 6)}
        |         + 0.0 AS v1,
        |       z, coalesce(abs(z) > 1.96, FALSE) AS significant
        |FROM f""".stripMargin),
    // Classifier evaluation: exact tie-aware ROC curve + AUC (Mann–
    // Whitney rank-sum, BIGINT mid-ranks) of the doc-length score
    // against the en label. Corpus → ONE score-keyed aggregate; every
    // window after that is metric-sized.
    Query("q_roc_auc", (s, dir) =>
      EvalOps.rocAuc(Tables.documents(s, dir),
          expr("n_chars div 16"), col("lang") === "en")
        .orderBy("score"),
      """WITH lab AS (
        |  SELECT n_chars // 16 AS score,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents
        |), bys AS (
        |  SELECT score, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
        |  FROM lab GROUP BY score
        |), rk AS (
        |  SELECT score, n, n_pos,
        |         CAST(sum(n) OVER (ORDER BY score) AS BIGINT) AS cum_le,
        |         CAST(sum(n_pos) OVER (ORDER BY score DESC) AS BIGINT) AS cum_tp,
        |         CAST(sum(n - n_pos) OVER (ORDER BY score DESC) AS BIGINT) AS cum_fp
        |  FROM bys
        |), tot AS (
        |  SELECT CAST(sum(n_pos) AS BIGINT) AS p_tot,
        |         CAST(sum(n - n_pos) AS BIGINT) AS n_tot,
        |         CAST(sum(n_pos * (2 * (cum_le - n) + n + 1)) AS BIGINT) AS s2
        |  FROM rk
        |)
        |SELECT score, n, n_pos, cum_tp, cum_fp,
        |       round(CAST(cum_tp AS DOUBLE) / CAST(p_tot AS DOUBLE), 9) AS tpr,
        |       round(CAST(cum_fp AS DOUBLE) / CAST(n_tot AS DOUBLE), 9) AS fpr,
        |       round(CAST(s2 - p_tot * (p_tot + 1) AS DOUBLE)
        |             / CAST(2 * p_tot * n_tot AS DOUBLE), 9) AS auc
        |FROM rk, tot ORDER BY score""".stripMargin),
    // Precision–recall curve + average precision over the same scored
    // frame — the imbalanced-gate metric (quality/contamination flags
    // at low positive rates) where ROC saturates. One score-keyed
    // combine; curve + AP on the distinct-score table.
    // PR replay: same distinct-score blocks walked descending; each
    // term one exact-int IEEE division at 9 dp, AP a decimal sum / P
    Query("q_pr_auc", (s, dir) =>
      EvalOps.prAuc(Tables.documents(s, dir),
          expr("n_chars div 16"), col("lang") === "en")
        .orderBy("score"),
      """WITH lab AS (
        |  SELECT n_chars // 16 AS score,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents
        |), bys AS (
        |  SELECT score, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
        |  FROM lab GROUP BY score
        |), rk AS (
        |  SELECT score, n, n_pos,
        |         CAST(sum(n_pos) OVER (ORDER BY score DESC) AS BIGINT) AS cum_tp,
        |         CAST(sum(n - n_pos) OVER (ORDER BY score DESC) AS BIGINT) AS cum_fp
        |  FROM bys
        |), tm AS (
        |  SELECT score, n, n_pos, cum_tp, cum_fp,
        |         round(CAST(n_pos * cum_tp AS DOUBLE)
        |               / CAST(cum_tp + cum_fp AS DOUBLE), 9) AS term
        |  FROM rk
        |), tot AS (
        |  SELECT CAST(sum(n_pos) AS BIGINT) AS p_tot,
        |         CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE) AS term_sum
        |  FROM tm
        |)
        |SELECT score, n, n_pos, cum_tp, cum_fp,
        |       round(CAST(cum_tp AS DOUBLE) / CAST(cum_tp + cum_fp AS DOUBLE), 9) AS precision,
        |       round(CAST(cum_tp AS DOUBLE) / CAST(p_tot AS DOUBLE), 9) AS recall,
        |       round(term_sum / CAST(p_tot AS DOUBLE), 6) AS ap
        |FROM tm, tot ORDER BY score""".stripMargin),
    // Score calibration: reliability bins + ECE of the stopword-ratio
    // confidence (the q_logreg_gd feature) against the en label. Each
    // published rate is one exact-int IEEE division; bin means are
    // decimal sums of 9-dp confs.
    // reliability-bin replay: 9-dp conf ratios, decimal bin sums, ECE
    // from the published rounded acc/avg_conf gaps
    Query("q_calibration", (s, dir) => {
      val ws = Tables.documents(s, dir)
        .select(col("lang"), DedupOps.words(col("text")).as("__ws"))
        .filter(size(col("__ws")) > 0)
      val conf = round(
        size(filter(col("__ws"), w => w.isin("the", "and", "of", "to", "a")))
          .cast("double") / size(col("__ws")).cast("double"), 9)
      EvalOps.calibration(ws, conf, col("lang") === "en", nBins = 10)
        .orderBy("bin")
    },
      """WITH t AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |         round(CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
        |                    w -> w IN ('the','and','of','to','a'))) AS DOUBLE)
        |               / CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE),
        |               9) AS conf
        |  FROM documents
        |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0
        |), b AS (
        |  SELECT least(CAST(floor(conf * 10.0) AS BIGINT), 9) AS bin, conf, y FROM t
        |), g AS (
        |  SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
        |         sum(CAST(conf AS DECIMAL(28,12))) AS conf_sum
        |  FROM b GROUP BY bin
        |), r AS (
        |  SELECT bin, n, n_pos,
        |         round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 9) AS acc,
        |         round(CAST(conf_sum AS DOUBLE) / CAST(n AS DOUBLE), 9) AS avg_conf
        |  FROM g
        |), r2 AS (SELECT *, round(abs(acc - avg_conf), 9) AS gap FROM r)
        |SELECT bin, n, n_pos, acc, avg_conf, gap,
        |       round(CAST(sum(CAST(round(gap * n, 6) AS DECIMAL(28,12))) OVER ()
        |                  AS DOUBLE)
        |             / CAST(sum(n) OVER () AS DOUBLE), 9) AS ece
        |FROM r2 ORDER BY bin""".stripMargin),
    // Nonparametric calibration: isotonic (PAV) fit of purchase
    // probability against the integer value grid via the minimax
    // identity — the monotone map q_calibration's fixed bins
    // approximate. One score-keyed combine, then m²-sized dataflow.
    // isotonic replay: the same minimax-identity dataflow — exact-int
    // prefix masses, one IEEE division per interval, min/max windows
    Query("q_isotonic", (s, dir) =>
      EvalOps.isotonicCalibration(Tables.events(s, dir),
          expr("CAST(floor(value) AS BIGINT)"),
          col("event_type") === "purchase")
        .orderBy("s"),
      s"""WITH base AS (
         |  SELECT CAST(floor(value) AS BIGINT) AS s,
         |         CAST(count(*) AS BIGINT) AS w,
         |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |              AS BIGINT) AS ysum
         |  FROM events GROUP BY 1
         |), pre AS (
         |  SELECT s, w, ysum,
         |         CAST(sum(w) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
         |              AS BIGINT) AS cw,
         |         CAST(sum(ysum) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
         |              AS BIGINT) AS cy
         |  FROM base
         |), pairs AS (
         |  SELECT j.s AS sj, k.s AS sk,
         |         (CAST(k.cy - j.cy + j.ysum AS HUGEINT) * 1000000000000000000)
         |           // (k.cw - j.cw + j.w) AS a
         |  FROM pre j JOIN pre k ON j.s <= k.s
         |), bmin AS (
         |  SELECT sj, sk, min(a) OVER (PARTITION BY sj ORDER BY sk DESC
         |                              ROWS UNBOUNDED PRECEDING) AS b
         |  FROM pairs
         |), iso AS (SELECT sk AS s, max(b) AS isokey FROM bmin GROUP BY sk)
         |SELECT base.s, w AS n, ysum AS y_pos,
         |       ${ratioRoundSql("ysum", "w", 6)} AS rate,
         |       ${ratioRoundSql("isokey", "1000000000000000000", 6)} AS iso
         |FROM base JOIN iso USING (s) ORDER BY s""".stripMargin),
    // Ranking evaluation: NDCG@10 of the RRF-fused hybrid ranking
    // against graded relevance from the exact cosine ranks (3/2/1 for
    // ranks ≤2/≤5/≤10) — the retrieval-quality gate for the fusion
    // operator. The cosine lists feed BOTH the fusion and the
    // relevance side (one scope-cached computation).
    // NDCG replay: the q_rrf_fusion ranking chain + graded gains from
    // the exact cosine ranks; 9-dp discounts, decimal per-query sums
    Query("q_ndcg", (s, dir) => CacheScope.pinned { p =>
      val emb = Tables.embeddings(s, dir)
      val cos = p(SimilarityOps.bruteForceTopK(emb, col("vec_id") < 10, 10))
      val l2 = SimilarityOps.bruteForceTopKL2(emb, col("vec_id") < 10, 10)
      val fused = SimilarityOps.rrfFuse(Seq(cos, l2), topK = 10)
        .select(col("q_id"), col("nn_id"), col("fused_rank").as("pos"))
      val rels = cos.select(col("q_id"), col("nn_id"),
        when(col("rank") <= 2, 3L).when(col("rank") <= 5, 2L).otherwise(1L)
          .as("rel"))
      EvalOps.ndcgAtK(fused, rels, 10).orderBy("q_id")
    },
      s"""WITH $CosineCte,
         |dots AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id, ${DotSql("q", "c")} AS dot
         |  FROM v q JOIN v c ON c.vec_id <> q.vec_id, range(64) r(d)
         |  WHERE q.vec_id < 10
         |  GROUP BY q.vec_id, c.vec_id
         |), s2 AS (
         |  SELECT vec_id, CAST(sum(CAST(CAST(embedding[d+1] AS DOUBLE)
         |         * CAST(embedding[d+1] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) AS sq
         |  FROM v, range(64) r(d) GROUP BY vec_id
         |), crank AS (
         |  SELECT q_id, nn_id, row_number() OVER (PARTITION BY q_id
         |           ORDER BY sim DESC, nn_id) AS rank FROM (
         |    SELECT d.q_id, d.nn_id, d.dot / (nq.nrm * nc.nrm) AS sim
         |    FROM dots d JOIN nrm nq ON nq.vec_id = d.q_id
         |    JOIN nrm nc ON nc.vec_id = d.nn_id)
         |), lrank AS (
         |  SELECT q_id, nn_id, row_number() OVER (PARTITION BY q_id
         |           ORDER BY sim DESC, nn_id) AS rank FROM (
         |    SELECT d.q_id, d.nn_id, -(q.sq - 2.0 * d.dot + c.sq) AS sim
         |    FROM dots d JOIN s2 q ON q.vec_id = d.q_id
         |    JOIN s2 c ON c.vec_id = d.nn_id)
         |), u AS (
         |  SELECT * FROM crank WHERE rank <= 10
         |  UNION ALL SELECT * FROM lrank WHERE rank <= 10
         |), f AS (
         |  SELECT q_id, nn_id,
         |         sum(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rank)) AS rrf
         |  FROM u GROUP BY q_id, nn_id
         |), fr AS (
         |  SELECT q_id, nn_id, fused_rank AS pos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |             ORDER BY rrf DESC, nn_id) AS fused_rank FROM f) x
         |  WHERE fused_rank <= 10
         |), rel AS (
         |  SELECT q_id, nn_id,
         |         CASE WHEN rank <= 2 THEN 3 WHEN rank <= 5 THEN 2 ELSE 1 END AS rel
         |  FROM crank WHERE rank <= 10
         |), sys AS (
         |  SELECT fr.q_id, fr.pos, coalesce(rel.rel, 0) AS rel
         |  FROM fr LEFT JOIN rel ON rel.q_id = fr.q_id AND rel.nn_id = fr.nn_id
         |), dcg AS (
         |  SELECT q_id,
         |         sum(CAST(round(CAST((1 << rel) - 1 AS DOUBLE)
         |             * round(1.0 / log2(CAST(pos + 1 AS DOUBLE)), 9), 9)
         |             AS DECIMAL(28,12))) AS dcg_sum,
         |         CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_rel_ranked
         |  FROM sys GROUP BY q_id
         |), ideal AS (
         |  SELECT q_id,
         |         sum(CAST(round(CAST((1 << rel) - 1 AS DOUBLE)
         |             * round(1.0 / log2(CAST(ipos + 1 AS DOUBLE)), 9), 9)
         |             AS DECIMAL(28,12))) AS idcg_sum,
         |         count(*) AS n_rel
         |  FROM (
         |    SELECT q_id, rel, row_number() OVER (PARTITION BY q_id
         |             ORDER BY rel DESC, nn_id) AS ipos
         |    FROM rel WHERE rel > 0) i
         |  WHERE ipos <= 10 GROUP BY q_id
         |)
         |SELECT d.q_id, round(CAST(dcg_sum AS DOUBLE), 6) AS dcg,
         |       round(CAST(idcg_sum AS DOUBLE), 6) AS idcg,
         |       CASE WHEN idcg_sum IS NOT NULL THEN
         |         round(CAST(dcg_sum AS DOUBLE) / CAST(idcg_sum AS DOUBLE), 6)
         |       END AS ndcg,
         |       coalesce(n_rel, 0) AS n_rel, n_rel_ranked
         |FROM dcg d LEFT JOIN ideal USING (q_id) ORDER BY d.q_id""".stripMargin),
    // Distribution-drift monitor: PSI between the even- and odd-doc_id
    // snapshot halves over length bins — the "did the input move"
    // check every scored production corpus runs against a reference.
    // Laplace add-one keeps bin probabilities integer-exact.
    // PSI replay: Laplace add-one bin probabilities (integer-exact
    // before one IEEE division), 9-dp ln terms, decimal total
    Query("q_psi", (s, dir) => {
      val docs = Tables.documents(s, dir)
      EvalOps.psi(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          expr("least(n_chars div 100, 9)"), nBins = 10)
        .orderBy("bin")
    },
      """WITH refc AS (
        |  SELECT least(n_chars // 100, 9) AS bin, count(*) AS cnt_ref
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
        |), curc AS (
        |  SELECT least(n_chars // 100, 9) AS bin, count(*) AS cnt_cur
        |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
        |), m AS (
        |  SELECT coalesce(refc.bin, curc.bin) AS bin,
        |         coalesce(cnt_ref, 0) AS cnt_ref,
        |         coalesce(cnt_cur, 0) AS cnt_cur
        |  FROM refc FULL OUTER JOIN curc ON refc.bin = curc.bin
        |), p AS (
        |  SELECT bin, cnt_ref, cnt_cur,
        |         round(CAST(cnt_ref + 1 AS DOUBLE)
        |               / CAST(sum(cnt_ref) OVER () + 10 AS DOUBLE), 9) AS p_ref,
        |         round(CAST(cnt_cur + 1 AS DOUBLE)
        |               / CAST(sum(cnt_cur) OVER () + 10 AS DOUBLE), 9) AS p_cur
        |  FROM m
        |), t AS (
        |  SELECT *, round((p_ref - p_cur) * ln(p_ref / p_cur), 9) AS term FROM p
        |)
        |SELECT bin, cnt_ref, cnt_cur, p_ref, p_cur, term,
        |       round(CAST(sum(CAST(term AS DECIMAL(28,12))) OVER () AS DOUBLE), 9)
        |         AS psi
        |FROM t ORDER BY bin""".stripMargin),
    // Label-noise screen: kNN (k=5) neighbor-vote agreement on the
    // embedding labels — strict-minority agreement flags likely
    // mislabels for re-annotation (edited-nearest-neighbor shape).
    // kNN neighbor-vote replay over the exact directed top-5 lists
    Query("q_label_noise", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      EvalOps.labelNoise(SimilarityOps.knnLists(emb, 5), emb)
        .orderBy("vec_id")
    },
      s"""WITH $CosineCte,
         |dots AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb, ${DotSql("a", "b")} AS dot
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id, range(64) r(d)
         |  GROUP BY a.vec_id, b.vec_id
         |), sims AS (
         |  SELECT d.va, d.vb, d.dot / (na.nrm * nb.nrm) AS sim
         |  FROM dots d JOIN nrm na ON na.vec_id = d.va
         |  JOIN nrm nb ON nb.vec_id = d.vb
         |), bi AS (
         |  SELECT va AS q, vb AS n, sim FROM sims
         |  UNION ALL SELECT vb, va, sim FROM sims
         |), rk AS (
         |  SELECT q, n, row_number() OVER (PARTITION BY q
         |                                  ORDER BY sim DESC, n) AS rank
         |  FROM bi
         |), knn AS (SELECT q, n FROM rk WHERE rank <= 5),
         |agg AS (
         |  SELECT lq.vec_id AS vec_id, lq.label AS label,
         |         count(*) AS n_neighbors,
         |         CAST(sum(CASE WHEN ln.label = lq.label THEN 1 ELSE 0 END)
         |              AS BIGINT) AS n_agree
         |  FROM knn JOIN embeddings lq ON lq.vec_id = knn.q
         |  JOIN embeddings ln ON ln.vec_id = knn.n
         |  GROUP BY lq.vec_id, lq.label
         |)
         |SELECT vec_id, label, n_neighbors, n_agree,
         |       ${ratioRoundSql("n_agree", "n_neighbors", 9)} AS agree_frac,
         |       2 * n_agree < n_neighbors AS suspect
         |FROM agg ORDER BY vec_id""".stripMargin),
    // Hashing-trick vectorization: vocabulary-free signed 64-bucket
    // bag-of-words (md5 open hash → bucket + sign), per-doc sparse
    // rows with nnz and ‖v‖². Bounded slice (doc_id < 50) published.
    // hashing-trick replay: the md5 open hash drives bucket AND sign
    Query("q_feature_hash", (s, dir) =>
      TextAnalysisOps.featureHash(
          Tables.documents(s, dir).filter(col("doc_id") < 50), nBuckets = 64)
        .orderBy("doc_id", "bucket"),
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |  FROM documents WHERE doc_id < 50
        |), hh AS (
        |  SELECT doc_id, ('0x' || substring(md5(w || '|fh'), 1, 6))::BIGINT AS h
        |  FROM tok
        |), sb AS (
        |  SELECT doc_id, h % 64 AS bucket,
        |         CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS s
        |  FROM hh
        |), vv AS (
        |  SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS v
        |  FROM sb GROUP BY doc_id, bucket
        |)
        |SELECT doc_id, bucket, v,
        |       CAST(sum(CASE WHEN v <> 0 THEN 1 ELSE 0 END)
        |            OVER (PARTITION BY doc_id) AS BIGINT) AS nnz,
        |       CAST(sum(v * v) OVER (PARTITION BY doc_id) AS BIGINT) AS norm2
        |FROM vv ORDER BY doc_id, bucket""".stripMargin),
    // Corpus-concentration data card: Lorenz curve + exact grouped
    // Gini over tokens-per-document — "how much of the corpus sits in
    // its largest docs". One value-keyed aggregate; windows run over
    // distinct token counts only.
    // grouped exact Gini replay: all-BIGINT Lorenz accumulation
    Query("q_token_gini", (s, dir) =>
      EvalOps.lorenzGini(
          Tables.documents(s, dir)
            .select(size(DedupOps.words(col("text"))).as("n_tok")),
          col("n_tok"))
        .orderBy("v"),
      s"""WITH t AS (
        |  SELECT len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS v
        |  FROM documents
        |), g AS (
        |  SELECT v, count(*) AS n_rows FROM t GROUP BY v
        |), g2 AS (SELECT v, n_rows, v * n_rows AS mass FROM g),
        |c AS (
        |  SELECT v, n_rows, mass,
        |         CAST(sum(n_rows) OVER (ORDER BY v) AS BIGINT) AS cum_rows,
        |         CAST(sum(mass) OVER (ORDER BY v) AS BIGINT) AS cum_mass
        |  FROM g2
        |), tot AS (
        |  SELECT CAST(sum(n_rows) AS BIGINT) AS n_tot,
        |         CAST(sum(mass) AS BIGINT) AS t_tot,
        |         CAST(sum(n_rows * (2 * (cum_mass - mass) + mass)) AS BIGINT) AS g_num
        |  FROM c
        |)
        |SELECT v, n_rows, mass, cum_rows, cum_mass,
        |       ${ratioRoundSql("cum_rows", "n_tot", 9)} AS lorenz_p,
        |       ${ratioRoundSql("cum_mass", "t_tot", 9)} AS lorenz_l,
        |       ${ratioRoundSql("CAST(n_tot AS HUGEINT) * t_tot - g_num",
                 "CAST(n_tot AS HUGEINT) * t_tot", 9)} AS gini
        |FROM c, tot ORDER BY v""".stripMargin),
    // STREAMING drift monitor: per-day value-bin counts accumulate as
    // a real watermarked stream (bin-bounded window state), then each
    // window's distribution is PSI-scored against the full-corpus
    // static reference — the "did today's data move" production check.
    // streaming drift replay: epoch-aligned daily windows (Spark
    // window(ts,'1 day') ≡ date_trunc under UTC), Laplace bin probs
    Query("q_stream_psi", (s, dir) => {
      val binned = graft.streaming.StreamingOps.windowedBinCounts(
        Tables.eventsStream(s, dir), "ts", "value",
        "1 day", "2 days", binWidth = 50.0, maxBin = 9)
      val cur = memorySinkRun(binned, "psi", "complete")
        .select(unix_micros(col("w_start")).as("grp"), col("bin"), col("cnt"))
      val ref = Tables.events(s, dir)
        .select(least(floor(col("value") / 50.0), lit(9L)).cast("long").as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("cnt_ref"))
      EvalOps.psiByGroup(cur, ref, nBins = 10)
        .withColumnRenamed("grp", "start_us")
        .orderBy("start_us", "bin")
    },
      """WITH ev AS (
        |  SELECT ts, least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bin
        |  FROM events
        |), ref AS (
        |  SELECT bin, count(*) AS cnt_ref FROM ev GROUP BY bin
        |), rt AS (SELECT CAST(sum(cnt_ref) AS BIGINT) AS n_ref FROM ref),
        |wb AS (
        |  SELECT epoch_us(date_trunc('day', ts)) AS start_us, bin,
        |         count(*) AS cnt
        |  FROM ev GROUP BY 1, 2
        |), grps AS (SELECT DISTINCT start_us FROM wb),
        |axis AS (
        |  SELECT g.start_us, r.bin, r.cnt_ref FROM grps g CROSS JOIN ref r
        |), m AS (
        |  SELECT a.start_us, a.bin, a.cnt_ref, coalesce(wb.cnt, 0) AS cnt
        |  FROM axis a LEFT JOIN wb
        |    ON wb.start_us = a.start_us AND wb.bin = a.bin
        |), p AS (
        |  SELECT start_us, bin, cnt, cnt_ref,
        |         round(CAST(cnt + 1 AS DOUBLE)
        |               / CAST(sum(cnt) OVER (PARTITION BY start_us) + 10
        |                      AS DOUBLE), 9) AS p_cur,
        |         round(CAST(cnt_ref + 1 AS DOUBLE)
        |               / CAST(rt.n_ref + 10 AS DOUBLE), 9) AS p_ref
        |  FROM m, rt
        |), t AS (
        |  SELECT *, round((p_ref - p_cur) * ln(p_ref / p_cur), 9) AS term FROM p
        |)
        |SELECT start_us, bin, cnt, cnt_ref, p_cur, p_ref, term,
        |       round(CAST(sum(CAST(term AS DECIMAL(28,12)))
        |                  OVER (PARTITION BY start_us) AS DOUBLE), 9) AS psi
        |FROM t ORDER BY start_us, bin""".stripMargin),
    // Hard-negative mining (contrastive-training data prep): per query
    // the top-5 most-similar DIFFERENT-label vectors — label mismatch
    // filtered before the bounded heap, so positives never hold slots.
    // hard-negative replay: label-mismatch filter before the rank
    Query("q_hard_negatives", (s, dir) =>
      SimilarityOps.hardNegatives(Tables.embeddings(s, dir),
          col("vec_id") < 10, k = 5)
        .select(col("q_id"), col("label_q"), col("nn_id"), col("label_n"),
          round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy("q_id", "rank"),
      s"""WITH $CosineCte,
         |dots AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id, ${DotSql("q", "c")} AS dot
         |  FROM v q JOIN v c ON c.vec_id <> q.vec_id, range(64) r(d)
         |  WHERE q.vec_id < 10
         |  GROUP BY q.vec_id, c.vec_id
         |), sims AS (
         |  SELECT d.q_id, lq.label AS label_q, d.nn_id, lc.label AS label_n,
         |         d.dot / (nq.nrm * nc.nrm) AS sim
         |  FROM dots d
         |  JOIN nrm nq ON nq.vec_id = d.q_id
         |  JOIN nrm nc ON nc.vec_id = d.nn_id
         |  JOIN embeddings lq ON lq.vec_id = d.q_id
         |  JOIN embeddings lc ON lc.vec_id = d.nn_id
         |  WHERE lq.label <> lc.label
         |), rk AS (
         |  SELECT q_id, label_q, nn_id, label_n, sim,
         |         row_number() OVER (PARTITION BY q_id
         |                            ORDER BY sim DESC, nn_id) AS rank
         |  FROM sims
         |)
         |SELECT q_id, label_q, nn_id, label_n, round(sim, 6) AS sim, rank
         |FROM rk WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin),
    // Sliced evaluation: per-source AUC of the length score — the
    // slice report that catches regressions a global AUC hides.
    // Every window partitions BY SLICE; degenerate slices null out.
    // per-slice Mann–Whitney replay: PARTITION BY slice everywhere
    Query("q_sliced_auc", (s, dir) =>
      EvalOps.rocAucBySlice(Tables.documents(s, dir), col("source"),
          expr("n_chars div 16"), col("lang") === "en")
        .orderBy("slice"),
      """WITH lab AS (
        |  SELECT source AS slice, n_chars // 16 AS score,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents
        |), bys AS (
        |  SELECT slice, score, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
        |  FROM lab GROUP BY slice, score
        |), rk AS (
        |  SELECT slice, score, n, n_pos,
        |         CAST(sum(n) OVER (PARTITION BY slice ORDER BY score)
        |              AS BIGINT) AS cum_le
        |  FROM bys
        |), agg AS (
        |  SELECT slice, CAST(sum(n) AS BIGINT) AS n_rows,
        |         CAST(sum(n_pos) AS BIGINT) AS p_tot,
        |         CAST(sum(n - n_pos) AS BIGINT) AS n_tot,
        |         CAST(sum(n_pos * (2 * (cum_le - n) + n + 1)) AS BIGINT) AS s2,
        |         count(*) AS n_scores
        |  FROM rk GROUP BY slice
        |)
        |SELECT slice, n_rows, p_tot, n_tot, n_scores,
        |       CASE WHEN p_tot > 0 AND n_tot > 0 THEN
        |         round(CAST(s2 - p_tot * (p_tot + 1) AS DOUBLE)
        |               / CAST(2 * p_tot * n_tot AS DOUBLE), 9)
        |       END AS auc
        |FROM agg ORDER BY slice""".stripMargin),
    // Split-conformal outlier calibration: thresholds from the
    // calibration split's exact integer ranks (milli-α BIGINT grid),
    // flag rates + finite-sample validity bound checked on eval.
    // split-conformal replay: BIGINT rank on the milli-α grid, exact
    // element threshold, flag rate vs the finite-sample bound
    Query("q_conformal", (s, dir) => {
      val docs = Tables.documents(s, dir)
      EvalOps.conformalOutliers(
          docs.filter(pmod(col("doc_id"), lit(5)) === 0),
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          col("n_chars"), alphas = Seq(0.1, 0.05, 0.01))
        .orderBy("alpha")
    },
      """WITH cal AS (
        |  SELECT n_chars AS score FROM documents WHERE doc_id % 5 = 0
        |), bys AS (
        |  SELECT score, count(*) AS n FROM cal GROUP BY score
        |), cum AS (
        |  SELECT score, CAST(sum(n) OVER (ORDER BY score) AS BIGINT) AS cum_le
        |  FROM bys
        |), nc AS (SELECT count(*) AS n_calib FROM cal),
        |al(alpha, am) AS (VALUES (CAST(0.1 AS DOUBLE), 100),
        |                         (CAST(0.05 AS DOUBLE), 50),
        |                         (CAST(0.01 AS DOUBLE), 10)),
        |rr AS (
        |  SELECT alpha, n_calib,
        |         ((1000 - am) * (n_calib + 1) + 999) // 1000 AS r
        |  FROM al, nc
        |), thr AS (
        |  SELECT alpha, n_calib, r,
        |         coalesce(min(CASE WHEN cum_le >= r THEN score END),
        |                  max(score)) AS threshold
        |  FROM rr, cum GROUP BY alpha, n_calib, r
        |), ev AS (
        |  SELECT n_chars AS score FROM documents WHERE doc_id % 5 <> 0
        |), f AS (
        |  SELECT alpha, n_calib, r, threshold, count(*) AS n_eval,
        |         CAST(sum(CASE WHEN ev.score > threshold THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_flagged
        |  FROM thr, ev GROUP BY alpha, n_calib, r, threshold
        |), pub AS (
        |  SELECT alpha, n_calib, r, threshold, n_eval, n_flagged,
        |         round(CAST(n_flagged AS DOUBLE) / CAST(n_eval AS DOUBLE), 9)
        |           AS flag_rate,
        |         round(alpha + 1.0 / CAST(n_calib + 1 AS DOUBLE), 9) AS bound
        |  FROM f
        |)
        |SELECT *, flag_rate <= bound AS valid FROM pub ORDER BY alpha""".stripMargin),
    // Exact two-sample KS drift test between snapshot halves over doc
    // length — the binning-free companion to q_psi; the max runs on
    // cross-multiplied BIGINTs, divided once at the end.
    // KS replay: cross-multiplied BIGINT ECDF gaps, one final divide
    Query("q_ks_drift", (s, dir) => {
      val docs = Tables.documents(s, dir)
      EvalOps.ksDrift(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
          docs.filter(pmod(col("doc_id"), lit(2)) === 1),
          col("n_chars"))
        .orderBy("v")
    },
      """WITH ca AS (
        |  SELECT n_chars AS v, count(*) AS n_a FROM documents
        |  WHERE doc_id % 2 = 0 GROUP BY 1
        |), cb AS (
        |  SELECT n_chars AS v, count(*) AS n_b FROM documents
        |  WHERE doc_id % 2 = 1 GROUP BY 1
        |), m AS (
        |  SELECT coalesce(ca.v, cb.v) AS v,
        |         coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM ca FULL OUTER JOIN cb ON ca.v = cb.v
        |), c AS (
        |  SELECT v, n_a, n_b,
        |         CAST(sum(n_a) OVER (ORDER BY v) AS BIGINT) AS cum_a,
        |         CAST(sum(n_b) OVER (ORDER BY v) AS BIGINT) AS cum_b,
        |         CAST(sum(n_a) OVER () AS BIGINT) AS na,
        |         CAST(sum(n_b) OVER () AS BIGINT) AS nb
        |  FROM m
        |), d AS (
        |  SELECT *, abs(cum_a * nb - cum_b * na) AS num FROM c
        |), pub AS (
        |  SELECT v, n_a, n_b, cum_a, cum_b,
        |         round(CAST(cum_a AS DOUBLE) / CAST(na AS DOUBLE), 9) AS ecdf_a,
        |         round(CAST(cum_b AS DOUBLE) / CAST(nb AS DOUBLE), 9) AS ecdf_b,
        |         round(CAST(num AS DOUBLE) / CAST(na * nb AS DOUBLE), 9) AS diff,
        |         round(CAST(max(num) OVER () AS DOUBLE)
        |               / CAST(na * nb AS DOUBLE), 9) AS d_stat,
        |         round(1.358 * sqrt(CAST(na + nb AS DOUBLE)
        |                            / CAST(na * nb AS DOUBLE)), 9) AS crit_05
        |  FROM d
        |)
        |SELECT *, d_stat > crit_05 AS reject_05 FROM pub ORDER BY v""".stripMargin),
    // Exact equi-depth histogram — the range-partitioner planning
    // primitive: BIGINT rank boundaries + the realized per-bucket
    // counts (the skew a range partition on this key would inherit).
    // equi-depth replay: BIGINT boundary ranks, buckets by strict
    // boundary count, realized depths
    Query("q_equidepth", (s, dir) =>
      DataQualityOps.equiDepth(Tables.documents(s, dir), col("n_chars"),
          nBuckets = 10)
        .orderBy("bucket"),
      """WITH t AS (SELECT n_chars AS v FROM documents),
        |byv AS (SELECT v, count(*) AS n FROM t GROUP BY v),
        |c AS (
        |  SELECT v, n, CAST(sum(n) OVER (ORDER BY v) AS BIGINT) AS cum FROM byv
        |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
        |rk AS (
        |  SELECT i, (i * n_total + 9) // 10 AS r
        |  FROM range(1, 10) t(i), tot
        |), bd AS (
        |  SELECT rk.i, min(CASE WHEN c.cum >= rk.r THEN c.v END) AS b
        |  FROM rk CROSS JOIN c GROUP BY rk.i
        |), bk AS (
        |  SELECT c.v, c.n,
        |         CAST(sum(CASE WHEN c.v > bd.b THEN 1 ELSE 0 END) AS BIGINT)
        |           AS bucket
        |  FROM c CROSS JOIN bd GROUP BY c.v, c.n
        |), agg AS (
        |  SELECT bucket, CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_values
        |  FROM bk GROUP BY bucket
        |)
        |SELECT a.bucket, lo.b AS lo, hi.b AS hi, a.n_rows, a.n_values,
        |       round(CAST(a.n_rows AS DOUBLE) / CAST(tot.n_total AS DOUBLE), 9)
        |         AS depth_frac
        |FROM agg a
        |LEFT JOIN bd hi ON hi.i = a.bucket + 1
        |LEFT JOIN bd lo ON lo.i = a.bucket
        |CROSS JOIN tot
        |ORDER BY a.bucket""".stripMargin),
    // Hot-key skew diagnostics: top-10 heaviest event keys with share
    // and ratio-to-mean — the observability report that says when to
    // flip the salting hatches.
    Query("q_skew_report", (s, dir) =>
      DataQualityOps.skewReport(Tables.events(s, dir), col("user_id"), k = 10)
        .orderBy("rank"),
      """WITH cnt AS (
        |  SELECT user_id AS key, count(*) AS n FROM events GROUP BY user_id
        |), tot AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_total, count(*) AS n_keys FROM cnt
        |), top AS (
        |  SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rank FROM cnt
        |)
        |SELECT rank, key, n,
        |       round(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 9) AS share,
        |       round(CAST(n * n_keys AS DOUBLE) / CAST(n_total AS DOUBLE), 9)
        |         AS skew_vs_mean,
        |       n_total, n_keys
        |FROM top, tot WHERE rank <= 10 ORDER BY rank""".stripMargin),
    // Tail-index quantification: Hill α̂ of per-user activity per
    // event type over the top-10 order statistics — the number
    // behind salting/AQE-skew sizing (q_skew_report names hot keys;
    // this measures HOW heavy the tail is). Nano-unit ln integers,
    // half-up rationals.
    // skew replay: key-count table + totals, ties to the smaller key
    // Hill replay: identical (f desc, key) order statistics, the
    // identical nano-unit ln integers, half-up rationals
    Query("q_hill", (s, dir) =>
      DataQualityOps.hillTailIndex(Tables.events(s, dir),
          col("event_type"), col("user_id"), k = 10)
        .orderBy("grp"),
      s"""WITH counts AS (
        |  SELECT event_type AS grp, user_id AS key,
        |         CAST(count(*) AS BIGINT) AS f
        |  FROM events GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY grp
        |    ORDER BY f DESC, key) AS rn
        |  FROM counts
        |), ref AS (
        |  SELECT grp, f AS x_ref FROM ranked WHERE rn = 11
        |), agg AS (
        |  SELECT r.grp, max(ref.x_ref) AS x_ref,
        |    CAST(sum(CAST(round(ln(CAST(r.f AS DOUBLE) / ref.x_ref)
        |                        * 1000000000) AS BIGINT)) AS BIGINT) AS sum_t
        |  FROM ranked r JOIN ref USING (grp)
        |  WHERE r.rn <= 10
        |  GROUP BY r.grp
        |)
        |SELECT grp, CAST(10 AS BIGINT) AS k, x_ref,
        |  ${ratioRoundSql("sum_t", "CAST(10 AS HUGEINT) * 1000000000", 6)} + 0.0 AS hill_h,
        |  CASE WHEN sum_t > 0 THEN
        |    ${ratioRoundSql("CAST(10 AS HUGEINT) * 1000000000", "sum_t", 6)}
        |      + 0.0 END AS alpha
        |FROM agg ORDER BY grp""".stripMargin),
    // Cross-source harmonization: exact quantile normalization of each
    // event type's deci-grid value distribution onto the pooled one —
    // integer cross-multiplied ECDF comparisons, no float discipline.
    // quantile-norm replay: identical grid aggregates and ECDF windows;
    // the mapping comparison cross-multiplies to HUGEINT lanes
    Query("q_quantile_norm", (s, dir) =>
      RelationalOps.quantileNormalize(Tables.events(s, dir),
          col("event_type"), expr("CAST(floor(value * 10) AS BIGINT)"))
        .orderBy("grp", "v"),
      """WITH gv AS (
        |  SELECT event_type AS grp, CAST(floor(value * 10) AS BIGINT) AS v,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2
        |), g AS (
        |  SELECT grp, v, n,
        |         CAST(sum(n) OVER (PARTITION BY grp ORDER BY v
        |                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_g,
        |         CAST(sum(n) OVER (PARTITION BY grp) AS BIGINT) AS n_g
        |  FROM gv
        |), pool AS (SELECT v, CAST(sum(n) AS BIGINT) AS np FROM gv GROUP BY v),
        |p AS (
        |  SELECT v AS vp, np,
        |         CAST(sum(np) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |              AS BIGINT) AS cum_p,
        |         CAST(sum(np) OVER () AS BIGINT) AS n_p
        |  FROM pool
        |), gr AS (
        |  SELECT g.*, p.n_p,
        |         (CAST(cum_g AS HUGEINT) * p.n_p + n_g - 1) // n_g AS r
        |  FROM g CROSS JOIN (SELECT DISTINCT n_p FROM p) p
        |)
        |SELECT grp, v, n, cum_g, n_g, p.vp AS mapped
        |FROM gr JOIN p ON CAST(p.cum_p - p.np AS HUGEINT) < gr.r
        |               AND gr.r <= CAST(p.cum_p AS HUGEINT)
        |ORDER BY grp, v""".stripMargin),
  )
}
