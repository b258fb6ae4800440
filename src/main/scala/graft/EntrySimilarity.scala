package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.EntryHelpers._

/** embedding similarity: brute/kNN/RRF/MMR, SemDeDup, ANN ladders.
  *
  * One registry slice of [[SparkEntry]]: `queries` declares each gated
  * Spark pipeline once, as a [[Query]] beside the DuckDB replay the
  * driver hash-compares it against.
  */
private[graft] object EntrySimilarity {

  val queries: Seq[Query] = Seq(
    // Similarity search: brute-force cosine top-10 for queries vec_id<10.
    Query("q_cosine_nn", (s, dir) =>
      SimilarityOps.bruteForceTopK(Tables.embeddings(s, dir), col("vec_id") < 10, 10)
        .select(col("q_id"), col("nn_id"), round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy("q_id", "rank"),
      s"""WITH $CosineCte,
         |dots AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id, ${DotSql("q", "c")} AS dot
         |  FROM v q JOIN v c ON c.vec_id <> q.vec_id, range(64) r(d)
         |  WHERE q.vec_id < 10
         |  GROUP BY q.vec_id, c.vec_id
         |), sims AS (
         |  SELECT d.q_id, d.nn_id, d.dot / (nq.nrm * nc.nrm) AS sim
         |  FROM dots d JOIN nrm nq ON nq.vec_id = d.q_id
         |  JOIN nrm nc ON nc.vec_id = d.nn_id
         |)
         |SELECT q_id, nn_id, round(sim, 6) AS sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |                               ORDER BY sim DESC, nn_id) AS rank
         |  FROM sims) x
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    // Matryoshka truncation recall: how much of the exact 64-dim
    // top-10 survives in a 16-dim-prefix index — the
    // dimension-vs-recall card run before shipping a truncated index.
    // MRL replay: both rankings re-derived with the same decimal-dot
    // CTEs (full over range(64), truncated over range(16) + its own
    // norms); the intersection and recall are exact-int arithmetic
    Query("q_mrl_recall", (s, dir) =>
      SimilarityOps.mrlRecall(Tables.embeddings(s, dir), col("vec_id") < 10,
          k = 10, truncDims = 16)
        .orderBy(col("q_id").asc_nulls_last),
      s"""WITH $CosineCte,
         |tnrm AS (
         |  SELECT vec_id, sqrt(CAST(sum(CAST(CAST(embedding[d+1] AS DOUBLE)
         |         * CAST(embedding[d+1] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)) AS nrm
         |  FROM v, range(16) r(d) GROUP BY vec_id
         |), fdots AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id, ${DotSql("q", "c")} AS dot
         |  FROM v q JOIN v c ON c.vec_id <> q.vec_id, range(64) r(d)
         |  WHERE q.vec_id < 10 GROUP BY q.vec_id, c.vec_id
         |), frank AS (
         |  SELECT q_id, nn_id FROM (
         |    SELECT d.q_id, d.nn_id,
         |           row_number() OVER (PARTITION BY d.q_id
         |             ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.nn_id) AS rank
         |    FROM fdots d JOIN nrm nq ON nq.vec_id = d.q_id
         |    JOIN nrm nc ON nc.vec_id = d.nn_id) x
         |  WHERE rank <= 10
         |), tdots AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id, ${DotSql("q", "c")} AS dot
         |  FROM v q JOIN v c ON c.vec_id <> q.vec_id, range(16) r(d)
         |  WHERE q.vec_id < 10 GROUP BY q.vec_id, c.vec_id
         |), trank AS (
         |  SELECT q_id, nn_id FROM (
         |    SELECT d.q_id, d.nn_id,
         |           row_number() OVER (PARTITION BY d.q_id
         |             ORDER BY d.dot / (nq.nrm * nc.nrm) DESC, d.nn_id) AS rank
         |    FROM tdots d JOIN tnrm nq ON nq.vec_id = d.q_id
         |    JOIN tnrm nc ON nc.vec_id = d.nn_id) x
         |  WHERE rank <= 10
         |), hits AS (
         |  SELECT f.q_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM frank f JOIN trank t ON t.q_id = f.q_id AND t.nn_id = f.nn_id
         |  GROUP BY f.q_id
         |), perq AS (
         |  SELECT q.q_id, coalesce(h.n_hits, 0) AS n_hits
         |  FROM (SELECT DISTINCT q_id FROM frank) q LEFT JOIN hits h USING (q_id)
         |)
         |SELECT q_id, n_hits, round(CAST(n_hits AS DOUBLE) / 10, 6) AS recall
         |FROM perq
         |UNION ALL
         |SELECT CAST(NULL AS BIGINT), CAST(sum(n_hits) AS BIGINT),
         |       ${ratioRoundSql("CAST(sum(n_hits) AS HUGEINT)", "count(*) * 10", 6)}
         |FROM perq
         |ORDER BY q_id NULLS LAST""".stripMargin),
    // Embedding-space health: per-label anisotropy (mean pairwise
    // dot / mean squared norm) from exact quantized sums — the
    // pre-ANN isotropy check; no pairwise term anywhere.
    // anisotropy replay: identical 10⁻⁶ quantization of the raw
    // doubles, per-dim sums, the ‖Σv‖²−Σ‖v‖² identity in hugeint
    // lanes, half-up rationals
    Query("q_isotropy", (s, dir) =>
      SimilarityOps.anisotropyReport(Tables.embeddings(s, dir))
        .orderBy("label"),
      s"""WITH comps AS (
        |  SELECT label, vec_id, d,
        |         CAST(round(CAST(embedding[d + 1] AS DOUBLE) * 1000000)
        |              AS BIGINT) AS c
        |  FROM embeddings, range(64) r(d)
        |), perdim AS (
        |  SELECT label, d, sum(CAST(c AS HUGEINT)) AS s
        |  FROM comps GROUP BY label, d
        |), p AS (SELECT label, sum(s * s) AS pp FROM perdim GROUP BY label),
        |nq AS (
        |  SELECT label, CAST(count(*) // 64 AS BIGINT) AS n,
        |         sum(CAST(c AS HUGEINT) * c) AS q
        |  FROM comps GROUP BY label
        |)
        |SELECT nq.label, nq.n,
        |  CASE WHEN n > 1 THEN ${ratioRoundSql("pp - q",
             "CAST(n AS HUGEINT) * (n - 1) * 1000000000000", 9)} + 0.0
        |  END AS mean_dot,
        |  CASE WHEN n > 0 THEN ${ratioRoundSql("q",
             "CAST(n AS HUGEINT) * 1000000000000", 9)} + 0.0
        |  END AS mean_norm2,
        |  CASE WHEN n > 1 AND q > 0 THEN ${ratioRoundSql("pp - q",
             "CAST(n - 1 AS HUGEINT) * q", 9)} + 0.0
        |  END AS anisotropy
        |FROM nq JOIN p USING (label)
        |ORDER BY label""".stripMargin),
    // Mutual-kNN graph (k=5): undirected edges where each endpoint is
    // in the other's top-5 — the hub-pruned edge set graph dedup
    // clusters on. Exact baseline (brute-force lists + one k·n-keyed
    // self-join); ANN lists slot into the same join at corpus scale.
    // mutual-kNN replay: symmetric sims computed once (a<b), ranked
    // from both endpoints, mutual edges via the two-sided rank join
    Query("q_knn_graph", (s, dir) =>
      SimilarityOps.mutualKnnGraph(Tables.embeddings(s, dir), k = 5)
        .select(col("va"), col("vb"), round(col("sim"), 6).as("sim"),
          col("rank_ab"), col("rank_ba"))
        .orderBy("va", "vb"),
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
         |  SELECT q, n, sim, row_number() OVER (PARTITION BY q
         |                                       ORDER BY sim DESC, n) AS rank
         |  FROM bi
         |), e1 AS (
         |  SELECT q AS va, n AS vb, round(sim, 6) AS sim, rank AS rank_ab
         |  FROM rk WHERE rank <= 5 AND q < n
         |), e2 AS (
         |  SELECT n AS va, q AS vb, rank AS rank_ba
         |  FROM rk WHERE rank <= 5 AND q > n
         |)
         |SELECT va, vb, sim, rank_ab, rank_ba
         |FROM e1 JOIN e2 USING (va, vb) ORDER BY va, vb""".stripMargin),
    // Hybrid-retrieval rank fusion: RRF over the exact cosine and L2
    // rankings for queries vec_id < 10 — the score-free combiner for
    // rankers with incommensurable scores. One (q,d) aggregate +
    // TopKPerKey; rrf published raw (2-ranker sum = one commutative
    // IEEE add).
    // RRF: cosine and L2 rankings replayed with decimal-exact scores,
    // fused with the same 1/(60+rank) terms; rrf raw-double
    Query("q_rrf_fusion", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cos = SimilarityOps.bruteForceTopK(emb, col("vec_id") < 10, 10)
      val l2 = SimilarityOps.bruteForceTopKL2(emb, col("vec_id") < 10, 10)
      SimilarityOps.rrfFuse(Seq(cos, l2), topK = 10)
        .select(col("q_id"), col("nn_id"), col("rrf"), col("n_rankers"),
          col("fused_rank"))
        .orderBy("q_id", "fused_rank")
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
         |         sum(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rank)) AS rrf,
         |         count(*) AS n_rankers
         |  FROM u GROUP BY q_id, nn_id
         |)
         |SELECT q_id, nn_id, rrf, n_rankers, fused_rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |           ORDER BY rrf DESC, nn_id) AS fused_rank FROM f) x
         |WHERE fused_rank <= 10 ORDER BY q_id, fused_rank""".stripMargin),
    // Diversity re-ranking: MMR greedy selection (λ=0.7, 5 of top-10)
    // over the brute-force cosine lists — the redundancy-aware rerank
    // between retrieval and a context window. Full selection
    // trajectory + scores gated.
    // MMR replay: candidate lists + pair sims at their published 6-dp
    // values, greedy rounds unrolled with the same argmax/tie order
    {
      val (topC, select, lambda) = (10, 5, 0.7)
      Query("q_mmr", (s, dir) =>
        SimilarityOps.mmrRerank(Tables.embeddings(s, dir),
            col("vec_id") < 10, topC = topC, select = select, lambda = lambda)
          .orderBy("q_id", "mmr_rank"),
        s"""WITH $CosineCte,
           |dots AS (
           |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id, ${DotSql("q", "c")} AS dot
           |  FROM v q JOIN v c ON c.vec_id <> q.vec_id, range(64) r(d)
           |  WHERE q.vec_id < 10
           |  GROUP BY q.vec_id, c.vec_id
           |), cand AS MATERIALIZED (
           |  SELECT q_id, nn_id, round(sim, 6) AS rel FROM (
           |    SELECT q_id, nn_id, sim, row_number() OVER (PARTITION BY q_id
           |             ORDER BY sim DESC, nn_id) AS rank FROM (
           |      SELECT d.q_id, d.nn_id, d.dot / (nq.nrm * nc.nrm) AS sim
           |      FROM dots d JOIN nrm nq ON nq.vec_id = d.q_id
           |      JOIN nrm nc ON nc.vec_id = d.nn_id)) x
           |  WHERE rank <= $topC
           |), cp AS (
           |  SELECT DISTINCT c1.nn_id AS a, c2.nn_id AS b
           |  FROM cand c1 JOIN cand c2
           |    ON c1.q_id = c2.q_id AND c1.nn_id <> c2.nn_id
           |), pd AS MATERIALIZED (
           |  SELECT p.a, p.b,
           |    CAST(sum(CAST(CAST(va.embedding[d+1] AS DOUBLE)
           |         * CAST(vb.embedding[d+1] AS DOUBLE)
           |         AS DECIMAL(38,18))) AS DOUBLE) AS dot
           |  FROM cp p JOIN v va ON va.vec_id = p.a
           |  JOIN v vb ON vb.vec_id = p.b, range(64) r(d)
           |  GROUP BY p.a, p.b
           |), ps AS MATERIALIZED (
           |  SELECT c1.q_id, c1.nn_id AS a, c2.nn_id AS b,
           |         round(pd.dot / (na.nrm * nb.nrm), 6) AS s
           |  FROM cand c1 JOIN cand c2
           |    ON c1.q_id = c2.q_id AND c1.nn_id <> c2.nn_id
           |  JOIN pd ON pd.a = c1.nn_id AND pd.b = c2.nn_id
           |  JOIN nrm na ON na.vec_id = c1.nn_id
           |  JOIN nrm nb ON nb.vec_id = c2.nn_id
           |), a1 AS MATERIALIZED (
           |  SELECT q_id, nn_id, 1 AS mmr_rank, score FROM (
           |    SELECT q_id, nn_id, CAST($lambda AS DOUBLE) * rel AS score,
           |           row_number() OVER (PARTITION BY q_id
           |             ORDER BY CAST($lambda AS DOUBLE) * rel DESC, nn_id) AS rk
           |    FROM cand) x WHERE rk = 1
           |),
           |${mmrRoundsSql(select, lambda)}
           |SELECT q_id, mmr_rank, nn_id, score
           |FROM a$select ORDER BY q_id, mmr_rank""".stripMargin)
    },
    // SemDeDup (Abbas et al. 2023): k-means buckets play the LSH-band
    // role, cosine checked only within a cluster — pairs are
    // Σ C(n_c, 2), never corpus². k is CENSUS-CHOSEN (smallest ladder
    // rung whose fitted pair load fits the 5e7 budget — the paper
    // grows k with the corpus; the driver SFs keep k=4 with unchanged
    // answers). Oracle replays the ENTIRE pipeline (per-rung Lloyd
    // fits → census CASE ladder → assign → within-cluster cosine →
    // drop rule), so fit, bucketing, THE CHOICE, and dedup semantics
    // are all hash-gated together.
    // SemDeDup full replay: per-rung long-form Lloyd chains + the
    // census CASE ladder pick the SAME k the engine chose (the
    // adaptiveJaroPrefix oracle pattern), then cosine only WITHIN a
    // cluster (va < vb), drop rule = smallest qualifying earlier
    // neighbor, plus a per-cluster (n, n_kept) summary row
    {
      val (dims, iters, tau) = (8, 2, 0.4)
      Query("q_semdedup", (s, dir) =>
        SimilarityOps.semDedupAdaptive(Tables.embeddings(s, dir), dims = dims,
            iters = iters, tau = tau)
          .orderBy(col("cluster"), col("vec_id").asc_nulls_last,
            col("dup_of").asc_nulls_last),
        s"""WITH ${semDedupLadderCtes(dims, iters,
               SimilarityOps.SemDedupMaxPairs, SimilarityOps.SemDedupLadder)},
           |nrmv AS MATERIALIZED (
           |  SELECT vec_id, sqrt(CAST(sum(CAST(CAST(embedding[d+1] AS DOUBLE)
           |         * CAST(embedding[d+1] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE)) AS nrm
           |  FROM embeddings, range(64) r(d) GROUP BY vec_id
           |), pv AS MATERIALIZED (
           |  SELECT g.cluster, e.vec_id, e.embedding
           |  FROM asg g JOIN embeddings e ON e.vec_id = g.vec_id
           |), dots AS (
           |  SELECT a.cluster, a.vec_id AS va, b.vec_id AS vb, ${DotSql("a", "b")} AS dot
           |  FROM pv a JOIN pv b ON b.cluster = a.cluster AND a.vec_id < b.vec_id,
           |       range(64) r(d)
           |  GROUP BY a.cluster, a.vec_id, b.vec_id
           |), pairs AS MATERIALIZED (
           |  SELECT d.cluster, d.va, d.vb, d.dot / (na.nrm * nb.nrm) AS sim
           |  FROM dots d JOIN nrmv na ON na.vec_id = d.va
           |  JOIN nrmv nb ON nb.vec_id = d.vb
           |  WHERE d.dot / (na.nrm * nb.nrm) >= $tau
           |), dropped AS MATERIALIZED (
           |  SELECT cluster, vb, min(va) AS dup_of FROM pairs GROUP BY 1, 2
           |), detail AS (
           |  SELECT d.cluster, d.vb AS vec_id, d.dup_of, round(p.sim, 6) AS sim,
           |         CAST(NULL AS BIGINT) AS n, CAST(NULL AS BIGINT) AS n_kept
           |  FROM dropped d JOIN pairs p ON p.vb = d.vb AND p.va = d.dup_of
           |), sizes AS (SELECT cluster, count(*) AS n FROM pv GROUP BY 1),
           |dcnt AS (SELECT cluster, count(*) AS nd FROM dropped GROUP BY 1)
           |SELECT * FROM detail
           |UNION ALL
           |SELECT s.cluster, CAST(NULL AS BIGINT) AS vec_id,
           |       CAST(NULL AS BIGINT) AS dup_of, CAST(NULL AS DOUBLE) AS sim,
           |       s.n, s.n - coalesce(d.nd, 0) AS n_kept
           |FROM sizes s LEFT JOIN dcnt d ON d.cluster = s.cluster
           |ORDER BY cluster, vec_id ASC NULLS LAST, dup_of ASC NULLS LAST""".stripMargin)
    },
    // Linear-time MMD² two-sample test (Gretton et al. 2012) between
    // the label<5 and label≥5 embedding slices — the embedding-
    // DISTRIBUTION drift check the scalar drift family can't express.
    // Bucket-partitioned pairing (no global window); RBF kernels one
    // mirrored IEEE dag at 9 dp; means integer half-up.
    // gammaDen = 2 ≈ the typical ‖x−y‖² on unit-ish vectors (the
    // median heuristic's value here) — kernels land mid-range instead
    // of saturating at 1.
    // MMD linear-estimator replay: identical bucket-partitioned
    // pairing windows and quad joins; norms and cross-dots are exact
    // DECIMAL(38,18) accumulations, each RBF kernel the same IEEE dag
    // rounded 9 dp, h exact decimal, means integer half-up
    Query("q_mmd_embed", (s, dir) =>
      SimilarityOps.mmdLinear(Tables.embeddings(s, dir), "vec_id",
        "embedding", col("label") < 5, gammaDen = 2.0),
      s"""WITH s AS (
         |  SELECT vec_id, embedding, label, vec_id % 16 AS bkt FROM embeddings
         |), sa AS (
         |  SELECT vec_id, bkt, row_number() OVER (PARTITION BY bkt
         |    ORDER BY vec_id) AS r FROM s WHERE label < 5
         |), sb AS (
         |  SELECT vec_id, bkt, row_number() OVER (PARTITION BY bkt
         |    ORDER BY vec_id) AS r FROM s WHERE NOT (label < 5)
         |), pr AS (
         |  SELECT sa.bkt, sa.r, sa.vec_id AS xv, sb.vec_id AS yv
         |  FROM sa JOIN sb ON sa.bkt = sb.bkt AND sa.r = sb.r
         |), q AS (
         |  SELECT p1.bkt, (p1.r + 1) // 2 AS g, p1.xv AS x1, p1.yv AS y1,
         |         p2.xv AS x2, p2.yv AS y2
         |  FROM pr p1 JOIN pr p2
         |    ON p1.bkt = p2.bkt AND p2.r = p1.r + 1 AND p1.r % 2 = 1
         |), n2 AS (
         |  SELECT vec_id, CAST(sum(CAST(CAST(embedding[d+1] AS DOUBLE)
         |         * CAST(embedding[d+1] AS DOUBLE) AS DECIMAL(38,18)))
         |         AS DOUBLE) AS n2
         |  FROM s, range(64) r(d) GROUP BY vec_id
         |), pairs AS (
         |  SELECT bkt, g, 1 AS slot, x1 AS u, x2 AS w FROM q
         |  UNION ALL SELECT bkt, g, 2, y1, y2 FROM q
         |  UNION ALL SELECT bkt, g, 3, x1, y2 FROM q
         |  UNION ALL SELECT bkt, g, 4, x2, y1 FROM q
         |), dots AS (
         |  SELECT p.bkt, p.g, p.slot, p.u, p.w,
         |         CAST(sum(CAST(CAST(va.embedding[d+1] AS DOUBLE)
         |              * CAST(vb.embedding[d+1] AS DOUBLE)
         |              AS DECIMAL(38,18))) AS DOUBLE) AS dp
         |  FROM pairs p JOIN s va ON va.vec_id = p.u
         |       JOIN s vb ON vb.vec_id = p.w, range(64) r(d)
         |  GROUP BY 1, 2, 3, 4, 5
         |), kk AS (
         |  SELECT d.bkt, d.g, d.slot,
         |         CAST(round(exp(-(nu.n2 - 2.0 * d.dp + nw.n2) / 2.0), 9)
         |              AS DECIMAL(20,9)) AS k
         |  FROM dots d JOIN n2 nu ON nu.vec_id = d.u
         |       JOIN n2 nw ON nw.vec_id = d.w
         |), h AS (
         |  SELECT bkt, g,
         |         sum(CASE WHEN slot <= 2 THEN k END) AS kw,
         |         sum(CASE WHEN slot >= 3 THEN k END) AS kc
         |  FROM kk GROUP BY 1, 2
         |), tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_quads,
         |         sum(kw) AS sw, sum(kc) AS sc
         |  FROM h
         |)
         |SELECT n_quads,
         |  ${ratioRoundSql("CAST((sw - sc) * 1000000000 AS HUGEINT)",
             "n_quads * 1000000000", 6)} AS mmd2,
         |  ${ratioRoundSql("CAST(sw * 1000000000 AS HUGEINT)",
             "n_quads * 2000000000", 6)} AS mean_within,
         |  ${ratioRoundSql("CAST(sc * 1000000000 AS HUGEINT)",
             "n_quads * 2000000000", 6)} AS mean_cross
         |FROM tot""".stripMargin),
    // Embedding-cosine near-dup pairs via LSH candidates + exact verify
    // (no cross join anywhere in the plan). The oracle is the exact
    // all-pairs answer — equality doubles as the recall proof, like
    // q_neardup_minhash. 0.4 because the synthetic embeddings carry no
    // planted near-dups — max pairwise cosine is ~0.5.
    Query("q_cosine_neardup", (s, dir) =>
      SimilarityOps.cosineNearDupsLsh(Tables.embeddings(s, dir), 0.4)
        .select(col("va"), col("vb"), round(col("sim"), 6).as("sim"))
        .orderBy("va", "vb"),
      s"""WITH $CosineCte,
         |dots AS (
         |  SELECT a.vec_id AS va, b.vec_id AS vb, ${DotSql("a", "b")} AS dot
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id, range(64) r(d)
         |  GROUP BY a.vec_id, b.vec_id
         |)
         |SELECT d.va, d.vb, round(d.dot / (na.nrm * nb.nrm), 6) AS sim
         |FROM dots d JOIN nrm na ON na.vec_id = d.va
         |JOIN nrm nb ON nb.vec_id = d.vb
         |WHERE d.dot / (na.nrm * nb.nrm) >= 0.4
         |ORDER BY d.va, d.vb""".stripMargin),
    // Semantic decontamination: eval split = vec_id % 5 == 0, train =
    // rest; paraphrase-level leakage the n-gram overlap check misses.
    // Equality with the exact all-pairs cross join = recall proof
    // (same construction as q_cosine_neardup).
    // exact all-pairs eval×train cross join — equality proves the LSH
    // candidate stage missed nothing (recall certificate)
    Query("q_semantic_decontam", (s, dir) =>
      SimilarityOps.semanticDecontam(Tables.embeddings(s, dir),
        pmod(col("vec_id"), lit(5L)) === 0, 0.4)
        .select(col("eval_id"), col("train_id"), round(col("sim"), 6).as("sim"))
        .orderBy("eval_id", "train_id"),
      s"""WITH $CosineCte,
         |dots AS (
         |  SELECT e.vec_id AS eval_id, t.vec_id AS train_id, ${DotSql("e", "t")} AS dot
         |  FROM v e JOIN v t ON e.vec_id % 5 = 0 AND t.vec_id % 5 <> 0, range(64) r(d)
         |  GROUP BY e.vec_id, t.vec_id
         |)
         |SELECT d.eval_id, d.train_id, round(d.dot / (ne.nrm * nt.nrm), 6) AS sim
         |FROM dots d JOIN nrm ne ON ne.vec_id = d.eval_id
         |JOIN nrm nt ON nt.vec_id = d.train_id
         |WHERE d.dot / (ne.nrm * nt.nrm) >= 0.4
         |ORDER BY d.eval_id, d.train_id""".stripMargin),
    // ANN via signed-random-projection LSH — hash-bucketed candidates
    // with radius-2 multi-probe. At the default 16×6 config the
    // candidates provably contain the true top-10 on this corpus, so
    // the oracle is the EXACT brute-force top-k: hash equality is the
    // recall certificate (recall also floor-gated in SimilarityOpsSpec).
    // The LSH candidates provably contain the exact top-10 at this
    // corpus (16 tables × 6 bits × radius-2 probing; recall floor also
    // unit-gated), so the oracle is the SAME exact top-k as q_cosine_nn:
    // hash equality certifies both ranking and recall.
    Query("q_ann_lsh", (s, dir) =>
      SimilarityOps.annTopK(Tables.embeddings(s, dir), col("vec_id") < 10, 10)
        .select(col("q_id"), col("nn_id"), round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy("q_id", "rank"),
      s"""WITH $CosineCte,
         |dots AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id, ${DotSql("q", "c")} AS dot
         |  FROM v q JOIN v c ON c.vec_id <> q.vec_id, range(64) r(d)
         |  WHERE q.vec_id < 10
         |  GROUP BY q.vec_id, c.vec_id
         |), sims AS (
         |  SELECT d.q_id, d.nn_id, d.dot / (nq.nrm * nc.nrm) AS sim
         |  FROM dots d JOIN nrm nq ON nq.vec_id = d.q_id
         |  JOIN nrm nc ON nc.vec_id = d.nn_id
         |)
         |SELECT q_id, nn_id, round(sim, 6) AS sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |                               ORDER BY sim DESC, nn_id) AS rank
         |  FROM sims) x
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    // ANN via IVF (MLlib KMeans coarse quantizer, nProbe cells/query).
    // Certified like q_ann_lsh: at nProbe = nCells the candidate set
    // provably contains the exact top-10 (full cell coverage), so the
    // oracle is the EXACT brute-force top-k and hash equality certifies
    // the whole fit→assign→probe→rank pipeline loses nothing. Full
    // probing is the only containment point on THIS corpus — the
    // synthetic embeddings are near-orthogonal, the adversarial case
    // for any coarse quantizer (a measured param scan: (16,12) misses
    // 1% at sf0.1). The pruned scale config (16 cells, 8 probes) holds
    // a deterministic recall ≥ 0.9 at every sf — gated in
    // SimilarityOpsSpec and trended in NOTES.md.
    // IVF candidates at nProbe = nCells = 8 provably contain the exact
    // top-10 (every cell probed — the containment point on this
    // near-orthogonal corpus), so the oracle is the SAME exact top-k as
    // q_cosine_nn / q_ann_lsh: hash equality certifies the KMeans
    // fit→assign→probe→rank pipeline end to end (equality also pinned
    // in AnnExactRecallSpec at sf0.001 + sf0.01).
    Query("q_ann_ivf", (s, dir) =>
      SimilarityOps.ivfTopK(Tables.embeddings(s, dir), col("vec_id") < 10, 10,
        nCells = 8, nProbe = 8)
        .select(col("q_id"), col("nn_id"), round(col("sim"), 6).as("sim"), col("rank"))
        .orderBy("q_id", "rank"),
      s"""WITH $CosineCte,
         |dots AS (
         |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id, ${DotSql("q", "c")} AS dot
         |  FROM v q JOIN v c ON c.vec_id <> q.vec_id, range(64) r(d)
         |  WHERE q.vec_id < 10
         |  GROUP BY q.vec_id, c.vec_id
         |), sims AS (
         |  SELECT d.q_id, d.nn_id, d.dot / (nq.nrm * nc.nrm) AS sim
         |  FROM dots d JOIN nrm nq ON nq.vec_id = d.q_id
         |  JOIN nrm nc ON nc.vec_id = d.nn_id
         |)
         |SELECT q_id, nn_id, round(sim, 6) AS sim, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |                               ORDER BY sim DESC, nn_id) AS rank
         |  FROM sims) x
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),
    // ANN via product quantization (ADC shortlist + exact re-rank):
    // the COMPRESSION tier — 8-byte codes, table-lookup scoring. Gate =
    // exact-NN anchor (oracle-recomputed) + per-query recall@10 >= 0.5
    // certificate (measured floors 0.7-0.9, pinned in spec).
    // PQ certificate: the oracle recomputes the exact L2 nearest
    // neighbor (decimal-summed squared distance, the engine re-rank's
    // own arithmetic) and contributes literal TRUE for the recall
    // bound — hash equality proves the exact anchor AND the
    // engine-measured recall@10 >= 0.5 per query
    Query("q_ann_pq", (s, dir) =>
      SimilarityOps.pqRecallCertificate(Tables.embeddings(s, dir),
          col("vec_id") < 10, 10, minRecall = 0.5)
        .orderBy("q_id"),
      """WITH v AS (SELECT vec_id, embedding FROM embeddings),
        |d2 AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
        |         CAST(sum(CAST(
        |           (CAST(q.embedding[d+1] AS DOUBLE) - CAST(c.embedding[d+1] AS DOUBLE)) *
        |           (CAST(q.embedding[d+1] AS DOUBLE) - CAST(c.embedding[d+1] AS DOUBLE))
        |           AS DECIMAL(38,12))) AS DOUBLE) AS dist2
        |  FROM v q JOIN v c ON c.vec_id <> q.vec_id, range(64) r(d)
        |  WHERE q.vec_id < 10
        |  GROUP BY 1, 2
        |), rk AS (
        |  SELECT q_id, nn_id, dist2,
        |         row_number() OVER (PARTITION BY q_id
        |                            ORDER BY dist2, nn_id) AS rank
        |  FROM d2
        |)
        |SELECT q_id, nn_id AS exact_nn_id, round(dist2, 6) AS exact_nn_dist2,
        |       TRUE AS pq_ok
        |FROM rk WHERE rank = 1 ORDER BY q_id""".stripMargin),
  )
}
