package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane LSH-bucketed variant as the scale path.
  *
  * Numerics: dot products run through the native [[graft.functions.ArrayDot]]
  * (Neumaier-compensated, fixed fold order) — deterministic and within
  * 1 ulp of the exact sum, which the published round(…,6) absorbs
  * against the DuckDB oracle's exact DECIMAL accumulation.
  *
  * Scale design:
  *  - Brute force is queries × corpus: right for a small query set or
  *    as the verifier; the join broadcasts the query side.
  *  - The LSH path computes, per row, tables×bits signed-random-
  *    projection dots (96 at the 16×6 defaults; deterministic ±1
  *    weights from xxhash64(plane, dim)) grouped into `tables` 6-bit
  *    codes — all inside one projection, NO shuffle — then joins query
  *    codes to corpus codes per (table, code). Bucket collisions, not
  *    N², bound the work; recall is tunable via tables and multi-probe
  *    radius and measured against brute force in `SimilarityOpsSpec`
  *    (exact-equality certificates in `AnnExactRecallSpec`).
  */
object SimilarityOps {

  /** Dot product of two float-array columns: native Neumaier-summed
    * loop ([[graft.functions.ArrayDot]]) — deterministic, within 1 ulp
    * of the exact sum, ~1000× faster than an interpreted
    * aggregate/zip_with fold.
    */
  def dot(a: Column, b: Column): Column = graft.functions.ArrayDot(a, b)

  /** L2 norm of a float-array column (exact decimal accumulation). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force cosine top-k: for each query vector (semi-filtered by
    * `queryPred`), the `k` nearest corpus vectors. Output: (q_id, nn_id,
    * sim, rank). The corpus scan is one pass; the query side broadcasts.
    */
  def bruteForceTopK(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val corpus = embeddings.select(col("vec_id").as("nn_id"),
      col("embedding").as("emb_n"), norm(col("embedding")).as("nrm_n"))
    val queries = embeddings.filter(queryPred).select(col("vec_id").as("q_id"),
      col("embedding").as("emb_q"), norm(col("embedding")).as("nrm_q"))
    val sims = corpus.crossJoin(broadcast(queries))
      .filter(col("q_id") =!= col("nn_id"))
      .withColumn("sim", dot(col("emb_q"), col("emb_n")) / (col("nrm_q") * col("nrm_n")))
    rankTopK(sims, k)
  }

  /** Exact L2 top-k per query — the metric companion to
    * [[bruteForceTopK]]: ranked by squared distance |q−n|² =
    * |q|² − 2·q·n + |n|² through the native dot (the PQ verifier's
    * identity — no per-pair difference vector materializes). Emitted
    * `sim` is the NEGATED squared distance so the shared
    * descending-rank path applies; nearest = rank 1.
    */
  def bruteForceTopKL2(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val corpus = embeddings.select(col("vec_id").as("nn_id"),
      col("embedding").as("emb_n"),
      dot(col("embedding"), col("embedding")).as("nn"))
    val queries = embeddings.filter(queryPred).select(col("vec_id").as("q_id"),
      col("embedding").as("emb_q"),
      dot(col("embedding"), col("embedding")).as("qq"))
    val sims = corpus.crossJoin(broadcast(queries))
      .filter(col("q_id") =!= col("nn_id"))
      .withColumn("sim",
        -(col("qq") - lit(2.0) * dot(col("emb_q"), col("emb_n")) + col("nn")))
    rankTopK(sims, k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009):
    * fused(q, d) = Σ over rankings of 1/(k0 + rank) — the standard
    * score-free hybrid-retrieval combiner (lexical BM25 + dense ANN,
    * or any mix of rankers whose scores aren't commensurable). Each
    * input ranking is (q_id, nn_id, rank); output is the fused top-k
    * per query with `rrf`, `n_rankers` (how many rankings surfaced
    * the doc) and `fused_rank`.
    *
    * One (q, d)-keyed aggregate + the bounded-heap TopKPerKey — no
    * ranking-count-dependent shuffles. The rrf sum is published RAW:
    * with two rankings the sum is a single commutative IEEE add of
    * identical operands on any engine; with more rankings, sum order
    * varies across partitionings — round the published value if you
    * fuse 3+ rankings and need bit-stable output.
    */
  def rrfFuse(rankings: Seq[DataFrame], topK: Int, k0: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val u = rankings.map(_.select("q_id", "nn_id", "rank"))
      .reduce(_.unionByName(_))
    val fused = u.groupBy("q_id", "nn_id")
      .agg(sum(lit(1.0) / (lit(k0.toDouble) + col("rank"))).as("rrf"),
        count(lit(1)).as("n_rankers"))
    val top = graft.plans.TopKOps.topKPerKey(fused, Seq("q_id"),
      Seq(col("rrf").desc, col("nn_id").asc), topK)
    val w = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("nn_id"))
    top.withColumn("fused_rank", row_number().over(w))
  }

  /** (q_id, nn_id, sim) → exact top-`k` per query with a dense `rank`:
    * the native [[graft.plans.TopKPerKey]] bounded-heap operator prunes
    * to k rows per query FIRST (map-side partial, ≤ k rows per
    * partition cross the exchange, no full sort), then the rank window
    * runs over only queries×k rows. The row_number-over-everything
    * formulation also prunes before its exchange (a partial
    * `WindowGroupLimit`), but only after sorting every similarity row.
    */
  private def rankTopK(sims: DataFrame, k: Int): DataFrame = {
    val top = graft.plans.TopKOps.topKPerKey(
      sims.select("q_id", "nn_id", "sim"), Seq("q_id"),
      Seq(col("sim").desc, col("nn_id").asc), k)
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("nn_id"))
    top.withColumn("rank", row_number().over(w))
      .select("q_id", "nn_id", "sim", "rank")
  }

  /** Embedding-space anisotropy report per label (Ethayarajh 2019's
    * diagnostic, the identity form): how concentrated is the space —
    * mean pairwise dot over mean squared norm,
    *   A = (‖Σv‖² − Σ‖v‖²) / ((n−1)·Σ‖v‖²),
    * which for L2-comparable embeddings tracks the mean pairwise
    * cosine. A ≈ 0 is an isotropic (retrieval-healthy) space; A → 1
    * means vectors share a dominant direction and cosine scores
    * saturate — the pre-flight check before building ANN indexes.
    * Per-label rows make it the cluster-structure probe: labels with
    * structure read higher within-label A than the pooled space.
    *
    * EXACT with no pairwise term: components quantize at 10⁻⁶ by
    * round() of the RAW double (both engines see identical input
    * doubles — no norm division happens before quantization, the
    * drift-free choice), then P = Σ_d S_d², Q = Σ‖c‖², n are exact
    * integer lanes from two keyed combines and every published value
    * is one half-up rational ([[graft.PlanUtils.ratioRound]] at
    * 9 dp). ‖Σv‖² − Σ‖v‖² counts each ordered pair's dot once.
    *
    * Plan shape: explode → (label, dim) combine + (label) combine —
    * dims×labels-sized after the first exchange. Output: (label, n,
    * mean_dot, mean_norm2, anisotropy); single-vector or all-zero
    * labels null the ratio columns.
    */
  def anisotropyReport(embeddings: DataFrame, dims: Int = 64): DataFrame = graft.CacheScope.pinned { pins =>
    val dec = "decimal(38,0)"
    val comps = pins(
      embeddings.select(col("label"), col("vec_id"),
          posexplode(col("embedding")).as(Seq("d", "x")))
        .select(col("label"), col("vec_id"), col("d"),
          expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").as("c")))
    val perDim = comps.groupBy("label", "d")
      .agg(sum(col("c").cast(dec)).as("s"))
    val p = perDim.groupBy("label").agg(sum(col("s") * col("s")).as("pp"))
    val nq = comps.groupBy("label")
      .agg(expr(s"count(1) div $dims").as("n"), // integer div: exact
        sum((col("c") * col("c")).cast(dec)).as("q"))
    val scale = lit(1000000000000L) // 10¹²: two 10⁻⁶ quantizations
    nq.join(p, Seq("label"))
      .select(col("label"), col("n"),
        when(col("n") > 1, graft.PlanUtils.ratioRound(
          col("pp") - col("q"),
          col("n").cast(dec) * (col("n") - 1) * scale, 9) + 0.0)
          .as("mean_dot"),
        when(col("n") > 0, graft.PlanUtils.ratioRound(
          col("q"), col("n").cast(dec) * scale, 9) + 0.0).as("mean_norm2"),
        when(col("n") > 1 && col("q") > 0, graft.PlanUtils.ratioRound(
          col("pp") - col("q"), (col("n") - 1).cast(dec) * col("q"), 9)
          + 0.0).as("anisotropy"))
  }

  /** Matryoshka (MRL, Kusupati et al. 2022) truncation recall card:
    * how much of each query's exact top-k survives when the index
    * stores only the first `truncDims` dimensions — the
    * dimension-vs-recall tradeoff measurement run before shipping a
    * truncated (cheaper) index. Output: (q_id, n_hits, recall) per
    * query + an ALL row (mean recall over queries).
    *
    * The intersection is on NEIGHBOR IDS (exact ints from two
    * deterministically tie-broken rankings), so the published card
    * needs no float discipline beyond the rankings themselves; recall
    * is one IEEE division per row.
    *
    * Scale shape: two corpus scans (full + truncated dots, query side
    * broadcast both times — [[bruteForceTopK]]'s certified-baseline
    * shape, queries bounded by the caller's predicate), one
    * (q, nn)-keyed join of two queries×k lists. At corpus scale the
    * same card runs over [[annTopK]]/[[ivfTopK]] lists — the join and
    * output contract don't change.
    */
  def mrlRecall(embeddings: DataFrame, queryPred: Column, k: Int,
      truncDims: Int): DataFrame = {
    val full = bruteForceTopK(embeddings, queryPred, k)
      .select(col("q_id"), col("nn_id"))
    val trunc = bruteForceTopK(
      embeddings.select(col("vec_id"),
        slice(col("embedding"), 1, truncDims).as("embedding")),
      queryPred, k).select(col("q_id"), col("nn_id"))
    val hits = full.join(trunc, Seq("q_id", "nn_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    val perQ = full.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall",
        round(col("n_hits").cast("double") / lit(k.toDouble), 6))
    // exact-int half-up for the data-dependent denominator nq·k (the
    // sf10 round-at-tie class); the per-query rows' fixed denominator
    // k cannot tie at 6 dp for k ≤ 100
    val allRow = perQ.agg(sum("n_hits").as("n_hits"), count(lit(1)).as("nq"))
      .select(lit(null).cast("long").as("q_id"), col("n_hits"),
        graft.PlanUtils.ratioRound(col("n_hits"),
          col("nq") * lit(k.toLong), 6).as("recall"))
    perQ.unionByName(allRow)
  }

  /** Mutual-kNN graph — the edge set graph-based dedup/clustering
    * builds on (two docs are joined iff EACH is in the other's top-k):
    * mutuality prunes the asymmetric hub edges a plain kNN list keeps,
    * which is what makes the downstream connected components clean.
    * Output: one row per undirected edge (va < vb) with the cosine
    * sim and both directed ranks.
    *
    * This form is the exact baseline: [[bruteForceTopK]] over every
    * node (one corpus scan per side, queries broadcast) + one
    * (va,vb)-keyed self-join of the k·n-row top lists — the join input
    * is k·n, never n². At corpus scale the brute-force sim stage is
    * the O(n²) term to replace: feed the same mutual join from
    * [[annTopK]] lists (LSH) or [[ivfTopK]] cells instead — the
    * mutual-join shape and output contract are unchanged, recall
    * follows the ANN certificates.
    */
  def mutualKnnGraph(embeddings: DataFrame, k: Int): DataFrame = graft.CacheScope.pinned { p =>
    val top = p(knnLists(embeddings, k))
    val e1 = top.filter(col("q_id") < col("nn_id"))
      .select(col("q_id").as("va"), col("nn_id").as("vb"),
        col("sim"), col("rank").as("rank_ab"))
    val e2 = top.filter(col("q_id") > col("nn_id"))
      .select(col("nn_id").as("va"), col("q_id").as("vb"),
        col("rank").as("rank_ba"))
    e1.join(e2, Seq("va", "vb"))
      .select(col("va"), col("vb"), col("sim"), col("rank_ab"), col("rank_ba"))
  }

  /** Hard-negative mining for contrastive/embedding training (the
    * DPR/SimCSE data-prep step): for each query, the k most similar
    * corpus vectors with a DIFFERENT label — the near-misses a
    * contrastive loss learns the most from (random negatives are too
    * easy). Same plan family as [[bruteForceTopK]] (corpus one pass,
    * queries broadcast, bounded-heap TopKPerKey), with the label-
    * mismatch predicate applied BEFORE the heap so positives never
    * occupy heap slots. At corpus scale, feed the same filter+heap
    * from ANN candidate lists.
    */
  def hardNegatives(embeddings: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val corpus = embeddings.select(col("vec_id").as("nn_id"),
      col("label").as("label_n"),
      col("embedding").as("emb_n"), norm(col("embedding")).as("nrm_n"))
    val queries = embeddings.filter(queryPred).select(col("vec_id").as("q_id"),
      col("label").as("label_q"),
      col("embedding").as("emb_q"), norm(col("embedding")).as("nrm_q"))
    val sims = corpus.crossJoin(broadcast(queries))
      .filter(col("label_n") =!= col("label_q"))
      .withColumn("sim", dot(col("emb_q"), col("emb_n")) / (col("nrm_q") * col("nrm_n")))
    val top = graft.plans.TopKOps.topKPerKey(
      sims.select("q_id", "label_q", "nn_id", "label_n", "sim"), Seq("q_id"),
      Seq(col("sim").desc, col("nn_id").asc), k)
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("nn_id"))
    top.withColumn("rank", row_number().over(w))
  }

  /** Exact directed kNN lists for EVERY node: (q_id, nn_id, sim, rank)
    * with rank ≤ k — the shared primitive under [[mutualKnnGraph]] and
    * [[EvalOps.labelNoise]]. Cosine is symmetric, so each pair's dot is
    * evaluated ONCE (a < b, n²/2 native dots — the dominant cost) and
    * the finished rows mirror via a row-local explode (NOT a
    * self-union, which would duplicate the dot-computing subtree in
    * the plan; measured 1.6× at sf0.1). Uncached — callers that
    * consume the list twice own the persist.
    */
  def knnLists(embeddings: DataFrame, k: Int): DataFrame = {
    val corpus = embeddings.select(col("vec_id").as("na"),
      col("embedding").as("ea"), norm(col("embedding")).as("nra"))
    val queries = embeddings.select(col("vec_id").as("nb"),
      col("embedding").as("eb"), norm(col("embedding")).as("nrb"))
    val pairs = corpus.crossJoin(broadcast(queries))
      .filter(col("na") < col("nb"))
      .select(col("na"), col("nb"),
        (dot(col("ea"), col("eb")) / (col("nra") * col("nrb"))).as("sim"))
    val directed = pairs.select(explode(array(
        struct(col("na").as("q_id"), col("nb").as("nn_id"), col("sim")),
        struct(col("nb").as("q_id"), col("na").as("nn_id"), col("sim")))).as("e"))
      .select(col("e.q_id").as("q_id"), col("e.nn_id").as("nn_id"),
        col("e.sim").as("sim"))
    rankTopK(directed, k)
  }

  /** Johnson–Lindenstrauss random projection with a Rademacher (±1)
    * matrix (Achlioptas 2003: database-friendly projections — ±1
    * entries preserve JL guarantees, no Gaussians needed): projects
    * `inDims` → `outDims` as p_d = (Σ_j sign(j,d)·x_j) / √outDims.
    * The cheap dimensionality-reduction front every embedding pipeline
    * wants before exact cosine (4× fewer multiplies at 64→16) — pair
    * distances are preserved in expectation, certified by
    * [[jlDistortionPairs]].
    *
    * Determinism: sign(j,d) = ±1 from one hex digit of md5("j_d") —
    * an open hash any engine reproduces; per-(vec,d) terms are
    * decimal-summed (order-independent), and the √outDims divisor is
    * restricted to powers of four so the scale factor is an EXACT
    * binary double (0.25 at 64→16) — the projection replays
    * bit-identically in SQL.
    *
    * Plan: posexplode → broadcast-join the (inDims×outDims, literal)
    * sign table → one (vec_id, d)-keyed partial-aggregated exchange
    * (the embed_zscore shape). A native row-local kernel (the SrpCodes
    * pattern) would skip that exchange at corpus scale; this form is
    * the oracle-replayable reference implementation.
    */
  def jlProject(embeddings: DataFrame, inDims: Int = 64, outDims: Int = 16): DataFrame = {
    val root = math.sqrt(outDims.toDouble)
    require(root == math.rint(root) && java.lang.Long.bitCount(outDims.toLong) == 1,
      "outDims must be a power of four so 1/sqrt(outDims) is exact")
    val spark = embeddings.sparkSession
    val signs = broadcast(spark.range(inDims).toDF("j")
      .crossJoin(spark.range(outDims).toDF("d"))
      .select(col("j"), col("d"),
        when(substring(md5(concat(col("j").cast("string"), lit("_"),
          col("d").cast("string")).cast("binary")), 1, 1) <= "7", 1.0)
          .otherwise(-1.0).as("s")))
    graft.PlanUtils.spread(embeddings.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "x")))
      .join(signs, "j")
      .groupBy("vec_id", "d")
      .agg(sum((col("s") * col("x").cast("double")).cast("decimal(38,18)"))
        .as("__sum"))
      .select(col("vec_id"), col("d"),
        (col("__sum").cast("double") * lit(1.0 / root)).as("p"))
  }

  /** JL distortion certificate over the adjacent pairs (2i, 2i+1):
    * ratio = ‖p(a)−p(b)‖² / ‖a−b‖², published with a
    * `within_bound` boolean against [lo, hi] — the sketch-tier gate
    * construction (the oracle recomputes the exact ratio and emits the
    * same bound check; hash equality proves the distortion claim).
    * Zero original distance → null ratio/flag, never ±∞.
    */
  def jlDistortionPairs(embeddings: DataFrame, inDims: Int = 64, outDims: Int = 16,
      lo: Double = 0.15, hi: Double = 3.0): DataFrame = graft.CacheScope.pinned { pins =>
    val ex = pins(
      graft.PlanUtils.spread(embeddings.select(col("vec_id"), col("embedding")))
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "x")))
        .select(col("vec_id"), col("j"), col("x").cast("double").as("x")))
    val d2o = ex.filter(col("vec_id") % 2 === 0).as("a")
      .join(ex.as("b"), (col("b.vec_id") === col("a.vec_id") + 1)
        && (col("b.j") === col("a.j")))
      .groupBy(col("a.vec_id").as("va"))
      .agg(sum(((col("a.x") - col("b.x")) * (col("a.x") - col("b.x")))
        .cast("decimal(38,18)")).as("__s"))
      .select(col("va"), col("__s").cast("double").as("d2o"))
    val p = pins(jlProject(embeddings, inDims, outDims))
    val d2p = p.filter(col("vec_id") % 2 === 0).as("pa")
      .join(p.as("pb"), (col("pb.vec_id") === col("pa.vec_id") + 1)
        && (col("pb.d") === col("pa.d")))
      .groupBy(col("pa.vec_id").as("va"))
      .agg(sum(((col("pa.p") - col("pb.p")) * (col("pa.p") - col("pb.p")))
        .cast("decimal(38,18)")).as("__s"))
      .select(col("va"), col("__s").cast("double").as("d2p"))
    val ratio = when(col("d2o") =!= 0.0, col("d2p") / col("d2o"))
    d2o.join(d2p, "va")
      .select(col("va"), (col("va") + 1).as("vb"),
        round(col("d2p"), 6).as("d2p"), round(col("d2o"), 6).as("d2o"),
        round(ratio, 6).as("ratio"),
        when(col("d2o") =!= 0.0, ratio >= lo && ratio <= hi).as("within_bound"))
  }

  /** Signed-random-projection LSH codes: (vec_id, table, code) with
    * `tables` codes of `bitsPerTable` bits each, derived from
    * deterministic xxhash64(plane, dim) ±1 hyperplanes. One per-row
    * projection, NO exchange: [[graft.PlanUtils.spread]] only guards
    * the degenerate single-split local input (no-op on any real
    * multi-file lake) — a keyed repartition here would be a pointless
    * full shuffle of the widest table in the system.
    */
  def lshCodes(embeddings: DataFrame, tables: Int = 16, bitsPerTable: Int = 6): DataFrame =
    graft.PlanUtils.spread(embeddings.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"),
        posexplode(graft.functions.SrpCodes(col("embedding"), tables, bitsPerTable)))
      .select(col("vec_id"), col("pos").as("table"), col("col").as("code"))

  /** ANN top-k: candidates = corpus vectors sharing ≥1 (table, code)
    * with the query, then exact cosine + top-k on candidates only.
    * Same output shape as [[bruteForceTopK]]; recall < 1 by design.
    *
    * `probeRadius` enables multi-probe (Lv et al. 2007): each QUERY
    * code also probes every code within that Hamming distance, lifting
    * per-table match probability from p^b toward 1 at zero cost to the
    * corpus side — the expansion happens on the (tiny, broadcast) query
    * side only, the classic scale-friendly recall lever.
    */
  def annTopK(embeddings: DataFrame, queryPred: Column, k: Int,
      tables: Int = 16, bitsPerTable: Int = 6, probeRadius: Int = 2): DataFrame = {
    val codes = lshCodes(embeddings, tables, bitsPerTable)
    val qCodes0 = codes.join(embeddings.filter(queryPred).select(col("vec_id")), "vec_id")
      .select(col("vec_id").as("q_id"), col("table"), col("code"))
    val qCodes =
      if (probeRadius <= 0) qCodes0
      else qCodes0.select(col("q_id"), col("table"),
        probeExplode(col("code"), bitsPerTable, probeRadius).as("code"))
    val cand = codes.join(qCodes, Seq("table", "code"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("nn_id")).distinct()
    val vecs = embeddings.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val sims = cand
      .join(vecs.select(col("vec_id").as("q_id"), col("embedding").as("emb_q"),
        col("nrm").as("nrm_q")), "q_id")
      .join(vecs.select(col("vec_id").as("nn_id"), col("embedding").as("emb_n"),
        col("nrm").as("nrm_n")), "nn_id")
      .withColumn("sim", dot(col("emb_q"), col("emb_n")) / (col("nrm_q") * col("nrm_n")))
    rankTopK(sims, k)
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path: Lloyd
    * k-means partitions the corpus into `nCells` Voronoi cells; each
    * query probes only its `nProbe` nearest cells, so the exact-cosine
    * work is (queries × corpus/nCells × nProbe) instead of queries ×
    * corpus. Complements [[annTopK]]'s LSH: IVF adapts to the data's
    * density (cells follow the distribution), LSH is oblivious but
    * fit-free.
    *
    *  - Fit is the Faiss coarse-quantizer training recipe: a
    *    deterministic 1-in-`fitSampleMod` slice, hard-capped at
    *    `maxFitSample` vectors by smallest id (TakeOrdered — no full
    *    sort), collected and Lloyd-iterated ON THE DRIVER. Driver state
    *    is O(maxFitSample × dims) — 16 MB at the 65536 × 64-float
    *    default, a CONSTANT independent of corpus size; at 100 TB the
    *    model still fits on this sketch, never the corpus. The fit runs
    *    zero Spark jobs (one TakeOrdered collect feeds it), so its cost
    *    is a fixed deterministic JVM loop — the earlier MLlib k-means||
    *    fit produced identical gated results but JVM-state-dependent
    *    job costs (bench spread 0.9–3.6 s at sf0.1), and a distributed
    *    per-iteration Lloyd pays ~16 tiny-job latencies to fit what is
    *    by construction sketch-sized.
    *  - Cell assignment = one map-only pass: argmin over nCells of
    *    |c|² − 2·x·c (|x|² is rank-constant) with the native codegen'd
    *    [[graft.functions.ArrayDot]] against literal centroids.
    *  - The centroid table (nCells × dim) broadcasts to the query side.
    *  - Output shape matches [[bruteForceTopK]]; recall is pinned vs
    *    brute force in SimilarityOpsSpec; full-probe equality vs brute
    *    force in AnnExactRecallSpec.
    */
  def ivfTopK(embeddings: DataFrame, queryPred: Column, k: Int,
      nCells: Int = 16, nProbe: Int = 4, fitSampleMod: Long = 10,
      fitIters: Int = 8, maxFitSample: Int = 65536): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    val sample: Array[Array[Double]] = vecs
      .filter(pmod(col("vec_id"), lit(fitSampleMod)) === 0)
      .orderBy(col("vec_id")).limit(maxFitSample)
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    val centArrs = localLloyd(sample, nCells, fitIters)
    val centsF: IndexedSeq[Array[Float]] =
      centArrs.map(_.map(_.toFloat)).toIndexedSeq
    def centLit(c: Array[Float]): Column =
      array(c.map(lit).toIndexedSeq: _*).cast("array<float>")
    // argmin by |c|² − 2·x·c; |c|² from the float-rounded centroid so
    // driver and executor score the same literal values
    val cellScores = centsF.map { c =>
      val cc = c.foldLeft(0.0)((s, v) => s + v.toDouble * v.toDouble)
      lit(cc) - lit(2.0) * dot(col("embedding"), centLit(c))
    }
    val assigned = vecs.select(col("vec_id"),
      ClusterOps.argmin(cellScores).as("cell"))
    val cents = centsF.zipWithIndex
      .map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
    // query → nProbe nearest cells by (negated) squared L2 distance:
    // |q−c|² = |q|² − 2·q·c + |c|²; |q|² is rank-constant, dropped
    val queries = embeddings.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("emb_q"),
        norm(col("embedding")).as("nrm_q"))
    val pw = Window.partitionBy("q_id")
      .orderBy(col("cdist").asc, col("cell").asc)
    val probes = queries.crossJoin(broadcast(cents))
      .withColumn("cdist",
        dot(col("centroid"), col("centroid")) - lit(2.0) * dot(col("emb_q"), col("centroid")))
      .withColumn("crank", row_number().over(pw))
      .filter(col("crank") <= nProbe)
      .select(col("q_id"), col("emb_q"), col("nrm_q"), col("cell"))
    val cand = probes.join(assigned, "cell")
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("emb_q"), col("nrm_q"), col("vec_id").as("nn_id"))
    val sims = cand.join(
      embeddings.select(col("vec_id").as("nn_id"), col("embedding").as("emb_n"),
        norm(col("embedding")).as("nrm_n")), "nn_id")
      .withColumn("sim", dot(col("emb_q"), col("emb_n")) / (col("nrm_q") * col("nrm_n")))
    rankTopK(sims, k)
  }

  /** Symmetric int8 quantization of an embedding column — the
    * storage-side half of a vector pipeline (4× smaller than float32,
    * the format IVF/LSH indexes ship at scale). Per vector:
    * scale = max|v|; q_i = floor(v_i·127/scale + 0.5) ∈ [−127, 127]
    * (floor(x+0.5) instead of round(): half-up on both engines with no
    * banker's-rounding divergence). Zero vectors quantize to zeros
    * with scale 0. Entirely per-row — no shuffle, codegen-friendly
    * array ops. Output: (vec_id, scale, q) with q `array<int>`.
    */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val scale = array_max(transform(col("embedding"),
      v => abs(v.cast("double"))))
    embeddings.select(col("vec_id"), scale.as("scale"), col("embedding"))
      .select(col("vec_id"), col("scale"),
        when(col("scale") === 0.0,
          transform(col("embedding"), _ => lit(0)))
          .otherwise(transform(col("embedding"),
            v => floor(v.cast("double") * 127.0 / col("scale") + 0.5).cast("int")))
          .as("q"))
  }

  /** Largest absolute dequantization error per vector — the accuracy
    * certificate for [[quantizeInt8]]: max_i |q_i·scale/127 − v_i|,
    * bounded by scale/254 by construction.
    */
  def dequantError(quantized: DataFrame, embeddings: DataFrame): DataFrame =
    quantized.join(embeddings.select(col("vec_id"), col("embedding")), "vec_id")
      .select(col("vec_id"), col("scale"),
        array_max(zip_with(col("q"), col("embedding"),
          (qi, vi) => abs(qi.cast("double") * col("scale") / 127.0
            - vi.cast("double")))).as("max_abs_err"))

  /** Sequential Lloyd iterations on the (bounded, driver-resident) fit
    * sample — deterministic by construction: init = the sample's first
    * `k` vectors (the smallest ids, matching [[ClusterOps.lloyd]]'s
    * rule), argmin ties break to the lowest centroid index, centroid
    * means accumulate in fixed sample order, and an empty cluster keeps
    * its previous centroid. No RNG anywhere, so repeated fits are
    * bit-identical — the property the q_ann_ivf hash gate rides on.
    *
    * Degenerate input: a fit sample smaller than `k` (tiny or heavily
    * filtered corpora) clamps the effective k to the sample size —
    * fewer, denser cells instead of a throw, matching the MLlib fit
    * this replaced and the EdgeCases never-throw posture. Callers see
    * a shorter centroid array and must size downstream structures from
    * `result.length`, not the requested k.
    */
  private def localLloyd(pts: Array[Array[Double]], k0: Int,
      iters: Int): Array[Array[Double]] = {
    require(pts.nonEmpty, "empty fit sample")
    val k = math.min(k0, pts.length)
    val dims = pts(0).length
    var cents: Array[Array[Double]] = pts.take(k).map(_.clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dims))
      val counts = new Array[Long](k)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dims) { val e = p(i) - cents(c)(i); d += e * e; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dims) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else Array.tabulate(dims)(i => sums(c)(i) / counts(c))
      }
      it += 1
    }
    cents
  }

  /** Explode a code column into every code within `probeRadius` Hamming
    * distance: XOR masks of popcount ≤ radius over `bits` bits, built
    * once on the driver (22 masks at b=6, r=2 — C(6,0)+C(6,1)+C(6,2)).
    * Shared by [[annTopK]] (query side) and [[cosineNearDupsLsh]] (one
    * join side) so the two probing paths can never desynchronize.
    */
  private def probeExplode(code: Column, bits: Int, probeRadius: Int): Column = {
    val masks = (0L until (1L << bits))
      .filter(m => java.lang.Long.bitCount(m) <= probeRadius)
    explode(array(masks.map(m => code.bitwiseXOR(lit(m))): _*))
  }

  /** Embedding-cosine near-duplicate pairs above `minSim` via SRP-LSH
    * candidates + exact verification — the scale path: the only wide
    * exchange is the (table, code)-keyed self-join, so work is bounded
    * by bucket collisions, never N². One side of the join multi-probes
    * within `probeRadius` Hamming distance, so a pair collides when ANY
    * of `tables` code pairs are within that distance — with the default
    * 12 tables × 6 bits × radius 2, the miss probability for a 0.4-
    * cosine pair is ~1e-5 (per-table hit ≈ 0.6), and the output is
    * verified EQUAL to the exact all-pairs answer on all three test
    * corpora (deterministic hashes → a fixed fact, guarded in
    * AnnExactRecallSpec; the q_cosine_neardup oracle re-proves it every
    * round — recall proof, same trick as q_neardup_minhash). Fewer
    * tables than [[annTopK]]'s 16: near-dup pairs sit at sim ≥ 0.4
    * where collisions are likelier than the top-k's ~0.2 tail.
    *
    * PRUNING vs the default config: the driver corpus is
    * near-orthogonal, so every qualifying pair sits AT the 0.4
    * threshold and the permissive default (the price of the equality
    * oracle there) is ≈ brute force by construction. On a corpus with
    * real cluster structure — where near-dup detection is the actual
    * workload — a tighter config prunes while staying exact:
    * CosineLshPruningSpec pins `tables = 16, bitsPerTable = 16,
    * probeRadius = 2` at EXACT equality with a measured 6.5× candidate
    * reduction (309,894 candidates of 1,999,000 all-pairs, 2000 × 64-d,
    * 10 clusters with a sim gap around the threshold). That is the
    * config to start from at scale; widen bits as log₂(corpus) grows to
    * hold per-bucket collision counts flat.
    */
  /** The candidate stage of [[cosineNearDupsLsh]], exposed so pruning
    * can be MEASURED (CosineLshPruningSpec counts these against
    * all-pairs): distinct (va < vb) pairs sharing any (table, code)
    * bucket, with one side multi-probed within `probeRadius`.
    */
  def lshCandidatePairs(embeddings: DataFrame,
      tables: Int, bitsPerTable: Int, probeRadius: Int): DataFrame = {
    val codes = lshCodes(embeddings, tables, bitsPerTable)
    val left = codes.select(col("table"),
      probeExplode(col("code"), bitsPerTable, probeRadius).as("code"),
      col("vec_id").as("va"))
    val right = codes.select(col("table"), col("code"), col("vec_id").as("vb"))
    left.join(right, Seq("table", "code"))
      .filter(col("va") < col("vb"))
      .select("va", "vb").distinct()
  }

  def cosineNearDupsLsh(embeddings: DataFrame, minSim: Double,
      tables: Int = 12, bitsPerTable: Int = 6, probeRadius: Int = 2): DataFrame = {
    val cand = lshCandidatePairs(embeddings, tables, bitsPerTable, probeRadius)
    val vecs = embeddings.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    cand
      .join(vecs.select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("nrm").as("na")), "va")
      .join(vecs.select(col("vec_id").as("vb"), col("embedding").as("eb"),
        col("nrm").as("nb")), "vb")
      .withColumn("sim", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("sim") >= minSim)
      .select("va", "vb", "sim")
  }

  /** SEMANTIC test-set decontamination — the embedding-space member of
    * the decontamination family: where [[DedupOps.contaminatedPairs]]
    * catches verbatim n-gram overlap, this catches PARAPHRASED eval
    * leakage — a train item whose embedding sits within cosine
    * `minSim` of an eval item. Output: one row per (eval_id, train_id)
    * contaminated pair with its exact cosine — the removal manifest a
    * pipeline anti-joins its train split against before training.
    *
    * Plan: SRP-LSH codes on BOTH splits (one pass over each; the
    * corpus is scanned once because both splits come from the same
    * frame), the EVAL side multi-probed within `probeRadius` Hamming
    * distance and BROADCAST — eval suites are benchmark-sized
    * (thousands) against a train corpus of billions, so the candidate
    * join is a map-side broadcast probe over the train codes with NO
    * wide exchange until the (bounded, true-near-match-sized) exact
    * verification joins. Same recall argument as [[cosineNearDupsLsh]]:
    * the default 12 tables × 6 bits × radius 2 misses a 0.4-cosine pair
    * with probability ~1e-5, and the gate's equality oracle (exact
    * all-pairs cross join in DuckDB) re-proves exactness every round.
    */
  def semanticDecontam(embeddings: DataFrame, evalPred: Column,
      minSim: Double, tables: Int = 12, bitsPerTable: Int = 6,
      probeRadius: Int = 2): DataFrame = {
    val train = embeddings.filter(!evalPred)
    val eval = embeddings.filter(evalPred)
    val tCodes = lshCodes(train, tables, bitsPerTable)
      .select(col("table"), col("code"), col("vec_id").as("train_id"))
    val eCodes = lshCodes(eval, tables, bitsPerTable)
      .select(col("table"),
        probeExplode(col("code"), bitsPerTable, probeRadius).as("code"),
        col("vec_id").as("eval_id"))
    val cand = tCodes.join(broadcast(eCodes), Seq("table", "code"))
      .select("eval_id", "train_id").distinct()
    val vecs = embeddings.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    cand
      .join(vecs.select(col("vec_id").as("eval_id"), col("embedding").as("ee"),
        col("nrm").as("ne")), "eval_id")
      .join(vecs.select(col("vec_id").as("train_id"), col("embedding").as("et"),
        col("nrm").as("nt")), "train_id")
      .withColumn("sim", dot(col("ee"), col("et")) / (col("ne") * col("nt")))
      .filter(col("sim") >= minSim)
      .select("eval_id", "train_id", "sim")
  }

  /** Per-dimension z-score normalization of an embedding column — the
    * standard pre-index / pre-clustering conditioning step (whitening's
    * cheap diagonal cousin): every dimension is centered on its corpus
    * mean and scaled by its corpus stddev so no dimension dominates the
    * metric. Output is one row per (vec_id, dim < `outDims`): `x` (the
    * raw component), `z` (normalized) — exploded rather than
    * re-assembled so the gate hashes scalars, with `outDims` bounding
    * the published slice (the stats still cover ALL dimensions). A
    * zero-variance dimension publishes z = null (explicit guard —
    * engines disagree on x/0.0: SQL null vs IEEE inf).
    *
    * Numerics: the per-dim mean rides the decMean policy — decimal(28,12)
    * sum (the float→decimal cast rounds identically in both engines for
    * components that don't sit exactly on the 1e-12 grid, which
    * real-valued embeddings never do), one double divide; stddev is the
    * one genuinely order-sensitive reduction, so both mean and std are
    * PUBLISHED rounded (6 dp) and `z` is computed FROM the rounded
    * stats — identical doubles on any engine, same policy as the
    * momentum/regression pipelines.
    *
    * Plan shape: one posexplode (map-only) → per-dim aggregate whose
    * partial step collapses each task to `dims` rows (the exchange
    * carries dims×tasks rows, not rows×dims — this is why the groupBy
    * key is the dimension); the dims-row stats table broadcasts back
    * onto the exploded stream. At 100 TB: one scan, one tiny exchange,
    * one broadcast — no corpus-sized state anywhere.
    */
  def dimensionZScore(embeddings: DataFrame, outDims: Int = 8): DataFrame = {
    val ex = embeddings.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("dim", "x")))
    val stats = ex.groupBy("dim").agg(
      round(sum(col("x").cast("decimal(28,12)")).cast("double")
        / count(lit(1)), 6).as("mean"),
      round(stddev_pop(col("x").cast("double")), 6).as("std"))
    ex.filter(col("dim") < outDims)
      .join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"), col("x").cast("double").as("x"),
        // explicit zero-variance null: engines disagree on x/0.0 (SQL
        // null vs IEEE inf), so a constant dimension must never divide.
        // + 0.0 normalizes the rounded result's NEGATIVE ZERO — Spark's
        // round(-2e-5, 4) yields +0.0 where DuckDB keeps -0.0, and the
        // string compare distinguishes them (caught by the round-7 sf1
        // audit: 5 of 160k rows); IEEE -0.0 + 0.0 = +0.0 in any engine
        when(col("std") > 0.0,
          round((col("x").cast("double") - col("mean")) / col("std"), 4) + 0.0)
          .as("z"))
  }

  /** Top principal component of the embedding covariance by fixed-round
    * power iteration — the "fit small, transform distributed" pattern:
    * the corpus-sized work per round is ONE pass computing a matvec of
    * the covariance action Av = Σᵢ xᵢ(xᵢ·v) − n·μ(μ·v) (centering is
    * implicit — the data is never materialized centered), and the only
    * driver state is the dims-length vector. Per round: a map-only
    * per-row dot against the broadcast-literal v, then a dims-keyed
    * partial-combined aggregate; rounds are fixed (default 5, the same
    * unrolled-recurrence depth the PageRank gate uses), so the oracle
    * can replay the recurrence as chained CTEs.
    *
    * Engine portability: every cross-row sum (the per-row dot over
    * dims, the per-dim matvec sum, μ, μ·v, the final norm) casts each
    * double product to DECIMAL(38,12) and sums exactly — order-
    * independent. One residual divergence survives: `CAST(double AS
    * DECIMAL)` itself rounds the SHORTEST-REPR digits on the JVM but
    * the exact binary expansion in C engines, which differ at scale-12
    * ties — measured ~1e-12 per element, amplified to ≤ ~1e-10 on the
    * normalized loadings after 5 rounds. The published round(…, 6)
    * absorbs it: the loadings' measured distance to the nearest
    * rounding boundary is ≥ 1.2e-9 across all three SFs (≥ 12× the
    * noise), so both engines round identically. Between-round
    * normalization divides by max|w| (order-independent, no sqrt); the
    * single sqrt happens once at the end. The iterate is pinned across
    * rounds and released at return: the output is driver-side rows.
    */
  def powerIterationPC(embeddings: DataFrame, vecCol: String = "embedding",
      iters: Int = 5): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    powerIteration(embeddings, vecCol, iters, "powerIterationPC") { (v, _) =>
      val norm = math.sqrt(decSum12(v.map(w => w * w).toSeq))
      v.zipWithIndex.map { case (w, j) => (j, r6(w / norm)) }.toSeq
        .toDF("dim", "loading")
    }
  }

  /** Top TWO principal components by power iteration + Hotelling
    * deflation — [[powerIterationPC]] extended with the second
    * component: after u₁ converges, λ₁ = u₁ᵀCu₁ (one more corpus
    * pass), and the second loop iterates the DEFLATED action
    * (C − λ₁u₁u₁ᵀ)v = Cv − λ₁·u₁·(u₁ᵀv) — the subtraction is a
    * driver-side dims-vector term (u₁ᵀv is a dims-length decimal
    * fold), so each deflated round still costs exactly one corpus
    * pass (map-only dot + dims-keyed aggregate) and the driver state
    * stays two dims-vectors + one scalar.
    *
    * Portability: the same decimal-fold discipline as the first
    * component, now over a chain twice as deep (v₁ rounds → λ₁ →
    * deflated rounds); every driver-side double expression mirrors
    * the oracle's CTE dag term for term (same association), and the
    * residual CAST(double AS DECIMAL) ~1e-12 noise is absorbed by the
    * 6-dp publication (margins verified by the three-SF gates; `+0.0`
    * absorbs negative zero on near-zero loadings). Output: one row
    * per dim (dim, pc1, pc2).
    */
  def powerIterationPC2(embeddings: DataFrame, vecCol: String = "embedding",
      iters: Int = 5): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    powerIteration(embeddings, vecCol, iters, "powerIterationPC2") { (v, matvec) =>
      val n1 = math.sqrt(decSum12(v.map(w => w * w).toSeq))
      val u1 = v.map(_ / n1)
      val cu = matvec(u1)
      val lambda = decSum12(u1.zip(cu).map { case (a, b) => a * b }.toSeq)
      val v2 = normalizedRounds(v.length, iters) { v2 =>
        val w0 = matvec(v2)
        val uv = decSum12(u1.zip(v2).map { case (a, b) => a * b }.toSeq)
        Array.tabulate(v.length)(j => w0(j) - lambda * u1(j) * uv)
      }
      val n2 = math.sqrt(decSum12(v2.map(w => w * w).toSeq))
      v.indices.map(j => (j, r6(u1(j)), r6(v2(j) / n2)))
        .toDF("dim", "pc1", "pc2")
    }
  }

  /** The shared core of [[powerIterationPC]] and [[powerIterationPC2]]:
    * pins the corpus, folds μ, and runs `iters` max-normalized rounds of
    * the covariance action from v = 1. `finish` gets the final iterate
    * and the action itself (one corpus pass per call) and builds the
    * driver-side output rows while the pin is still held.
    */
  private def powerIteration(embeddings: DataFrame, vecCol: String, iters: Int,
      who: String)(
      finish: (Array[Double], Array[Double] => Array[Double]) => DataFrame)
      : DataFrame = {
    val dec = "decimal(38,12)"
    graft.CacheScope.pinned { p =>
      val base = p(embeddings.select(col(vecCol).cast("array<double>").as("e")))
      val n = base.count()
      require(n > 0, s"$who needs a non-empty corpus")
      val dims = base.select(size(col("e"))).head().getInt(0)
      val mu: Array[Double] = base
        .select(posexplode(col("e")).as(Seq("dim", "x")))
        .groupBy("dim")
        .agg((sum(col("x").cast(dec)).cast("double") / n).as("mu"))
        .orderBy("dim").collect().map(_.getDouble(1))
      // one corpus pass: the covariance action Cv (centering implicit)
      def matvec(v: Array[Double]): Array[Double] = {
        val vLit = array(v.toSeq.map(lit(_)): _*)
        val dot = aggregate(
          zip_with(col("e"), vLit, (a, b) => (a * b).cast(dec)),
          lit(0).cast(dec), (acc, y) => (acc + y).cast(dec)).cast("double")
        val wSum = base.select(dot.as("d"), col("e"))
          .select(col("d"), posexplode(col("e")).as(Seq("dim", "x")))
          .groupBy("dim")
          .agg(sum((col("x") * col("d")).cast(dec)).cast("double").as("s"))
          .orderBy("dim").collect().map(_.getDouble(1))
        val dotMu = decSum12(mu.zip(v).map { case (m, w) => m * w }.toSeq)
        Array.tabulate(dims)(j => wSum(j) - n.toDouble * mu(j) * dotMu)
      }
      finish(normalizedRounds(dims, iters)(matvec), matvec)
    }
  }

  /** `iters` rounds of v ← action(v) / max|action(v)| from v = 1. */
  private def normalizedRounds(dims: Int, iters: Int)(
      action: Array[Double] => Array[Double]): Array[Double] = {
    var v = Array.fill(dims)(1.0)
    for (_ <- 1 to iters) {
      val w = action(v)
      val mx = w.map(math.abs).max
      v = w.map(_ / mx)
    }
    v
  }

  /** Exact decimal fold mirroring the engines' CAST(x AS DECIMAL(38,12))
    * sums (valueOf = shortest-repr digits, which agree with the exact
    * expansion through scale 12 at these magnitudes).
    */
  private def decSum12(xs: Seq[Double]): Double =
    xs.map(java.math.BigDecimal.valueOf(_)
        .setScale(12, java.math.RoundingMode.HALF_UP))
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue

  /** Half-up at 6 dp; `+ 0.0` absorbs negative zero on near-zero loadings. */
  private def r6(x: Double): Double = BigDecimal(x)
    .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011) — the COMPRESSION tier of
    * the ANN family: the 64-dim float corpus (256 B/vector) is encoded
    * as `subspaces` 1-byte codes (8 B/vector at the defaults, 32×),
    * and query-time candidate scoring is `subspaces` table lookups +
    * adds per pair (asymmetric distance computation) instead of a
    * 64-dim float kernel. LSH ([[annTopK]]) and IVF ([[ivfTopK]]) cut
    * how many pairs are scored; PQ cuts what each pair costs — at
    * 100 TB they compose (IVF-PQ): cells prune, codes score.
    *
    * Fit small / transform distributed, oracle-exact arithmetic
    * (the [[ClusterOps]] discipline, not MLlib, so every step is
    * deterministic and engine-portable):
    *  - codebooks: per-subspace Lloyd with k = `codebookK`, trained on
    *    a deterministic 1-in-`fitSampleMod` slice, ALL subspaces in one
    *    exploded frame per iteration (one pass + one (sub, code)-keyed
    *    decimal-mean aggregate; driver state = subspaces × codebookK ×
    *    subDim doubles); init = the sample's `codebookK` smallest ids.
    *  - encode: one map-only pass — per subspace an argmin when-cascade
    *    over literal centroids (ties to the lowest code).
    *  - ADC: each query precomputes its subspaces × codebookK distance
    *    table (tiny, broadcast); per candidate the approx distance is
    *    `aggregate(zip_with(codes, sequence(...)))` — `subspaces`
    *    lookups, no float vectors touched.
    *  - shortlist: ADC top-`shortlist` per query via the native
    *    [[graft.plans.TopKPerKey]] bounded heap, then EXACT re-ranking
    *    (decimal-folded squared L2 on the shortlist only) to top-`k` —
    *    the standard prune-then-rerank production shape, so published
    *    distances are exact and oracle-recomputable; only the RECALL is
    *    approximate, measured and pinned in SimilarityOpsSpec /
    *    AnnExactRecallSpec like the LSH and IVF paths.
    *
    * Output: (q_id, nn_id, dist2, rank) — ascending exact squared L2,
    * ties to the lower nn_id.
    */
  def pqTopK(embeddings: DataFrame, queryPred: Column, k: Int,
      subspaces: Int = 8, codebookK: Int = 16, iters: Int = 2,
      fitSampleMod: Long = 4, shortlist: Int = 0,
      maxFitSample: Int = 65536): DataFrame = {
    val dims = embeddings.select(size(col("embedding"))).head().getInt(0)
    require(dims % subspaces == 0, s"dims $dims not divisible by $subspaces")
    val d = dims / subspaces
    // shortlist <= 0 → auto: 5% of the corpus, floored at 200. On
    // structureless (near-orthogonal random) vectors ADC's rank error
    // is corpus-relative, so a FIXED shortlist decays with scale
    // (measured recall@10: 200 of 60k → 0.76; 1000 of 60k → 0.99) — a
    // fraction holds it steady and the exact re-rank cost stays
    // queries × shortlist, tiny either way. 5% (was 1.7%): the round-7
    // sf1 correctness audit caught recall@10 < 0.5 on 4/10 queries at
    // 20k vectors with the 1.7% slice (340); 1000 (5%) restores every
    // certificate with margin (PqSf1Scratch (git show
    // 998c69f:src/test/scala/graft/PqSf1Scratch.scala)). The driver gate scales
    // (500/2000 vectors) sit on the 200 floor either way — their
    // hashes are unchanged by this.
    val sl =
      if (shortlist > 0) shortlist
      else math.max(200L, math.ceil(embeddings.count() * 0.05).toLong).toInt
    val dec = "decimal(38,12)"
    // Codebook fit = the same Faiss recipe as [[ivfTopK]]: bounded
    // deterministic sample by smallest id (TakeOrdered), ONE collect
    // (≤ maxFitSample × dims floats — constant in corpus size), then
    // per-subspace sequential Lloyd on the driver via [[localLloyd]]
    // (init = the first codebookK subvectors, ties to lowest index,
    // empty cells keep their centroid — the exact init rule the old
    // distributed fit used). Zero fit jobs, zero RNG, bit-identical
    // refits; PQ internals need DETERMINISM, not oracle portability
    // (only the published exact re-rank / verifier is SQL-mirrored).
    val sampleVecs: Array[Array[Float]] = embeddings
      .filter(pmod(col("vec_id"), lit(fitSampleMod)) === 0)
      .orderBy(col("vec_id")).limit(maxFitSample)
      .select(col("embedding"))
      .collect().map(_.getSeq[Float](0).toArray)
    val cents: Array[Array[Array[Double]]] = Array.tabulate(subspaces) { m =>
      val pts = sampleVecs.map { v =>
        val a = new Array[Double](d)
        var j = 0
        while (j < d) { a(j) = v(m * d + j).toDouble; j += 1 }
        a
      }
      localLloyd(pts, codebookK, iters)
    }
    locally {
      // Scoring is RANK-equivalent, codegen-native: |sv − c|² =
      // |sv|² − 2·sv·c + |c|², and |sv|² is constant across the
      // codebook (and, summed over subspaces, constant per query in the
      // ADC table), so argmin and shortlist ranking only need
      // score = |c|² − 2·sv·c — one native [[graft.functions.ArrayDot]]
      // per centroid on the FLOAT subspace slice (no per-element
      // interpreted lambda, the old transform/zip_with form's cost).
      // Ties break to the lowest code via array_position-of-min
      // (first match), as before.
      def scoreArr(svF: Column, cs: Array[Array[Double]]): Column =
        array(cs.map { c =>
          val cF = c.map(_.toFloat)
          val cc = cF.foldLeft(0.0)((s, v) => s + v.toDouble * v.toDouble)
          lit(cc) - lit(2.0) * dot(svF, array(cF.map(lit).toIndexedSeq: _*))
        }.toIndexedSeq: _*)
      def codeOf(svF: Column, cs: Array[Array[Double]]): Column = {
        val ds = scoreArr(svF, cs)
        (array_position(ds, array_min(ds)) - 1).cast("int")
      }
      // encode the corpus: subspaces argmins, one map-only projection
      def subSlice(m: Int) = slice(col("embedding"), m * d + 1, d)
      val codesCol = array((0 until subspaces).map(m =>
        codeOf(subSlice(m), cents(m))): _*)
      val encoded = graft.PlanUtils.spread(
          embeddings.select(col("vec_id"), col("embedding")))
        .select(col("vec_id"), codesCol.as("codes"))
      // queries carry their flat ADC table: entry m*K + j =
      // |c_mj|² − 2·q_m·c_mj (rank-equivalent to |q_m − c_mj|² — the
      // dropped Σ|q_m|² is constant per query)
      val dtable = flatten(array((0 until subspaces).map(m =>
        scoreArr(subSlice(m), cents(m))): _*))
      val queries = embeddings.filter(queryPred)
        .select(col("vec_id").as("q_id"), dtable.as("dtable"))
      // stride by the FITTED codebook size (localLloyd clamps k to the
      // sample on degenerate corpora — same for every subspace)
      val kEff = cents(0).length
      val adc = encoded.crossJoin(broadcast(queries))
        .filter(col("q_id") =!= col("vec_id"))
        .withColumn("approx", aggregate(
          zip_with(col("codes"),
            sequence(lit(0), lit(subspaces - 1)), (c, m) =>
              element_at(col("dtable"), m * kEff + c + 1)),
          lit(0.0), (acc, x) => acc + x))
      val short = graft.plans.TopKOps.topKPerKey(
        adc.select(col("q_id"), col("vec_id").as("nn_id"), col("approx")),
        Seq("q_id"), Seq(col("approx").asc, col("nn_id").asc), sl)
      // exact re-rank on the shortlist: decimal-folded squared L2
      val exactD2 = aggregate(
        zip_with(col("emb_q"), col("emb_n"),
          (a, b) => ((a - b) * (a - b)).cast(dec)),
        lit(0).cast(dec), (acc, y) => (acc + y).cast(dec)).cast("double")
      val vecs = embeddings.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      val reranked = short
        .join(vecs.select(col("vec_id").as("q_id"), col("emb").as("emb_q")), "q_id")
        .join(vecs.select(col("vec_id").as("nn_id"), col("emb").as("emb_n")), "nn_id")
        .withColumn("dist2", exactD2)
      val top = graft.plans.TopKOps.topKPerKey(
        reranked.select(col("q_id"), col("nn_id"), col("dist2")),
        Seq("q_id"), Seq(col("dist2").asc, col("nn_id").asc), k)
      val w = Window.partitionBy("q_id").orderBy(col("dist2").asc, col("nn_id"))
      top.withColumn("rank", row_number().over(w))
        .select("q_id", "nn_id", "dist2", "rank")
    }
  }

  /** The PQ gate: run [[pqTopK]] next to the exact brute-force L2
    * top-k (the verifier) and certify per query that the PQ list
    * recovered at least `ceil(k·minRecall)` of the exact top-k.
    * Published columns are all oracle-recomputable: the exact nearest
    * neighbor and its distance anchor the exact side, the boolean
    * carries the recall proof (the sketch-certificate construction —
    * q_approx_distinct's pattern applied to ANN). Measured per-query
    * recall floors are pinned in SimilarityOpsSpec; the bound leaves
    * ≥ 2-hit margin below them.
    *
    * The verifier's distance runs through the native compensated
    * [[graft.functions.ArrayDot]] via |q−n|² = q·q − 2·q·n + n·n
    * (each dot within 1 ulp of exact; the published round(…,6) absorbs
    * that against the oracle's decimal accumulation — the same
    * precedent every cosine gate rides). The old per-element
    * decimal-cast fold was the single most expensive stage of the gate
    * at scale (corpus × queries × dims interpreted casts: ~6 s of
    * q_ann_pq's sf1 cost). Top-k/rank-1 MEMBERSHIP rides the unrounded
    * double ordering, which a sub-noise distance tie could flip;
    * AnnExactRecallSpec ("boundary margins") proves the gated corpora's
    * rank-1→2 and k→k+1 gaps exceed twice the measured double-path
    * error, so the ordering is provably stable where it is gated.
    */
  def pqRecallCertificate(embeddings: DataFrame, queryPred: Column, k: Int,
      minRecall: Double, shortlist: Int = 0,
      codebookK: Int = 16): DataFrame = {
    val pq = pqTopK(embeddings, queryPred, k,
      codebookK = codebookK, shortlist = shortlist)
    val queries = embeddings.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("emb_q"),
        dot(col("embedding"), col("embedding")).as("qq"))
    val corpus = embeddings.select(col("vec_id").as("nn_id"),
      col("embedding").as("emb_n"),
      dot(col("embedding"), col("embedding")).as("nn"))
    val sims = corpus.crossJoin(broadcast(queries))
      .filter(col("q_id") =!= col("nn_id"))
      .withColumn("dist2",
        col("qq") - lit(2.0) * dot(col("emb_q"), col("emb_n")) + col("nn"))
    val exTop = graft.plans.TopKOps.topKPerKey(
      sims.select(col("q_id"), col("nn_id"), col("dist2")),
      Seq("q_id"), Seq(col("dist2").asc, col("nn_id").asc), k)
    val w = Window.partitionBy("q_id").orderBy(col("dist2").asc, col("nn_id"))
    val exRanked = exTop.withColumn("rank", row_number().over(w))
    val nHits = exRanked.select(col("q_id"), col("nn_id"))
      .join(pq.select(col("q_id"), col("nn_id")), Seq("q_id", "nn_id"),
        "left_semi")
      .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
    exRanked.filter(col("rank") === 1)
      .select(col("q_id"), col("nn_id").as("exact_nn_id"),
        round(col("dist2"), 6).as("exact_nn_dist2"))
      .join(nHits, Seq("q_id"), "left")
      .select(col("q_id"), col("exact_nn_id"), col("exact_nn_dist2"),
        (coalesce(col("n_hits"), lit(0L)) >=
          lit(math.ceil(k * minRecall).toLong)).as("pq_ok"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * 1998): greedily re-order each query's [[bruteForceTopK]]
    * candidate list trading relevance against redundancy —
    * score(c) = λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s) — the
    * standard diversity re-ranker between retrieval and an LLM
    * context window (duplicate near-identical passages waste the
    * budget). First pick = pure relevance (empty-set max-sim ≡ 0, one
    * uniform formula).
    *
    * Portability: rel and the candidate-pair sims enter the score at
    * their published 6-dp rounding (the same values the cosine gates
    * prove engine-equal), so every selection argmax runs one fixed
    * IEEE dag on identical doubles; ties break on nn_id. The score is
    * published RAW: it is a deterministic dag on 6-dp inputs (no
    * cross-row float sums), and re-rounding it would hit the
    * quantized-input .5-boundary divergence (the q_robust_z lesson).
    *
    * Plan shape: candidate lists and the (query-local) candidate-pair
    * sim table are each computed once and cached — topC²-per-query
    * sized, NEVER corpus-sized; each of the `select` rounds is a
    * window argmax + anti-join over those tiny tables (1-task after
    * coalesce), with the accumulating selection localCheckpointed
    * (recurrence-lineage lesson). Output: (q_id, mmr_rank, nn_id,
    * score).
    */
  def mmrRerank(embeddings: DataFrame, queryPred: Column, topC: Int = 10,
      select: Int = 5, lambda: Double = 0.7): DataFrame = {
    require(topC >= select && select >= 1, "need topC >= select >= 1")
    graft.CacheScope.pinned { p =>
      val cand = p(bruteForceTopK(embeddings, queryPred, topC)
        .select(col("q_id"), col("nn_id"), round(col("sim"), 6).as("rel"))
        .coalesce(1))
      val vecs = embeddings.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      val ps = p(cand.select(col("q_id"), col("nn_id").as("a"))
        .join(cand.select(col("q_id"), col("nn_id").as("b")), "q_id")
        .filter(col("a") =!= col("b"))
        .join(vecs.select(col("vec_id").as("a"), col("embedding").as("ea"),
          col("nrm").as("na")), "a")
        .join(vecs.select(col("vec_id").as("b"), col("embedding").as("eb"),
          col("nrm").as("nb")), "b")
        .select(col("q_id"), col("a"), col("b"),
          round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("s"))
        .coalesce(1))
      val w = Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("nn_id").asc)
      // lazy checkpoint (the labelPropagation idiom): truncates the
      // per-round recurrence lineage without one blocking job per
      // greedy round — all `select` rounds run inside the caller's
      // single action
      var sel = p.checkpoint(cand
        .select(col("q_id"), col("nn_id"), (lit(lambda) * col("rel")).as("score"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("q_id"), col("nn_id"), lit(1).as("mmr_rank"), col("score")))
      for (r <- 2 to select) {
        val rem = cand.join(sel.select(col("q_id"), col("nn_id")),
          Seq("q_id", "nn_id"), "left_anti")
        val mx = rem
          .join(ps.withColumnRenamed("a", "nn_id"), Seq("q_id", "nn_id"))
          .join(sel.select(col("q_id"), col("nn_id").as("b")), Seq("q_id", "b"))
          .groupBy("q_id", "nn_id").agg(max(col("s")).as("mxs"))
        val scored = rem.join(mx, Seq("q_id", "nn_id"), "left")
          .select(col("q_id"), col("nn_id"),
            (lit(lambda) * col("rel")
              - lit(1.0 - lambda) * coalesce(col("mxs"), lit(0.0))).as("score"))
        sel = p.checkpoint(sel.unionByName(
          scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
            .select(col("q_id"), col("nn_id"), lit(r).as("mmr_rank"),
              col("score"))))
      }
      sel.select(col("q_id"), col("mmr_rank"), col("nn_id"), col("score"))
    }
  }

  /** Embedding-cosine near-duplicate pairs above `minSim` among a
    * bounded id range — brute force (quadratic in the bounded slice;
    * [[cosineNearDupsLsh]] is the scale variant).
    */
  def cosineNearDups(embeddings: DataFrame, minSim: Double): DataFrame = {
    val vecs = embeddings.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    vecs.select(col("vec_id").as("va"), col("embedding").as("ea"), col("nrm").as("na"))
      .crossJoin(vecs.select(col("vec_id").as("vb"), col("embedding").as("eb"), col("nrm").as("nb")))
      .filter(col("va") < col("vb"))
      .withColumn("sim", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("sim") >= minSim)
      .select("va", "vb", "sim")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication for web-scale training corpora — k-means-bucket the
    * embedding space, then examine cosine similarity only WITHIN a
    * cluster. The cluster id plays the LSH-band role: candidate pairs
    * are Σ_c C(n_c, 2), never corpus², and a production run grows `k`
    * with the corpus (the paper fits 11k clusters on 100M embeddings)
    * so n_c — and with it each task's pair term — stays bounded.
    *
    * Drop rule (deterministic and fully parallel — no greedy chain): a
    * row is dropped iff an EARLIER (lower vec_id) row of the SAME
    * cluster has cosine ≥ `tau`; its `dup_of` is the smallest such
    * neighbor. Clustering reuses [[ClusterOps.kmeans]]' oracle-exact
    * Lloyd fit, so the oracle replays the ENTIRE pipeline
    * (fit → assign → within-cluster pairs → drop rule) bit-for-bit.
    *
    * Output: one detail row per dropped doc (cluster, vec_id, dup_of,
    * sim 6 dp, NULL n/n_kept) plus one summary row per cluster
    * (cluster, NULLs, n, n_kept).
    */
  def semDedup(embeddings: DataFrame, dims: Int = 8, k: Int = 4,
      iters: Int = 2, tau: Double = 0.4): DataFrame =
    semDedupWith(embeddings,
      ClusterOps.kmeans(embeddings, "vec_id", "embedding", dims, k, iters)
        .select(col("vec_id"), col("cluster")), tau)

  /** The SemDeDup ladder default: the candidate-pair budget and the k
    * rungs the census walks. Shared with the q_semdedup oracle
    * generator so engine and SQL replay the same choice.
    */
  val SemDedupLadder: Seq[Int] = Seq(4, 32, 256, 2048)
  val SemDedupMaxPairs: Long = 50000000L

  /** Census-chosen cluster count for [[semDedup]] — the chooseBanding /
    * adaptiveJaroPrefix pattern applied a third time: the gate's
    * quadratic term is the within-cluster pair count Σ_c C(n_c, 2),
    * and a FIXED k makes it ~(n/k)² — quadratic in the corpus even
    * though the operator's whole design is bucketed (SemDeDup grows k
    * with the corpus: 11k clusters on 100M embeddings, Abbas et al.
    * 2023 — the same S-curve parameter discipline as the LSH banding
    * material the dedup family implements, reference `Assignment 2/
    * Part_2.pdf` p.5-6). The census walks `ladder` ascending and picks
    * the SMALLEST k whose ACTUAL fitted pair load (integer-exact DIV
    * over the real cluster populations, not a balancedness assumption)
    * fits `maxPairs`; the steepest rung is the fallback. Each rung's
    * census is one [[ClusterOps.kmeansAssign]] fit (linear passes) plus
    * a ONE-ROW pair-count collect — never corpus-sized driver state —
    * and the walk early-stops at the first rung under budget, so small
    * corpora pay exactly one fit. Exactly replayable in ANSI SQL
    * (scalar-subquery census per rung, CASE ladder), so the oracle
    * makes the same choice from the same data and the CHOICE itself is
    * hash-gated.
    */
  def chooseSemDedupK(embeddings: DataFrame, dims: Int = 8, iters: Int = 2,
      maxPairs: Long = SemDedupMaxPairs,
      ladder: Seq[Int] = SemDedupLadder): Int =
    chooseSemDedupKAssigned(embeddings, dims, iters, maxPairs, ladder)._1

  /** [[chooseSemDedupK]] returning (k, assignment frame) so the caller
    * can REUSE the chosen rung's fit instead of refitting it: the
    * centroids are literals baked into the returned frame's plan, so
    * reuse skips the whole Lloyd fit (init + `iters` corpus-pass
    * collects) the census already paid for that rung. Only the ladder
    * fallback (no rung under budget) fits once more — the census never
    * fitted the last rung. Bit-identical output either way
    * ([[ClusterOps.kmeansAssign]] is deterministic).
    */
  private[graft] def chooseSemDedupKAssigned(embeddings: DataFrame,
      dims: Int = 8, iters: Int = 2,
      maxPairs: Long = SemDedupMaxPairs,
      ladder: Seq[Int] = SemDedupLadder): (Int, DataFrame) = {
    require(ladder.nonEmpty && ladder == ladder.sorted, "ladder must ascend")
    ladder.init.iterator.map { k =>
      val asg = ClusterOps
        .kmeansAssign(embeddings, "vec_id", "embedding", dims, k, iters)
      val load = asg
        .groupBy("cluster").agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).as("pairs"))
        .collect()(0).getLong(0)
      (k, asg, load)
    }.find(_._3 <= maxPairs).map(t => (t._1, t._2)).getOrElse {
      val k = ladder.last
      (k, ClusterOps.kmeansAssign(embeddings, "vec_id", "embedding",
        dims, k, iters))
    }
  }

  /** [[semDedup]] with [[chooseSemDedupK]]'s data-chosen cluster count
    * and the k-scalable assignment encoding — the gate form with a
    * scale path: the quadratic pair term is bounded by `maxPairs`
    * whenever any ladder rung fits, and the cluster key the pairs
    * shuffle on carries ≥ `chosen k`-way parallelism.
    */
  def semDedupAdaptive(embeddings: DataFrame, dims: Int = 8,
      iters: Int = 2, tau: Double = 0.4,
      maxPairs: Long = SemDedupMaxPairs,
      ladder: Seq[Int] = SemDedupLadder): DataFrame = {
    val (_, asg) =
      chooseSemDedupKAssigned(embeddings, dims, iters, maxPairs, ladder)
    semDedupWith(embeddings, asg, tau)
  }

  /** The SemDeDup tail (within-cluster cosine, drop rule, summary)
    * over a supplied (vec_id, cluster) assignment.
    */
  private def semDedupWith(embeddings: DataFrame, asg: DataFrame,
      tau: Double): DataFrame = graft.CacheScope.pinned { p =>
    // pinned: both self-join sides + the cluster-size aggregate read it
    val vecs = p(
      embeddings.select(col("vec_id"), col("embedding"))
        .join(asg, Seq("vec_id"))
        .select(col("cluster"), col("vec_id"), col("embedding"),
          norm(col("embedding")).as("nrm")))
    // pinned: the qualifying-pair table feeds the drop set, the detail
    // sim lookup AND the per-cluster drop count — tiny after the tau
    // filter, but its computation is the quadratic term
    val pairs = p(
      vecs.select(col("cluster"), col("vec_id").as("va"),
          col("embedding").as("ea"), col("nrm").as("na"))
        .join(vecs.select(col("cluster"), col("vec_id").as("vb"),
          col("embedding").as("eb"), col("nrm").as("nb")), Seq("cluster"))
        .filter(col("va") < col("vb"))
        .withColumn("sim", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("sim") >= tau)
        .select(col("cluster"), col("va"), col("vb"), col("sim")))
    val dropped = pairs.groupBy("cluster", "vb").agg(min("va").as("dup_of"))
    val detail = dropped
      .join(pairs.select(col("vb"), col("va").as("dup_of"), col("sim")),
        Seq("vb", "dup_of"))
      .select(col("cluster"), col("vb").as("vec_id"), col("dup_of"),
        round(col("sim"), 6).as("sim"),
        lit(null).cast("long").as("n"), lit(null).cast("long").as("n_kept"))
    val sizes = vecs.groupBy("cluster").agg(count(lit(1)).as("n"))
    val dcnt = dropped.groupBy("cluster").agg(count(lit(1)).as("nd"))
    val summary = sizes.join(dcnt, Seq("cluster"), "left")
      .select(col("cluster"), lit(null).cast("long").as("vec_id"),
        lit(null).cast("long").as("dup_of"), lit(null).cast("double").as("sim"),
        col("n"), (col("n") - coalesce(col("nd"), lit(0L))).as("n_kept"))
    detail.unionByName(summary)
  }

  /** Linear-time MMD² two-sample test on embeddings (Gretton, Borgwardt,
    * Rasch, Schölkopf & Smola, JMLR 2012 §6 — the MMD_l estimator):
    * did the embedding DISTRIBUTION shift between two slices? The
    * squared-distance drift check the scalar family (KS/PSI/JS) cannot
    * express: with an RBF kernel k(u,v) = exp(−‖u−v‖²/`gammaDen`),
    * MMD² estimates E[k(x,x′)] + E[k(y,y′)] − 2·E[k(x,y)], which is 0
    * iff the two distributions agree.
    *
    * The quadratic estimator is corpus² — this is the LINEAR one:
    * vectors pair 1:1 across sides, consecutive pairs form quadruples,
    * and each quadruple contributes one independent
    * h = k(x₁,x₂) + k(y₁,y₂) − k(x₁,y₂) − k(x₂,y₁); MMD² = mean h.
    * Pairing must be deterministic but arbitrary (any measurable
    * pairing is unbiased under H₀): vectors bucket by
    * pmod(id, `buckets`) and rank WITHIN their bucket, so the
    * row_number window is bucket-partitioned — no global sort, no
    * single-partition stage, and the unpaired remainder (≤ 1 pair per
    * bucket per side) drops.
    *
    * Numerics: norms and cross-dots run through [[dot]] (Neumaier, 1-ulp);
    * each kernel value is ONE mirrored IEEE dag rounded at 9 dp (the
    * libm-exp rule — same risk budget as the ln-based gates), h is
    * exact DECIMAL arithmetic over the four rounded kernels, and the
    * published means are integer half-up ([[graft.PlanUtils.ratioRound]]).
    *
    * Plan shape: two filtered scans → bucket-keyed windows → one
    * (bkt, r) equi-join to pair sides → one (bkt, g) equi-join to form
    * quadruples → one 1-row aggregate. Everything is key-partitioned;
    * per-bucket work is corpus/`buckets`-bounded, so `buckets` is the
    * parallelism knob at 100 TB.
    */
  def mmdLinear(emb: DataFrame, idCol: String, vecCol: String,
      sideA: Column, buckets: Int = 16, gammaDen: Double = 64.0): DataFrame = {
    val w = Window.partitionBy("bkt").orderBy("id")
    def side(cond: Column, vn: String) =
      emb.filter(cond).select(col(idCol).as("id"), col(vecCol).as(vn),
          pmod(col(idCol), lit(buckets.toLong)).as("bkt"))
        .withColumn("r", row_number().over(w))
        .withColumn(s"n2$vn", dot(col(vn), col(vn)))
    val paired = side(sideA, "x").join(
      side(!sideA, "y").drop("id"), Seq("bkt", "r"))
    def half(m: Int, g: Column) = paired.filter(pmod(col("r"), lit(2)) === m)
      .select(col("bkt"), g.as("g"),
        col("x").as(s"x${2 - m}"), col("n2x").as(s"nx${2 - m}"),
        col("y").as(s"y${2 - m}"), col("n2y").as(s"ny${2 - m}"))
    // quad index: odd rank r pairs with rank r+1 (⌈r/2⌉ on both sides;
    // double division is exact below 2^52, floor makes it integral)
    val quads = half(1, floor((col("r") + lit(1)) / lit(2)).cast("long")).join(
      half(0, floor(col("r") / lit(2)).cast("long")), Seq("bkt", "g"))
    def k(u: Column, n2u: Column, v: Column, n2v: Column) =
      round(exp(-(n2u - lit(2.0) * dot(u, v) + n2v) / lit(gammaDen)), 9)
        .cast("decimal(20,9)")
    val dec0 = "decimal(38,0)"
    val scaled = (c: Column) => (c * lit(1000000000L)).cast(dec0)
    quads
      .select(
        (k(col("x1"), col("nx1"), col("x2"), col("nx2"))
          + k(col("y1"), col("ny1"), col("y2"), col("ny2"))).as("kw"),
        (k(col("x1"), col("nx1"), col("y2"), col("ny2"))
          + k(col("x2"), col("nx2"), col("y1"), col("ny1"))).as("kc"))
      .agg(count(lit(1)).as("n_quads"),
        sum(col("kw")).as("sw"), sum(col("kc")).as("sc"))
      .select(col("n_quads"),
        graft.PlanUtils.ratioRound(scaled(col("sw") - col("sc")),
          col("n_quads") * lit(1000000000L), 6).as("mmd2"),
        graft.PlanUtils.ratioRound(scaled(col("sw")),
          col("n_quads") * lit(2000000000L), 6).as("mean_within"),
        graft.PlanUtils.ratioRound(scaled(col("sc")),
          col("n_quads") * lit(2000000000L), 6).as("mean_cross"))
  }
}
