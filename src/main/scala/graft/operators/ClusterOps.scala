package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed K-means (Lloyd's algorithm) over an embedding column —
  * the clustering primitive of every corpus-organization pipeline
  * (topic bucketing, dedup-cluster seeding, IVF coarse quantizers;
  * [[SimilarityOps]]' IVF uses MLlib's fit on a sample, THIS is the
  * full-corpus engine form with oracle-exact arithmetic).
  *
  * The "fit small, transform distributed" split: per iteration the
  * corpus-sized work is ONE map-only assignment pass (squared L2 to k
  * broadcast-literal centroids, argmin) feeding one k-keyed
  * partial-combined aggregate of per-dimension decimal sums; the only
  * driver state ever materialized is the k × dims centroid matrix —
  * bytes, not corpus. Iterations are fixed, so the oracle replays the
  * recurrence as chained conditional-aggregation CTEs (the PageRank /
  * PCA gate pattern).
  *
  * Arithmetic is engine-portable by construction:
  *  - init = the vectors of the k smallest ids (deterministic, no RNG);
  *  - distances fold squared diffs left-to-right in dimension order
  *    (`aggregate` over `zip_with`) — the same association an unrolled
  *    SQL `+` chain produces, and IEEE addition starting from +0.0 is
  *    exact on the first term;
  *  - argmin ties break to the LOWEST centroid index via a strict
  *    `<=`-chain (a `when` cascade both engines express identically);
  *  - centroid updates are DECIMAL(38,12) sums divided by exact counts,
  *    one double divide per (cluster, dim) — shuffle-order-independent,
  *    so the next iteration's literals are bit-identical everywhere.
  *
  * Empty clusters would keep their previous centroid; with
  * deterministic far-apart init this does not occur on the gated
  * corpus (the spec asserts all k stay populated at every SF).
  */
object ClusterOps {

  /** Squared L2 distance from the dims-array column to a literal
    * centroid, folded in dimension order.
    */
  private[operators] def dist2(x: Column, c: Array[Double]): Column =
    aggregate(
      zip_with(x, array(c.map(lit).toIndexedSeq: _*),
        (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, e) => acc + e)

  /** Lowest-index argmin over the distance columns via a strict
    * when-cascade: index j wins iff d_j <= d_i for every i > j.
    */
  private[operators] def argmin(ds: Seq[Column]): Column =
    ds.init.zipWithIndex.foldRight(lit(ds.size - 1)) { case ((d, j), rest) =>
      when(ds.drop(j + 1).map(d <= _).reduce(_ && _), j).otherwise(rest)
    }

  /** The default (small-k) assignment column: one [[dist2]] fold per
    * centroid and the lowest-index [[argmin]] `when`-cascade. Codegen-
    * friendly at gate-sized k, but the cascade is O(k²) in expression
    * size — k beyond a few dozen needs [[arrAssign]].
    */
  private[operators] def cascadeAssign(
      cents: Array[Array[Double]]): Column =
    argmin(cents.toIndexedSeq.map(c => dist2(col("__x"), c)))

  /** k-scalable assignment column: the centroid matrix enters the plan
    * as ONE nested-array literal; per row, `transform` computes the k
    * squared distances (explicit left-assoc sum over the dims — the
    * same IEEE dag as [[dist2]]'s fold, since adding a non-negative
    * first term to +0.0 is exact) and `array_position(ds,
    * array_min(ds))` takes the FIRST index attaining the minimum —
    * exactly [[argmin]]'s lowest-index tie rule. Expression size is
    * O(dims), not O(k²), so a census-chosen k (thousands at 100 TB —
    * SemDeDup fits 11k clusters on 100M embeddings, Abbas et al. 2023)
    * stays plannable; the arithmetic is bit-identical to
    * [[cascadeAssign]], only the plan encoding changes.
    */
  private[operators] def arrAssign(dims: Int)(
      cents: Array[Array[Double]]): Column = {
    val carr = typedLit(cents.map(_.toSeq).toSeq)
    val ds = transform(carr, c =>
      (0 until dims).map { d =>
        val diff = element_at(col("__x"), d + 1) - element_at(c, d + 1)
        diff * diff
      }.reduceLeft(_ + _))
    (array_position(ds, array_min(ds)) - 1).cast("int")
  }

  /** `iters` Lloyd iterations over a frame carrying (`idCol`, `__x`:
    * array<double>); returns the final k × dims centroid matrix — the
    * only driver state. Init = the vectors of the k smallest ids
    * (deterministic, no RNG); updates are decimal-sum means (shuffle-
    * order-independent, engine-portable); an empty cluster keeps its
    * previous centroid. Shared by [[kmeans]], [[kmeansAssign]] and
    * [[silhouette]]. The caller pins `x` (each iteration re-reads it). `assign` picks the assignment-plan
    * encoding ([[cascadeAssign]] or [[arrAssign]] — bit-identical
    * results by construction).
    */
  private[operators] def lloyd(x: DataFrame, idCol: String,
      k: Int, dims: Int, iters: Int,
      assign: Array[Array[Double]] => Column = cascadeAssign)
      : Array[Array[Double]] = {
    var cents: Array[Array[Double]] = x.orderBy(col(idCol)).limit(k)
      .select(col("__x")).collect()
      .map(_.getSeq[Double](0).toArray)
    var it = 0
    while (it < iters) {
      val assigned = x.withColumn("__cl", assign(cents))
      // per-(cluster, dim) decimal means + counts: k×dims doubles to
      // the driver — the entire mutable state of the algorithm
      val sums = assigned.groupBy(col("__cl"))
        .agg(count(lit(1)).as("__n"),
          (0 until dims).map(d =>
            (sum(element_at(col("__x"), d + 1).cast("decimal(38,12)"))
              .cast("double") / count(lit(1))).as(s"__m$d")): _*)
        .collect()
      val next = cents.clone()
      sums.foreach { r =>
        val cl = r.getInt(0)
        next(cl) = (0 until dims).map(d => r.getDouble(2 + d)).toArray
      }
      cents = next
      it += 1
    }
    cents
  }

  /** (`idCol`, `__x` = the first `dims` dims of `vecCol` as doubles). */
  private def vectors(embeddings: DataFrame, idCol: String, vecCol: String,
      dims: Int): DataFrame =
    embeddings.select(col(idCol),
      expr(s"transform(slice($vecCol, 1, $dims), e -> CAST(e AS DOUBLE))")
        .as("__x"))

  /** Run `iters` Lloyd iterations with k clusters over the first `dims`
    * dimensions of `vecCol` (float32 → double cast is exact), then
    * publish each row's final assignment under the FINAL centroids:
    * (idCol, cluster, dist2 rounded 6).
    */
  def kmeans(embeddings: DataFrame, idCol: String, vecCol: String,
      dims: Int, k: Int, iters: Int): DataFrame = {
    require(k >= 2 && dims >= 1 && iters >= 1, "k>=2, dims>=1, iters>=1")
    graft.CacheScope.pinned { p =>
      val x = p(vectors(embeddings, idCol, vecCol, dims))
      val cents = lloyd(x, idCol, k, dims, iters)
      val finalDs = cents.toIndexedSeq.map(c => dist2(col("__x"), c))
      x.select(col(idCol), argmin(finalDs).as("cluster"),
        round(least(finalDs: _*), 6).as("dist2"))
    }
  }

  /** [[kmeans]] with the k-scalable [[arrAssign]] plan encoding,
    * publishing assignments only: (idCol, cluster). Bit-identical to
    * [[kmeans]]' assignments at any k (same init, same decimal-mean
    * updates, same distance dags, same lowest-index ties — only the
    * expression encoding differs), but the plan stays O(dims) as k
    * grows, so census-chosen cluster counts (SemDeDup's k ∝ corpus)
    * don't hit the when-cascade's O(k²) analysis wall. `n < k` corpora
    * degrade gracefully: init takes all n rows as centroids on both
    * engine and oracle (`vec_id < k` ≡ take-all when ids are dense).
    * The input is repartitioned on `idCol` before the iteration cache:
    * a single-file parquet scan otherwise pins every Lloyd map pass to
    * 1-2 tasks regardless of cores.
    */
  def kmeansAssign(embeddings: DataFrame, idCol: String, vecCol: String,
      dims: Int, k: Int, iters: Int): DataFrame = {
    require(k >= 2 && dims >= 1 && iters >= 1, "k>=2, dims>=1, iters>=1")
    graft.CacheScope.pinned { p =>
      val x = p(vectors(embeddings, idCol, vecCol, dims).repartition(col(idCol)))
      val cents = lloyd(x, idCol, k, dims, iters, arrAssign(dims))
      x.select(col(idCol), arrAssign(dims)(cents).as("cluster"))
    }
  }

  /** Simplified (centroid-based) silhouette — the clustering-quality
    * report for a [[kmeans]] fit (Rousseeuw 1987's silhouette with the
    * per-point neighbor-cluster mean distance replaced by the distance
    * to the nearest OTHER centroid — Hruschka et al.'s simplified
    * variant, the only form that stays linear: the classic definition
    * is a corpus × corpus pairwise mean). Per point:
    *   a = ‖x − c_own‖, b = min over other centroids ‖x − c_j‖,
    *   s = (b − a) / max(a, b)   (0 when both distances are 0),
    * published as per-cluster means (k rows).
    *
    * Numeric contract: a²/b² are the same fold-in-dimension-order
    * dist² dags the kmeans gate already hash-matches; sqrt is IEEE
    * correctly-rounded (portable by spec, unlike libm transcendentals);
    * per-point s rounds at 9 dp and the per-cluster mean is a decimal
    * sum ÷ count published at 6 dp — the repo's decMean rule.
    *
    * Plan shape: the Lloyd fit is [[lloyd]]'s k×dims driver matrix;
    * scoring is ONE map-only pass over the corpus (centroids are
    * literals in the plan — no join) followed by ONE k-row aggregate.
    * Nothing corpus-sized leaves the executors.
    */
  def silhouette(embeddings: DataFrame, idCol: String, vecCol: String,
      dims: Int, k: Int, iters: Int): DataFrame = {
    require(k >= 2 && dims >= 1 && iters >= 1, "k>=2, dims>=1, iters>=1")
    graft.CacheScope.pinned { p =>
      val x = p(vectors(embeddings, idCol, vecCol, dims))
      val cents = lloyd(x, idCol, k, dims, iters)
      val ds = cents.toIndexedSeq.map(c => dist2(col("__x"), c))
      val cl = argmin(ds)
      val a2 = ds.zipWithIndex.foldLeft(lit(Double.NaN)) {
        case (acc, (d, j)) => when(cl === j, d).otherwise(acc)
      }
      val b2 = least(ds.zipWithIndex.map { case (d, j) =>
        when(cl === j, lit(1e308)).otherwise(d)
      }: _*)
      val s = when(greatest(sqrt(a2), sqrt(b2)) > 0,
        round((sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2)), 9))
        .otherwise(lit(0.0))
      x.select(cl.as("cluster"), s.as("__s"))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          round(sum(col("__s").cast("decimal(38,12)")).cast("double")
            / count(lit(1)), 6).as("mean_sil"))
    }
  }

  /** Grid-density clustering (DBSCAN-lite / the STING-CLIQUE family):
    * quantize the first two embedding dims into an eps-grid, call a
    * cell DENSE when it holds ≥ `minPts` points, union 8-adjacent
    * dense cells into clusters, label each point by its cell's
    * component (sparse-cell points → NULL = noise). The shape DBSCAN
    * pipelines use at scale precisely because it avoids per-point
    * ε-neighbor joins: the corpus reduces in ONE cell-keyed aggregate,
    * and all graph work happens on the CELL table (≤ occupied-grid
    * sized, orders of magnitude below the corpus).
    *
    * Component labels ride [[DedupOps.nearDupClusters]] (pointer-
    * jumped min-label propagation) over the dense-cell adjacency
    * edges; isolated dense cells keep their own packed cell id.
    * Cell ids pack as (cx+4096)·8192 + cy+4096 — exact for
    * |cx|,|cy| < 4096 (grid coordinates of embedding space, not data
    * size). Floor quantization is one double division — identical in
    * every engine away from exact eps multiples.
    */
  def gridDensityClusters(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", eps: Double = 0.25,
      minPts: Long = 8): DataFrame = {
    require(eps > 0 && minPts >= 1, "eps must be positive, minPts >= 1")
    val pts = graft.CacheScope.autoRelease(emb.select(col(idCol).as("vec_id"),
      floor(element_at(col(vecCol), 1).cast("double") / eps).cast("long").as("cx"),
      floor(element_at(col(vecCol), 2).cast("double") / eps).cast("long").as("cy")))
    val dense = graft.CacheScope.autoRelease(
      pts.groupBy("cx", "cy").agg(count(lit(1)).as("__n"))
        .filter(col("__n") >= minPts)
        .withColumn("cid", (col("cx") + 4096L) * 8192L + col("cy") + 4096L))
    val offs = for { dx <- -1 to 1; dy <- -1 to 1; if dx != 0 || dy != 0 }
      yield (dx, dy)
    val shifted = dense.select(col("cid").as("da"),
        explode(array(offs.map { case (dx, dy) =>
          struct((col("cx") + dx).as("nx"), (col("cy") + dy).as("ny"))
        }: _*)).as("o"))
      .select(col("da"), col("o.nx").as("cx"), col("o.ny").as("cy"))
    val edges = shifted
      .join(dense.select(col("cx"), col("cy"), col("cid").as("db")), Seq("cx", "cy"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"))
    val labels = DedupOps.nearDupClusters(edges)
      .select(col("doc_id").as("cid"), col("cluster"))
    val cellLabel = dense.join(labels, Seq("cid"), "left")
      .select(col("cx"), col("cy"),
        coalesce(col("cluster"), col("cid")).as("cluster"))
    // the cell-label table is grid-sized — broadcast it so the
    // corpus-sized point frame never shuffles (plan-audited: the
    // un-hinted join exchanged ALL points on (cx, cy))
    pts.join(broadcast(cellLabel), Seq("cx", "cy"), "left")
      .select(col("vec_id"), col("cx"), col("cy"), col("cluster"))
  }

  /** k-center greedy coreset selection (Gonzalez 1985 farthest-point
    * traversal — the 2-approximation of the k-center cover, and the
    * standard diversity/coreset sampler for training-data selection à
    * la active-learning "core-set" picking): start from the lowest-id
    * vector, then `k − 1` times pick the point FARTHEST from every
    * already-chosen center (ties → lowest id). Published rows: one per
    * selected center (sel_rank, vec_id, d2 = the farthest-point
    * distance² that selected it) plus a final coverage-certificate row
    * (sel_rank = k, vec_id NULL, d2 = max remaining min-distance² —
    * the cover radius² the greedy bound guarantees within 2× of
    * optimal).
    *
    * Portability: coordinates are floor-quantized to an integer grid
    * (`scale` steps per unit; floor has no tie semantics) and carried
    * as float32 — exact for |q| ≤ 2²⁴ — so every distance² computed
    * through the native dot kernel (qq − 2·q·c + cc) is an EXACT
    * integer in double: argmax and the published values are
    * bit-portable with zero float-boundary risk.
    *
    * Plan shape: the quantized corpus is cached once; each of the k
    * rounds is one broadcast (1-row center) map + a TakeOrdered
    * argmax and a min-update — O(k) corpus scans, no pairwise
    * materialization, min-distance state localCheckpointed per round
    * (the recurrence-lineage lesson). At 100 TB the corpus scans
    * dominate and are embarrassingly parallel; k is small by
    * construction.
    */
  def kCenterGreedy(emb: DataFrame, k: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding", scale: Double = 1000.0): DataFrame = {
    require(k >= 1, "k must be >= 1")
    graft.CacheScope.pinned { p =>
      val pts = p(emb.select(col(idCol).as("vec_id"),
          transform(col(vecCol),
            x => floor(x.cast("double") * scale).cast("float")).as("q"))
        .withColumn("qq", SimilarityOps.dot(col("q"), col("q"))))
      def d2To(c: DataFrame): DataFrame =
        pts.crossJoin(broadcast(c))
          .select(col("vec_id"),
            (col("qq") - lit(2.0) * SimilarityOps.dot(col("q"), col("cq"))
              + col("cqq")).as("d2"))
      val c0 = pts.orderBy("vec_id").limit(1)
        .select(col("vec_id").as("c_id"), col("q").as("cq"), col("qq").as("cqq"))
      // lazy checkpoints throughout (the labelPropagation idiom): the
      // min-distance recurrence still truncates its lineage per round,
      // but the k greedy rounds run inside the caller's single action
      // instead of 2 blocking jobs per round
      var md = p.checkpoint(d2To(c0))
      var out = c0.select(lit(0).as("sel_rank"), col("c_id").as("vec_id"),
        lit(0.0).as("d2"))
      for (r <- 1 until k) {
        val next = p.checkpoint(md.orderBy(col("d2").desc, col("vec_id").asc).limit(1))
        val c = next.join(pts, "vec_id")
          .select(col("vec_id").as("c_id"), col("q").as("cq"), col("qq").as("cqq"))
        out = out.unionByName(
          next.select(lit(r).as("sel_rank"), col("vec_id"), col("d2")))
        md = p.checkpoint(md.join(d2To(c).withColumnRenamed("d2", "nd"), "vec_id")
          .select(col("vec_id"), least(col("d2"), col("nd")).as("d2")))
      }
      val cov = md.agg(max("d2").as("d2"))
        .select(lit(k).as("sel_rank"), lit(null).cast("long").as("vec_id"),
          col("d2"))
      out.unionByName(cov)
        .select(col("sel_rank"), col("vec_id"), col("d2").cast("long").as("d2"))
    }
  }
}
