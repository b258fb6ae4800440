package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph centrality for web-corpus curation. A crawled corpus
  * carries a link graph, and PageRank over it is the classic quality
  * prior (seed lists, crawl frontier ordering, doc-level quality
  * features for training-data filters). The engine piece is the
  * iterative computation itself: scatter rank mass along edges, gather
  * per target node, repeat — a Pregel round expressed as join + agg.
  *
  * Exactness: floats accumulated across shuffles are order-sensitive,
  * so the gated form uses a scaled-INTEGER rank. With a uniform
  * out-degree `d` and damping 17/20 (= 0.85), define
  * `R_k = rank_k * N * (20d)^k`. Then
  *
  *   R_{k+1}(v) = 3d * (20d)^k  +  17 * sum over in-edges (u,v) of R_k(u)
  *
  * keeps every value a BIGINT — no float ever enters the loop, so the
  * result is bit-identical in any engine and any shuffle order. The
  * published `rank` column is the single final division
  * R_iters / (N * (20d)^iters), one exact-integer-to-double op.
  *
  * Scale notes: each round is one shuffle join (edges x ranks, keyed
  * by src) plus one partial-aggregated exchange keyed by dst — the
  * standard distributed PageRank plan; nothing corpus-sized touches
  * the driver. Rounds chain LAZILY (each rank table is referenced
  * exactly once by the next round, so the unrolled plan is linear and
  * the whole walk runs inside the caller's single action — no
  * per-round blocking jobs). The BIGINT scaling is
  * an oracle-exactness device: (20d)^k overflows int64 past ~10
  * rounds x trillion-node graphs, where a production run would switch
  * the rank column to DOUBLE and accept last-ulp nondeterminism.
  */
object GraphOps {

  /** Lazy-lineage escape hatch for the Pregel loops (pageRank / ppr /
    * hits): a lazy `localCheckpoint(false)` truncates the unrolled round
    * chain every this-many rounds, so ARBITRARY `iters` can't grow
    * analyzer cost and recovery-recompute scope linearly with the whole
    * walk. 8 is chosen ABOVE every declared gate depth (iters ≤ 5,
    * hits rounds = 2), so the gated plans stay pure-lazy and
    * byte-identical; a 20-round walk pays two cheap truncations instead
    * of a 20-round analyzed plan (GraphOpsSpec pins the deep-walk path).
    * Results are unaffected — the checkpoint is a plan barrier, not a
    * computation change. A walk's checkpoints are held by its
    * [[graft.CacheScope.pinned]] scope, which releases the superseded
    * ones once the output has been consumed and keeps the last one,
    * whose blocks back the truncated lineage.
    */
  private val CheckpointEvery = 8

  /** PageRank with damping 0.85 over `edges` (`src`, `dst` BIGINT;
    * parallel edges allowed and counted with multiplicity). Every node
    * in `nodes` (column `node`) MUST have out-degree exactly `outDeg`
    * in `edges` — the uniform out-degree is what keeps the scaled rank
    * integral (callers with organic graphs pad with self-edges or use
    * the double-rank variant a real deployment would).
    *
    * Output: (node, rank_scaled BIGINT, rank DOUBLE rounded 9).
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, outDeg: Int,
      iters: Int, nNodes: Long): DataFrame = {
    require(iters >= 1 && outDeg >= 1, "iters and outDeg must be >= 1")
    rankWalk(edges, outDeg, iters, nNodes,
      nodes.select(col("node"), lit(1L).as("r")), nodes.select(col("node")),
      base => lit(base))
  }

  /** Personalized PageRank (Jeh–Widom 2003): random walk with restart
    * to a SEED set instead of the uniform teleport — the "expand from
    * these trusted starting points" primitive (recommendation
    * expansion, crawl-frontier scoring around seed domains, GNN
    * neighborhood weighting). Same scaled-INTEGER recurrence as
    * [[pageRank]], with the teleport mass landing only on seeds: with
    * seed set S and `R_k = ppr_k · |S| · (20d)^k`,
    *
    *   R_0(v)     = [v ∈ S]
    *   R_{k+1}(v) = [v ∈ S] · 3d · (20d)^k + 17 · Σ over in-edges R_k(u)
    *
    * keeps every value BIGINT (total mass Σ R_k = |S| · (20d)^k
    * exactly — teleport restores what damping withholds), so the whole
    * walk gates bit-for-bit; `rank` is the single final division by
    * |S| · (20d)^iters. Plan shape is [[pageRank]]'s: the edge list
    * shuffles ONCE (pinned pre-partitioned on src) and each round
    * moves only the node-sized rank table.
    *
    * `nodes` carries (node BIGINT, seed BOOLEAN); `nSeeds` = |S|
    * (callers usually know it; a count(seed) action would also do).
    * Output: (node, rank_scaled BIGINT, rank DOUBLE rounded 9).
    */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame, outDeg: Int,
      iters: Int, nSeeds: Long): DataFrame = {
    require(iters >= 1 && outDeg >= 1 && nSeeds >= 1,
      "iters, outDeg and nSeeds must be >= 1")
    rankWalk(edges, outDeg, iters, nSeeds,
      nodes.select(col("node"), when(col("seed"), 1L).otherwise(0L).as("r")),
      nodes.select(col("node"), col("seed")),
      base => when(col("seed"), lit(base)).otherwise(lit(0L)))
  }

  /** The scaled-integer Pregel walk behind [[pageRank]] and
    * [[personalizedPageRank]]: from `ranks0` (node, r = R_0), each round
    * sets R_{k+1} = teleport(3d·(20d)^k) + 17·Σ in-edge R_k over
    * `walkNodes` (which carries whatever columns `teleport` reads), and
    * publishes rank = R_iters / (mass · (20d)^iters). `ranks0` is
    * by-name: it is built inside the scope, after the edge pin, so the
    * plan's expression ids follow the walk's build order.
    */
  private def rankWalk(edges: DataFrame, outDeg: Int, iters: Int, mass: Long,
      ranks0: => DataFrame, walkNodes: DataFrame, teleport: Long => Column)
      : DataFrame = {
    val scalePerIter = 20L * outDeg
    graft.CacheScope.pinned { p =>
      // pin the edge list for the loop's lifetime (same reasoning as
      // nearDupClusters: every round joins against it) — PRE-PARTITIONED
      // on the join key: InMemoryRelation preserves its child's
      // outputPartitioning, so every round's join reuses this one
      // edge shuffle and only the (node-sized) rank table moves. At
      // graph scale the edge list is the dominant table; shuffling it
      // once instead of once per round is the classic Pregel partitioning.
      val e = p(edges.select(col("src"), col("dst")).repartition(col("src")))
      // LAZY round chain, no per-round action (the bfsHops lesson,
      // measured there at ~10%): each round's rank table is referenced
      // EXACTLY once — by the next round's join — so the unrolled plan
      // is linear (no 2^k funnel) and needs neither persist nor a
      // blocking count(). The whole walk runs inside the caller's ONE
      // action instead of `iters` serialized driver round-trips; only
      // the pinned edge list is cached (filled by round 1's stage,
      // read by rounds 2..iters).
      var ranks = ranks0
      var k = 0
      while (k < iters) {
        val base = 3L * outDeg * pow60(scalePerIter, k)
        val contrib = e.join(ranks, e("src") === ranks("node"))
          .groupBy(e("dst").as("node"))
          .agg(sum(col("r")).as("in_r"))
        ranks = walkNodes
          .join(contrib, Seq("node"), "left")
          .select(col("node"),
            (teleport(base) + lit(17L) * coalesce(col("in_r"), lit(0L))).as("r"))
        k += 1
        // deep-walk lineage guard (see [[CheckpointEvery]]); never fires
        // at the declared gate depths, so their plans stay pure-lazy
        if (k % CheckpointEvery == 0 && k < iters)
          ranks = p.checkpoint(ranks)
      }
      val denom = mass.toDouble * pow60(scalePerIter, iters).toDouble
      ranks.select(col("node"), col("r").as("rank_scaled"),
        round(col("r").cast("double") / denom, 9).as("rank"))
    }
  }

  /** Deterministic synthetic link graph over dense ids 0..n-1: node i
    * links to (i+1), (2i+3), (i²+5) mod n — fixed out-degree 3 with a
    * skewed in-degree profile for EVERY n > 3: the quadratic map is
    * never a bijection (i and n−i collide), so some nodes collect extra
    * in-edges and others none — ranks are genuinely non-uniform and a
    * symmetric-bug implementation cannot pass by accident. (Affine maps
    * alone would be permutations mod a prime → uniform in-degree →
    * uniform PageRank.) Self-edges and parallel edges are possible and
    * deliberately kept — [[pageRank]] counts multiplicity. Test-fixture
    * scale only: i² needs ids below ~3e9 to stay in int64.
    */
  def syntheticEdges(nodes: DataFrame, n: Long): DataFrame = {
    def m(c: Column): Column = c % lit(n)
    nodes.select(col("node").as("src"),
      explode(array(m(col("node") + 1), m(col("node") * 2 + 3),
        m(col("node") * col("node") + 5))).as("dst"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) — PageRank's companion
    * centrality: an AUTHORITY is pointed to by good hubs, a HUB points
    * to good authorities. Two coupled scatter/gather passes per round:
    *
    *   a_{k+1}(v) = Σ over in-edges (u,v) of h_k(u)
    *   h_{k+1}(u) = Σ over out-edges (u,v) of a_{k+1}(v)
    *
    * Same Pregel plan as [[pageRank]] (edge list shuffled ONCE onto its
    * join key and persisted; only node-sized score tables move per
    * round), but each round joins the edges TWICE — once keyed by src
    * (scatter hubs), once by dst-gathered authorities back through src.
    *
    * Exactness: the textbook algorithm L2-normalizes each round —
    * irrational scale factors no cross-engine gate can hash. This form
    * keeps the UNNORMALIZED integer recursion (the score RATIOS are
    * identical — normalization is a per-round positive scalar), which
    * stays BIGINT-exact in any shuffle order. Magnitudes grow by
    * ~(max-degree)² per round, so `rounds` must stay small enough that
    * Σdeg·max(h)·max(a) fits int64 — the gate uses 2 rounds on an
    * out-degree-3 graph (score ceiling ~degree⁴ ≈ 10³ per unit mass);
    * a production run at depth would switch to doubles + periodic
    * normalization and accept last-ulp nondeterminism, exactly the
    * pageRank trade.
    */
  def hits(nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    graft.CacheScope.pinned { p =>
      // TWO pinned copies of the edge list, one per join key: the
      // scatter-to-authorities leg joins on src, the gather-to-hubs leg
      // on dst — a single copy would re-shuffle the (dominant) edge
      // table every round on whichever key it isn't partitioned by
      val eSrc = p(edges.select(col("src"), col("dst")).repartition(col("src")))
      val eDst = p(edges.select(col("src"), col("dst")).repartition(col("dst")))
      // LAZY round chain (the pageRank/bfsHops lesson): every mid-round
      // score table is referenced exactly once by the next leg, so the
      // unrolled plan is linear and runs inside the caller's ONE action
      // — no per-round persist/count (2 blocking jobs per round before).
      // The one genuinely shared frame is the LAST round's authority
      // table (feeds the final hub gather AND the output join); it
      // alone keeps a lazy persist mark.
      var hubs = nodes.select(col("node"), lit(1L).as("h"))
      var auths: DataFrame = null
      var k = 0
      while (k < rounds) {
        val a0 = nodes.select(col("node"))
          .join(eSrc.join(hubs, eSrc("src") === hubs("node"))
            .groupBy(eSrc("dst").as("node")).agg(sum(col("h")).as("s")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("s"), lit(0L)).as("a"))
        val a = if (k == rounds - 1) p(a0) else a0
        val h = nodes.select(col("node"))
          .join(eDst.join(a, eDst("dst") === a("node"))
            .groupBy(eDst("src").as("node")).agg(sum(col("a")).as("s")),
            Seq("node"), "left")
          .select(col("node"), coalesce(col("s"), lit(0L)).as("h"))
        hubs = h
        auths = a
        k += 1
        // deep-walk lineage guard (see [[CheckpointEvery]]); the
        // mid-chain hub table is the only frame the next round reads
        if (k % CheckpointEvery == 0 && k < rounds)
          hubs = p.checkpoint(hubs)
      }
      hubs.join(auths, "node")
        .select(col("node"), col("h").as("hub"), col("a").as("auth"))
    }
  }

  /** Per-vertex triangle counts over a directed edge list, reported at
    * each triangle's LOWEST vertex (each triangle counted exactly once).
    *
    * Algorithm: the compact-forward / node-iterator join form. The
    * graph is first projected to undirected SIMPLE edges — self-loops
    * dropped, each edge normalized to (a < b) and deduplicated — then
    * triangles {x<y<z} are exactly the wedges e(x,y) ⋈ e(y,z) (the
    * normalization makes x<y and y<z structural) whose closing edge
    * (x,z) exists, checked with one more equi-join. Three shuffles
    * total: the dedup exchange and the two joins; the normalized edge
    * list feeds all three legs, so it is a query-scoped
    * [[graft.CacheScope]] persist.
    *
    * Scale note: the wedge set is Σ_y deg(y)² — the known quadratic
    * term of every distributed triangle count. On power-law graphs the
    * standard mitigation is degree-ordered orientation (orient each
    * edge from the LOWER-degree endpoint, bounding per-vertex wedge
    * fan-out by arboricity); the min/max orientation here keeps the
    * oracle expressible while the join shape — where all the Spark
    * machinery lives — is identical.
    */
  def triangleCounts(edges: DataFrame): DataFrame = graft.CacheScope.pinned { p =>
    val e = p(undirectedSimple(edges))
    val wedges = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), "y")
    wedges
      .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"))
      .groupBy(col("x").as("node"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-source BFS: the minimum hop count from any seed to every
    * reachable node within `rounds` hops over a directed edge list —
    * the reachability / influence-radius primitive (crawl frontier
    * depth, contamination blast radius, feature propagation depth).
    *
    * Frontier form of the Pregel loop: per round, ONLY the newly
    * discovered frontier (never the visited set) joins the edge list,
    * and candidates already visited are dropped with an anti-join —
    * so per-round join work is frontier × out-degree, and total work
    * is Σ|frontier_k| = |reachable|, not rounds × |V|. The edge list
    * is shuffled ONCE onto its join key and pinned ([[pageRank]]'s
    * layout); visited/frontier tables are node-sized and persist
    * round-scoped (materialize-then-release, the iterate pattern).
    *
    * Output: (node, hop) for every node reached within `rounds` hops,
    * hop = 0 for seeds. Unreached nodes are absent (the oracle
    * mirrors). All integer arithmetic — exact on any engine.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    graft.CacheScope.pinned { p =>
      val e = p(edges.select(col("src"), col("dst")).repartition(col("src")))
      // LAZY persist chain, no per-round action: each round's frame is
      // marked for caching and referenced (at most twice — as the next
      // round's frontier filter and anti-join base), but nothing runs
      // until the CALLER's single action, which fills every level's
      // cache exactly once bottom-up. Eager per-round count()s (the
      // pageRank loop shape) would serialize `rounds` blocking jobs;
      // here the rounds' stages pipeline inside one job (measured
      // 4.0 s → 3.6 s at sf0.1 — the joins, not the job overhead,
      // dominate). The persist marks are what keep the recursion
      // linear — without them round k would re-derive every earlier
      // round per reference (the 2^k funnel disease).
      var visited = p(seeds.select(col("node")).distinct()
        .select(col("node"), lit(0).as("hop")))
      var k = 1
      while (k <= rounds) {
        val frontier = visited.filter(col("hop") === k - 1)
        val next = e.join(frontier, e("src") === frontier("node"))
          .select(col("dst").as("node")).distinct()
          .join(visited.select("node"), Seq("node"), "left_anti")
          .select(col("node"), lit(k).as("hop"))
        visited = p(visited.unionByName(next))
        k += 1
      }
      // every level and the edge list are read by the returned frame,
      // so all release on its first consuming action (nothing has run
      // yet when this function returns)
      visited.select("node", "hop")
    }
  }

  /** Synchronous label propagation (Raghavan et al. 2007): community
    * detection by iterated neighbor-majority vote — init label(v) = v,
    * then each round every node adopts the most frequent label among
    * its neighbors (tie → smallest label). The curation use: mirror /
    * template-farm clusters in a web link graph that near-dup CC
    * misses because mirrors interlink without sharing text.
    *
    * Graph is projected to undirected SIMPLE form (self-loops dropped,
    * parallel edges deduped) so votes are unweighted. Per round: ONE
    * shuffle join (symmetrized edges × labels on the neighbor key) +
    * two hash aggregates; the argmax is a bit-packed `max` over
    * `cnt·2⁴⁰ + (2⁴⁰−1−label)` — all-primitive, so it plans as
    * HashAggregate (a `max(struct)` would fall back to SortAggregate).
    * The symmetrized edge list shuffles onto its join key ONCE and
    * stays pinned; labels localCheckpoint per round (plan truncation —
    * the CC lesson). Fixed `rounds` ⇒ deterministic output (async LPA
    * is run-order-dependent; synchronous is the replayable variant).
    * CONTRACT: node ids < 2⁴⁰ (packing headroom) and degrees < 2²³
    * (cnt·2⁴⁰ must stay in int64) — both hold for any corpus this
    * library addresses (ids are dense row numbers).
    *
    * Output: (node, label) for every node with at least one edge.
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val M = 1L << 40
    val und = undirectedSimple(edges)
    graft.CacheScope.pinned { p =>
      val sym = p(symmetric(und).repartition(col("nbr")))
      var labels = sym.select(col("node")).distinct()
        .select(col("node"), col("node").as("label"))
      var k = 0
      while (k < rounds) {
        val votes = sym
          .join(labels.select(col("node").as("nbr"), col("label")), "nbr")
          .groupBy("node", "label").agg(count(lit(1)).as("cnt"))
        val next = votes
          .groupBy("node")
          .agg(max(col("cnt") * M + (lit(M - 1) - col("label"))).as("pk"))
          .select(col("node"), (lit(M - 1) - pmod(col("pk"), lit(M))).as("label"))
        // lazy plan truncation + cache: the next round references this
        // frame twice (join + nothing else, but the chain still doubles
        // without truncation over many rounds)
        labels = p.checkpoint(next)
        k += 1
      }
      // the last checkpoint backs the returned frame; the earlier ones
      // and the edge list release once it has run
      labels
    }
  }

  /** Link-prediction scores (Liben-Nowell & Kleinberg 2003): for
    * every NON-adjacent 2-hop pair, the common-neighbor count and
    * Jaccard coefficient |N(a)∩N(b)| / |N(a)∪N(b)| — the classic
    * "who should connect next" features (friend suggestion, citation
    * completion; in a curation pipeline: candidate mirror links the
    * crawl hasn't seen yet).
    *
    * Graph projects to undirected SIMPLE form. Wedge enumeration is
    * the triangle-count shape: one self-join of the symmetrized edge
    * list keyed by the SHARED neighbor (Σ deg² work — the problem's
    * honest size; a hot hub is AQE-splittable on the join key), one
    * (a, b)-keyed count, an anti-join against the edge set to drop
    * already-adjacent pairs, and two broadcast-sized degree joins.
    * Union degree falls out of inclusion–exclusion (da + db − common)
    * — no set materialization. Jaccard is one exact-int64 IEEE
    * division, published at 6 dp.
    */
  def linkPrediction(edges: DataFrame, minCommon: Long = 2): DataFrame = graft.CacheScope.pinned { p =>
    val und = undirectedSimple(edges)
    val sym = p(symmetric(und))
    val common = sym.alias("x").join(sym.alias("y"),
        col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
      .select(col("x.node").as("a"), col("y.node").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
    val deg = sym.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    common
      .join(und, Seq("a", "b"), "left_anti") // keep only NON-edges
      .join(deg.select(col("node").as("a"), col("deg").as("__da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("__db")), "b")
      .select(col("a"), col("b"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("__da") + col("__db") - col("n_common")), 6).as("jaccard"))
  }

  /** k-core peeling (Seidman 1983): iteratively delete nodes of
    * degree < k until only the k-core remains — the curation use is
    * spam-farm / link-ring extraction (dense cores in a web graph)
    * and robust-community seeding before label propagation.
    *
    * Runs a FIXED `rounds` of synchronous peeling (delete-all-then-
    * recount, not sequential) so the computation is deterministic and
    * oracle-unrollable; callers pick rounds ≥ the corpus' fixpoint
    * (extra rounds are no-ops — GraphOpsSpec pins fixpoint+1 ≡
    * fixpoint). Graph is projected to undirected SIMPLE form first
    * (self-loops dropped, parallel edges deduped).
    *
    * Per round: one hash aggregate for degrees (map-side partials),
    * then the edge list joins the kept-node set on EACH endpoint —
    * kept is |V|-sized (one bigint column), so at web scale both
    * joins broadcast-or-shuffle on the endpoint key; nothing is ever
    * quadratic and no driver state exists. Edges re-checkpoint per
    * round (plan truncation — the CC lesson).
    *
    * Output: (node, deg) for every node in the surviving subgraph —
    * deg is the node's degree WITHIN the core, ≥ k at fixpoint.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "k and rounds must be >= 1")
    val und = undirectedSimple(edges)
    graft.CacheScope.pinned { p =>
      var sym = p.checkpoint(symmetric(und))
      var r = 0
      while (r < rounds) {
        val kept = sym.groupBy("node").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select("node")
        sym = p.checkpoint(sym
          .join(kept, "node")
          .join(kept.withColumnRenamed("node", "nbr"), "nbr")
          .select("node", "nbr"))
        r += 1
      }
      sym.groupBy("node").agg(count(lit(1)).as("deg"))
    }
  }

  /** The undirected SIMPLE projection of a directed edge list:
    * self-loops dropped, each edge normalized to (a < b), deduplicated.
    */
  private def undirectedSimple(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Both orientations (node, nbr) of each undirected (a, b) edge. */
  private def symmetric(und: DataFrame): DataFrame =
    und.select(col("a").as("node"), col("b").as("nbr"))
      .unionByName(und.select(col("b").as("node"), col("a").as("nbr")))

  private def pow60(base: Long, k: Int): Long = {
    var r = 1L
    var i = 0
    while (i < k) { r *= base; i += 1 }
    r
  }
}
