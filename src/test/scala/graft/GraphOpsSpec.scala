package graft

import graft.operators.GraphOps
import org.apache.spark.sql.functions._

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  test("syntheticEdges: fixed out-degree 3, all endpoints in range") {
    val nodes = spark.range(0, 11).select(col("id").as("node"))
    val e = GraphOps.syntheticEdges(nodes, 11L)
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
      .agg(min("d"), max("d")).as[(Long, Long)].head()
    assert(deg == ((3L, 3L)))
    assert(e.filter(col("dst") < 0 || col("dst") >= 11).count() == 0)
  }

  test("pageRank conserves total mass: sum(rank_scaled) == N * 60^iters") {
    val n = 11L
    val nodes = spark.range(0, n).select(col("id").as("node"))
    val pr = GraphOps.pageRank(nodes, GraphOps.syntheticEdges(nodes, n),
      outDeg = 3, iters = 5, nNodes = n)
    val total = pr.agg(sum("rank_scaled")).head().getLong(0)
    assert(total == n * 777600000L)
    // the affine edge maps skew in-degrees: ranks must NOT be uniform
    assert(pr.select("rank_scaled").distinct().count() > 1)
  }

  test("deep walks run through the CheckpointEvery lineage guard (iters > 8)") {
    val n = 11L
    val nodes = spark.range(0, n).select(col("id").as("node"))
    val e = GraphOps.syntheticEdges(nodes, n)
    // 9 rounds cross the CheckpointEvery = 8 truncation once while the
    // scaled BIGINT rank stays int64-exact (total mass = n·60^k ≈
    // 1.1e17 at k = 9; ANSI mode would THROW past ~10 rounds, the
    // documented bound). This pins that the deep-walk plan stays
    // analyzable and runs to completion — the declared gate depths
    // (iters ≤ 5) never enter the guard and keep their pure-lazy plans.
    val pr = GraphOps.pageRank(nodes, e, outDeg = 3, iters = 9, nNodes = n)
    assert(pr.count() == n)
    val h = GraphOps.hits(nodes, e, rounds = 9)
    assert(h.count() == n)
  }

  test("a 20-round walk keeps only its last checkpoint once consumed") {
    // a directed cycle: every hub and authority score stays 1 in every
    // round, so 20 rounds (checkpoints after rounds 8 and 16) stay exact
    val n = 7L
    val nodes = spark.range(0, n).select(col("id").as("node"))
    val cycle = nodes.select(col("node").as("src"), ((col("node") + 1) % n).as("dst"))
    val before = persistentRddIds
    def pinned = persistentRddIds -- before
    val h = GraphOps.hits(nodes, cycle, rounds = 20)
    assert(pinned.size >= 2) // both checkpoints are marked before any action
    val first = h.orderBy("node").as[(Long, Long, Long)].collect().toSeq
    assert(first == (0L until n).map(v => (v, 1L, 1L)))
    // release runs on the listener bus: wait for it
    val deadline = System.currentTimeMillis() + 20000
    while (pinned.size > 1 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(pinned.size == 1, s"left pinned: $pinned")
    // the one left backs the truncated lineage: the frame still runs
    assert(h.orderBy("node").as[(Long, Long, Long)].collect().toSeq == first)
  }

  test("pageRank matches an independent double-arithmetic reference") {
    val n = 11
    val nodes = spark.range(0, n).select(col("id").as("node"))
    val got = GraphOps.pageRank(nodes,
        GraphOps.syntheticEdges(nodes, n.toLong), 3, 5, n.toLong)
      .orderBy("node").select("rank").as[Double].collect()
    // plain textbook double PageRank, same graph, same 5 iterations
    val edges = (0 until n).flatMap(i =>
      Seq(i -> ((i + 1) % n), i -> ((2 * i + 3) % n), i -> ((i * i + 5) % n)))
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 0 until 5) {
      val next = Array.fill(n)(0.15 / n)
      edges.foreach { case (s, d) => next(d) += 0.85 * r(s) / 3.0 }
      r = next
    }
    got.zip(r).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9) }
  }

  test("pageRank on sf0.001 documents graph: mass exact, skew present") {
    val docs = Tables.documents(spark, sf0)
    val n = docs.count()
    val nodes = docs.select(col("doc_id").as("node"))
    val pr = GraphOps.pageRank(nodes, GraphOps.syntheticEdges(nodes, n),
      3, 5, n)
    assert(pr.agg(sum("rank_scaled")).head().getLong(0) == n * 777600000L)
    val mm = pr.agg(min("rank"), max("rank")).as[(Double, Double)].head()
    assert(mm._2 > mm._1) // non-uniform stationary mass
  }

  test("triangleCounts: known graph, self-loops/parallel/reversed edges normalized") {
    // K4 on {0,1,2,3} (4 triangles) plus a pendant 3-4, noise: a
    // self-loop, a duplicate, and a reversed duplicate
    val dirty = Seq(
      (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L),
      (3L, 4L),
      (2L, 2L), // self-loop: dropped
      (0L, 1L), // parallel: deduped
      (3L, 1L)  // reversed duplicate of (1,3): deduped
    ).toDF("src", "dst")
    val got = GraphOps.triangleCounts(dirty)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    // triangles: 012 013 023 (lowest 0), 123 (lowest 1)
    assert(got == Seq((0L, 3L), (1L, 1L)))
  }

  test("triangleCounts on the synthetic graph matches a brute-force replay") {
    val n = 200L
    val nodes = spark.range(n).select(col("id").as("node"))
    val got = GraphOps.triangleCounts(GraphOps.syntheticEdges(nodes, n))
      .orderBy("node").as[(Long, Long)].collect().toMap
    val edges = (0L until n).flatMap(i =>
        Seq((i + 1) % n, (i * 2 + 3) % n, (i * i + 5) % n).map(d => (i, d)))
      .filter { case (s, d) => s != d }
      .map { case (s, d) => (math.min(s, d), math.max(s, d)) }
      .toSet
    // NB: iterate a Seq throughout — collect on the Set would dedupe
    // triangles sharing a base edge
    val edgeSeq = edges.toSeq
    val expected = edgeSeq.flatMap { case (x, y) =>
      edgeSeq.collect { case (`y`, z) if edges.contains((x, z)) => x }
    }.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    assert(got == expected && got.values.sum > 0)
  }

  test("hits: 2-round unnormalized scores match a brute-force replay; isolated node zeros") {
    // path 0→1→2 plus hub 3→{1,2}; node 4 isolated (hub=auth=0)
    val nodes = spark.range(0, 5).select(col("id").as("node"))
    val edges = Seq((0L, 1L), (1L, 2L), (3L, 1L), (3L, 2L)).toDF("src", "dst")
    val got = GraphOps.hits(nodes, edges, rounds = 2)
      .orderBy("node").as[(Long, Long, Long)].collect().toSeq
    // replay: h0 = 1 everywhere; a_k(v) = Σ_in h_{k-1}; h_k(u) = Σ_out a_k
    val es = Seq((0, 1), (1, 2), (3, 1), (3, 2))
    var h = Array.fill(5)(1L)
    var a = Array.fill(5)(0L)
    for (_ <- 0 until 2) {
      val a1 = Array.fill(5)(0L)
      es.foreach { case (s, d) => a1(d) += h(s) }
      val h1 = Array.fill(5)(0L)
      es.foreach { case (s, d) => h1(s) += a1(d) }
      a = a1; h = h1
    }
    assert(got == (0 until 5).map(i => (i.toLong, h(i), a(i))))
    assert(got(4) == ((4L, 0L, 0L))) // isolated: no in/out edges
    // sanity on the duality: 3 points at both strong authorities →
    // best hub; 2 is fed by the best hubs → top authority
    assert(h(3) == h.max && a(2) == a.max)
  }

  test("hits on the synthetic documents graph matches an independent replay") {
    val n = 97L
    val nodes = spark.range(n).select(col("id").as("node"))
    val got = GraphOps.hits(nodes, GraphOps.syntheticEdges(nodes, n), 2)
      .orderBy("node").as[(Long, Long, Long)].collect().toSeq
    val es = (0L until n).flatMap(i =>
        Seq((i + 1) % n, (i * 2 + 3) % n, (i * i + 5) % n).map(d => (i.toInt, d.toInt)))
    val m = n.toInt
    var h = Array.fill(m)(1L)
    var a = Array.fill(m)(0L)
    for (_ <- 0 until 2) {
      val a1 = Array.fill(m)(0L)
      es.foreach { case (s, d) => a1(d) += h(s) }
      val h1 = Array.fill(m)(0L)
      es.foreach { case (s, d) => h1(s) += a1(d) }
      a = a1; h = h1
    }
    assert(got == (0 until m).map(i => (i.toLong, h(i), a(i))))
    assert(got.map(_._3).distinct.size > 1) // skewed in-degrees → non-uniform
  }

  test("bfsHops: min hop wins, revisits never relabel, unreachable absent") {
    // 0→1→2→3→4 chain, plus shortcut 0→3 (so 3 is hop 1, 4 is hop 2),
    // a back-edge 2→0 (revisit must not relabel 0), and isolated 9
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 3L),
      (2L, 0L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val got = GraphOps.bfsHops(edges, seeds, rounds = 4)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(0L -> 0, 1L -> 1, 3L -> 1, 2L -> 2, 4L -> 2))
  }

  test("bfsHops: multi-source takes the closer seed; rounds bound the radius") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 2L))
      .toDF("src", "dst")
    val seeds = Seq(0L, 10L).toDF("node")
    val r1 = GraphOps.bfsHops(edges, seeds, rounds = 1)
      .as[(Long, Int)].collect().toMap
    // 2 is hop 1 via seed 10 (not hop 2 via 0); radius 1 excludes 3
    assert(r1 == Map(0L -> 0, 10L -> 0, 1L -> 1, 2L -> 1))
    val r2 = GraphOps.bfsHops(edges, seeds, rounds = 2)
      .as[(Long, Int)].collect().toMap
    assert(r2 == Map(0L -> 0, 10L -> 0, 1L -> 1, 2L -> 1, 3L -> 2))
  }

  test("labelPropagation: triangles converge to min id; tie → smallest; deterministic") {
    // two disjoint triangles; direction/duplication/self-loops must not matter
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 1L), (2L, 2L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    // hand-simulated synchronous rounds for {1,2,3}: r1 = (1→2, 2→1,
    // 3→1)  [node 1 ties {2,3} → 2], r2 = (1→1, 2→1, 3→1), stable
    // after; by symmetry {10,11,12} → 10
    val got = GraphOps.labelPropagation(edges, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    // sync semantics visible mid-run: round 1 alone has node 1 at 2
    val r1 = GraphOps.labelPropagation(edges, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1(1L) == 2L && r1(2L) == 1L && r1(3L) == 1L)
    // deterministic under repartitioning
    val re = GraphOps.labelPropagation(edges.repartition(7), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(re == got)
  }

  test("kCore: pendant chain peels over multiple rounds, triangle survives at k=2") {
    // triangle {1,2,3} + chain 3-4-5-6: each round peels only the
    // current degree-1 tip, so the chain needs 3 rounds to vanish
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val r1 = GraphOps.kCore(edges, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1.keySet == Set(1L, 2L, 3L, 4L, 5L)) // only tip 6 gone
    val r3 = GraphOps.kCore(edges, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r3 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L)) // the 2-core
    // fixpoint: extra rounds are no-ops
    val r4 = GraphOps.kCore(edges, k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(r4 == r3)
    // self-loops and parallel/reversed edges never inflate a degree
    val noisy = edges.unionByName(
      Seq((1L, 1L), (2L, 1L), (6L, 5L)).toDF("src", "dst"))
    val rn = GraphOps.kCore(noisy, k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(rn == r3)
  }

  test("linkPrediction: square graph scores diagonals, excludes adjacent and sub-minCommon") {
    // square 1-2-3-4-1 plus pendant 5-1: diagonals (1,3) and (2,4)
    // share two neighbors; (3,5)/(4,5)... share only node 1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (5L, 1L))
      .toDF("src", "dst")
    val got = GraphOps.linkPrediction(edges, minCommon = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    // deg: 1→3, 2→2, 3→2, 4→2, 5→1
    assert(got == Set(
      (1L, 3L, 2L, 0.666667), // round(2/3, 6)
      (2L, 4L, 2L, 1.0)))
    // minCommon=1 surfaces the single-wedge pairs (via hub 1), still
    // never adjacent ones
    val loose = GraphOps.linkPrediction(edges, minCommon = 1)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2)).toSet
    assert(loose == Set((1L, 3L), (2L, 4L), (2L, 5L), (4L, 5L)))
  }

  test("kCore gate shape: rounds 5 is past fixpoint on the documents graph (k=4)") {
    val docs = Tables.documents(spark, sf0)
    val n = docs.agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0) + 1
    val nodes = docs.select(col("doc_id").as("node"))
    val e = GraphOps.syntheticEdges(nodes, n)
    val r5 = GraphOps.kCore(e, k = 4, rounds = 5).as[(Long, Long)].collect().toSet
    val r6 = GraphOps.kCore(e, k = 4, rounds = 6).as[(Long, Long)].collect().toSet
    assert(r5 == r6, "gate rounds not past fixpoint")
    assert(r5.nonEmpty && r5.forall(_._2 >= 4))
  }

  test("personalizedPageRank: mass = |S| * 60^iters; matches double reference") {
    val n = 11
    val nodes = spark.range(0, n.toLong)
      .select(col("id").as("node"), (col("id") < 3).as("seed"))
    val ppr = GraphOps.personalizedPageRank(nodes,
      GraphOps.syntheticEdges(nodes, n.toLong), outDeg = 3, iters = 5,
      nSeeds = 3)
    // teleport restores exactly what damping withholds on the seed set
    assert(ppr.agg(sum("rank_scaled")).head().getLong(0) == 3L * 777600000L)
    val got = ppr.orderBy("node").select("rank").as[Double].collect()
    // textbook double PPR: teleport mass 0.15 split over the seeds
    val edges = (0 until n).flatMap(i =>
      Seq(i -> ((i + 1) % n), i -> ((2 * i + 3) % n), i -> ((i * i + 5) % n)))
    var r = Array.tabulate(n)(i => if (i < 3) 1.0 / 3 else 0.0)
    for (_ <- 0 until 5) {
      val next = Array.tabulate(n)(i => if (i < 3) 0.15 / 3 else 0.0)
      edges.foreach { case (s, d) => next(d) += 0.85 * r(s) / 3.0 }
      r = next
    }
    got.zip(r).foreach { case (g, e) => assert(math.abs(g - e) < 1e-9) }
  }

  test("pageRank equals personalizedPageRank with every node seeded") {
    // the identity the shared rank walk relies on: seeding every node
    // makes PPR's start and teleport terms PageRank's, and |S| = N
    val n = 11L
    val nodes = spark.range(0, n).select(col("id").as("node"), lit(true).as("seed"))
    val e = GraphOps.syntheticEdges(nodes, n)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").as[(Long, Long, Double)].collect().toSeq
    val pr = rows(GraphOps.pageRank(nodes.select("node"), e, outDeg = 3,
      iters = 5, nNodes = n))
    val ppr = rows(GraphOps.personalizedPageRank(nodes, e, outDeg = 3,
      iters = 5, nSeeds = n))
    assert(pr.size == n)
    assert(pr == ppr)
  }
}
