package graft

import graft.operators.DedupOps
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  test("exactDedup groups identical texts and keeps min doc_id") {
    val docs = Seq((5L, "aa bb"), (2L, "aa bb"), (9L, "cc")).toDF("doc_id", "text")
    val got = DedupOps.exactDedup(docs).as[(Long, Long)].collect().toSet
    assert(got == Set((2L, 2L), (9L, 1L)))
  }

  test("Jaccard = 0 (disjoint sets) produces no LSH candidates — Part_2 Q3a property") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val sh = DedupOps.shingled(docs, 3)
    val cand = DedupOps.lshCandidates(DedupOps.minhashSignatures(sh, 128), 4, 32)
    assert(cand.count() == 0)
  }

  test("identical docs always collide; minhash estimates Jaccard within sampling error") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h i j k l m n o p"),          // j = 1 with doc 1
      (3L, "a b c d e f g h i j k l m n o q")).toDF("doc_id", "text")
    val sh = DedupOps.shingled(docs, 3)
    val sigs = DedupOps.minhashSignatures(sh, 128)
    val cand = DedupOps.lshCandidates(sigs, 4, 32).as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 2L)))
    // estimated similarity = fraction of equal signature positions
    val est = sigs.select(col("doc_id"), col("sig")).as[(Long, Seq[Long])]
      .collect().toMap
    val est12 = est(1L).zip(est(2L)).count { case (a, b) => a == b } / 128.0
    assert(est12 == 1.0)
    val jac13 = DedupOps.shingled(docs, 3).as[(Long, Seq[String])].collect().toMap
    val trueJ = {
      val a = jac13(1L).toSet; val b = jac13(3L).toSet
      a.intersect(b).size.toDouble / a.union(b).size
    }
    val est13 = est(1L).zip(est(3L)).count { case (a, b) => a == b } / 128.0
    assert(math.abs(est13 - trueJ) < 0.2, s"est $est13 vs true $trueJ")
  }

  test("verifiedNearDups finds exactly the planted pairs (equals exact all-pairs)") {
    val docs = Tables.documents(spark, sf0)
    val lsh = DedupOps.verifiedNearDups(docs).select("da", "db")
      .as[(Long, Long)].collect().toSet
    val exact = DedupOps.ngramJaccardPairs(docs, minJac = 0.8).select("da", "db")
      .as[(Long, Long)].collect().toSet
    assert(lsh == exact)
    assert(lsh.nonEmpty)
  }

  test("row-prefix minhash speedup (MMDS 3.3.6) keeps exact output at mod 4") {
    val docs = Tables.documents(spark, sf0)
    val full = DedupOps.verifiedNearDups(docs).select("da", "db")
      .as[(Long, Long)].collect().toSet
    // signatures over a deterministic quarter of the shingle rows;
    // verification over full sets — output must still be the exact set
    val sampled = DedupOps.verifiedNearDups(docs, rowPrefixMod = Some(4L))
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(sampled == full)
    assert(sampled.nonEmpty)
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val docs = Tables.documents(spark, sf0)
    val sig = DedupOps.simhash(docs)
    val pairs = DedupOps.verifiedNearDups(docs).select("da", "db")
    val sa = sig.select(col("doc_id").as("da"), col("sig").as("siga"))
    val sb = sig.select(col("doc_id").as("db"), col("sig").as("sigb"))
    val ham = pairs.join(sa, "da").join(sb, "db")
      .select(DedupOps.hamming(col("siga"), col("sigb")).as("d"))
      .as[Int].collect()
    assert(ham.nonEmpty)
    // 0.8-Jaccard near-dups should be far below the ~30-bit random baseline
    assert(ham.forall(_ <= 20), s"max hamming ${ham.max}")
  }

  test("simhashPairs ≡ brute-force hamming join (pigeonhole completeness)") {
    val docs = Tables.documents(spark, sf0)
    val sig = DedupOps.simhash(docs)
    val maxH = 3
    val brute = sig.alias("a").join(sig.alias("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        DedupOps.hamming(col("a.sig"), col("b.sig")).as("hamming"))
      .filter(col("hamming") <= maxH)
      .as[(Long, Long, Long)].collect().toSet
    val got = DedupOps.simhashPairs(docs, maxHamming = maxH)
      .as[(Long, Long, Long)].collect().toSet
    assert(brute.nonEmpty, "corpus lost its planted near-dup structure")
    assert(got == brute, s"pigeonhole=${got.size} brute=${brute.size}")
    // every emitted pair respects the bound; pairs at maxH+1 are excluded
    assert(got.forall(_._3 <= maxH))
  }

  test("shingles handles docs shorter than n") {
    val docs = Seq((1L, "one two")).toDF("doc_id", "text")
    assert(DedupOps.shingled(docs, 3).count() == 0)
  }

  test("overlapPairs catches an embedded doc that Jaccard misses") {
    // doc 2 is doc 1's first 5 words — containment 1.0, but Jaccard
    // = 3/13 ≈ 0.23 (3 shared shingles of 13 distinct): a 0.5-Jaccard
    // gate drops the pair, a 0.8-overlap gate keeps it
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o"),
      (2L, "a b c d e"),
      (3L, "p q r s t u v")).toDF("doc_id", "text")
    val ovl = DedupOps.overlapPairs(docs, minOverlap = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(ovl.toList == List((1L, 2L, 1.0)))
    val jac = DedupOps.ngramJaccardPairs(docs, minJac = 0.5)
    assert(jac.count() == 0)
  }

  test("maxShingleDf drops hot shingles but keeps rare ones") {
    val docs = Seq(
      (1L, "x y z a b c"), (2L, "x y z d e f"), (3L, "x y z g h i"),
      (4L, "p q r s t u"), (5L, "p q r s t u")).toDF("doc_id", "text")
    // 'x y z' df=3 dropped at maxDf=2; 4-5 still pair via their shingles
    val got = DedupOps.ngramJaccardPairs(docs, minJac = 0.2, maxShingleDf = Some(2L))
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(got == Set((4L, 5L)))
  }

  test("nearDupClusters merges transitively and handles multi-hop chains") {
    // components: {1,2,3} via 1-2, 2-3 (A≈C never paired); {10,11};
    // chain 20-21-22-23-24 (diameter 4 → several propagation rounds)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L))
      .toDF("da", "db").withColumn("jac", lit(0.9))
    val got = DedupOps.nearDupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L, 24L -> 20L))
    // keep-list semantics: drop everything whose id != cluster
    val drops = got.collect { case (d, c) if d != c => d }.toSet
    assert(drops == Set(2L, 3L, 11L, 21L, 22L, 23L, 24L))
  }

  test("nearDupClusters closes a path component far longer than maxIter (pointer jumping)") {
    // a 120-node duplicate CHAIN (template-spam shape): diameter 119 ≫
    // the default maxIter=30, so plain per-round propagation would
    // fail fast here — the pointer-jump step must close it in
    // O(log diameter) ≈ 7-9 rounds
    val chain = (1L until 120L).map(i => (i, i + 1)).toDF("da", "db")
    val got = DedupOps.nearDupClusters(chain)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 120 && got.values.forall(_ == 1L))
    // and well under the default budget: 9 rounds must already suffice
    val tight = DedupOps.nearDupClusters(chain, maxIter = 9)
      .as[(Long, Long)].collect().toMap
    assert(tight == got)
  }

  test("nearDupClusters fails fast when rounds are exhausted") {
    val chain = (0L until 6L).map(i => (i, i + 1)).toDF("da", "db")
    val ex = intercept[IllegalStateException] {
      DedupOps.nearDupClusters(chain, maxIter = 1).collect()
    }
    assert(ex.getMessage.contains("converge"))
  }

  test("bloomContaminatedPairs evalDfCap: generous cap is exact, tight cap drops only universal shingles") {
    // 3 train docs sharing the universal shingle "a b c"; eval doc 10
    // carries it plus a rare tail shared only with train doc 1
    val train = Seq(
      (1L, "a b c x y z p q"), (2L, "a b c m n o r s"), (3L, "a b c u v w t k"))
      .toDF("doc_id", "text")
    val eval = Seq((10L, "a b c x y z p q")).toDF("doc_id", "text")
    def run(cap: Long) = DedupOps.bloomContaminatedPairs(
        train, eval, minFrac = 0.1, evalDfCap = cap)
      .select("train_id", "eval_id", "frac")
      .as[(Long, Long, Double)].collect().toSet
    val exact = DedupOps.contaminatedPairs(train, eval, minFrac = 0.1)
      .select("train_id", "eval_id", "frac")
      .as[(Long, Long, Double)].collect().toSet
    assert(run(0L) == exact && run(100L) == exact) // off / generous ≡ exact
    val capped = run(0L).map { case (t, e, f) => (t, e) } // shape only
    // every eval shingle has df 1 here except none >1 — craft a cap that
    // bites requires df>1 on the EVAL side; with one eval doc all dfs
    // are 1, so even cap=1 stays exact:
    assert(run(1L) == exact)
    // two eval docs sharing "a b c" → df 2 > cap 1 → that shingle stops
    // certifying, frac drops but pairs stay a (conservative) subset
    val eval2 = Seq((10L, "a b c x y z p q"), (11L, "a b c j j j j j"))
      .toDF("doc_id", "text")
    val un = DedupOps.bloomContaminatedPairs(train, eval2, minFrac = 0.0)
      .select("train_id", "eval_id", "frac").as[(Long, Long, Double)]
      .collect().map { case (t, e, f) => (t, e) -> f }.toMap
    val cp = DedupOps.bloomContaminatedPairs(train, eval2, minFrac = 0.0,
        evalDfCap = 1L)
      .select("train_id", "eval_id", "frac").as[(Long, Long, Double)]
      .collect().map { case (t, e, f) => (t, e) -> f }.toMap
    assert(cp.keySet.subsetOf(un.keySet))
    assert(cp.forall { case (k, f) => f <= un(k) + 1e-12 })
    // and the capped run dropped the universal shingle's contribution
    assert(cp.getOrElse((2L, 10L), 0.0) < un((2L, 10L)))
    // a cap that drops EVERY eval posting (fully saturated shingle
    // space — the sf10 audit case) must yield empty, not NPE: Spark's
    // stat.bloomFilter returns a null buffer on empty input
    val eval3 = Seq((10L, "a b c d e"), (11L, "a b c d e")).toDF("doc_id", "text")
    val allCapped = DedupOps.bloomContaminatedPairs(train, eval3,
      minFrac = 0.0, evalDfCap = 1L)
    assert(allCapped.count() == 0)
  }

  test("incrementalNearDups ≡ full pairs touching the batch; old-old never emitted") {
    val docs = Tables.documents(spark, sf0)
    val isNew = col("doc_id") % 7 === 0
    val inc = DedupOps.incrementalNearDups(
        docs.filter(!isNew), docs.filter(isNew))
      .select("da", "db").as[(Long, Long)].collect().toSet
    val full = DedupOps.verifiedNearDups(docs)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val expected = full.filter { case (a, b) => a % 7 == 0 || b % 7 == 0 }
    assert(inc == expected && inc.nonEmpty)
    assert(inc.forall { case (a, b) => a % 7 == 0 || b % 7 == 0 })
  }

  test("sigBase sharing: one precomputed minhash base reproduces both pair passes bit-for-bit") {
    val docs = Tables.documents(spark, sf0)
    val isNew = col("doc_id") % 7 === 0
    // the q_incr_clusters shape: ONE corpus minhash base feeds both the
    // old-corpus self-pairs and the incremental batch pairs
    val base = DedupOps.minhashSignatures(
      DedupOps.hashedShingled(docs, 3), 128, "hs").persist()
    try {
      val incDefault = DedupOps.incrementalNearDups(
          docs.filter(!isNew), docs.filter(isNew))
        .as[(Long, Long, Double)].collect().toSet
      val incShared = DedupOps.incrementalNearDups(
          docs.filter(!isNew), docs.filter(isNew), sigBase = Some(base))
        .as[(Long, Long, Double)].collect().toSet
      assert(incShared == incDefault && incShared.nonEmpty)
      val vDefault = DedupOps.verifiedNearDups(docs.filter(!isNew))
        .as[(Long, Long, Double)].collect().toSet
      val vShared = DedupOps.verifiedNearDups(docs.filter(!isNew),
          sigBase = Some(base.filter(!isNew)))
        .as[(Long, Long, Double)].collect().toSet
      assert(vShared == vDefault && vShared.nonEmpty)
    } finally { base.unpersist(blocking = true); () }
  }

  test("incrementalClusters: bridge-merge relabels, pass-through, pairless-old, empty batch") {
    // old clusters: {1,2} (label 1), {5,6} (label 5), {20,21} (label 20)
    val oldC = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (20L, 20L), (21L, 20L))
      .toDF("doc_id", "cluster")
    // batch: new doc 100 bridges clusters 1 and 5 (the merge case);
    // new doc 101 pairs with previously-PAIRLESS old doc 9;
    // cluster {20,21} untouched
    val pairs = Seq((2L, 100L), (100L, 6L), (9L, 101L)).toDF("da", "db")
    val got = DedupOps.incrementalClusters(oldC, pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 100L -> 1L, // merged under min rep
      9L -> 9L, 101L -> 9L,                               // pairless-old + new
      20L -> 20L, 21L -> 20L))                            // untouched pass-through
    // quiet batch: assignments unchanged, no NPE on the empty pair set
    val quiet = DedupOps.incrementalClusters(oldC,
        Seq.empty[(Long, Long)].toDF("da", "db"))
      .as[(Long, Long)].collect().toMap
    assert(quiet == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
      20L -> 20L, 21L -> 20L))
  }

  /** Closed 8-word vocab → 512-shingle space saturates at ~2k docs;
    * every 10th doc is a near-dup of its predecessor (GenScale shape).
    * Deterministic per-row construction — shared by the banding tests.
    */
  private def saturatedCorpus(nDocs: Long) = {
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")
    spark.range(0, nDocs).select(col("id").as("doc_id"))
      .as[Long].map { id =>
        val seed = if (id % 10 == 9) id - 1 else id
        val rnd = new java.util.Random(seed * 6364136223846793005L + 17L)
        val n = 12 + rnd.nextInt(30)
        val base = (0 until n).map(_ => vocab(rnd.nextInt(vocab.length)))
        val words =
          if (id % 10 == 9) base ++ Seq(vocab(((id % 8)).toInt))
          else base
        (id, words.mkString(" "))
      }.toDF("doc_id", "text")
  }

  test("saturated shingle space: raising r collapses candidates, keeps exact recall") {
    val docs = saturatedCorpus(4000)
    val sigs = DedupOps.minhashSignatures(
      DedupOps.hashedShingled(docs, 3).withColumnRenamed("hs", "hs_sig")
        .select(col("doc_id"), col("hs_sig")), 128, "hs_sig")
    val candDefault = DedupOps.lshCandidates(sigs, 4, 32).count()
    val candSteep = DedupOps.lshCandidates(sigs, 8, 16).count()
    // background Jaccard crosses the r=4 threshold (~0.42) on this
    // corpus; the r=8 curve (t≈0.71) prunes the coincidental pairs.
    // The gap WIDENS with n (candidates ~n²/|space| vs true pairs ~n):
    // 51× at the 500k-doc sf10 corpus (SCALE.md). Measured here: 6.5×
    // at 4k docs under the round-8 double-hashed rows, 4.8× under the
    // round-9 independently-seeded rows (correlated rows also inflated
    // BACKGROUND band collisions, so the fix shrinks the numerator);
    // the pin is the collapse, not the exact ratio.
    assert(candDefault > 4 * candSteep,
      s"default $candDefault vs steep $candSteep")
    // and the steeper config still finds the exact minJac-0.8 answer
    val exact = DedupOps.ngramJaccardPairs(docs, minJac = 0.8)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val steep = DedupOps.verifiedNearDups(docs, r = 8, bands = 16)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(steep == exact && exact.nonEmpty,
      s"steep ${steep.size} vs exact ${exact.size}")
  }

  test("chooseBanding: steep ladder on the saturated corpus, default elsewhere") {
    // saturated 4k-doc corpus: background Jaccard crosses the default
    // threshold (~0.42) → the chooser must escalate to r=8/b=16, the
    // measured SCALE.md mitigation
    assert(DedupOps.chooseBanding(saturatedCorpus(4000)) == ((8, 16)))
    // driver corpus (31-word vocab at 500 docs, unsaturated): low
    // background → the default r=4/b=32 survives
    assert(DedupOps.chooseBanding(Tables.documents(spark, sf0)) == ((4, 32)))
    // chooser output feeds verifiedNearDups unchanged: the selected
    // steep ladder still returns the exact minJac answer (recall pin)
    val docs = saturatedCorpus(1000)
    val (r, b) = DedupOps.chooseBanding(docs)
    assert((r, b) == ((8, 16)))
    val exact = DedupOps.ngramJaccardPairs(docs, minJac = 0.8)
      .select("da", "db").as[(Long, Long)].collect().toSet
    val got = DedupOps.verifiedNearDups(docs, r = r, bands = b)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(got == exact && exact.nonEmpty)
  }

  test("chooseBanding: an all-duplicate corpus falls back to the default ladder") {
    // every adjacent pair estimates J ~ 1 >= minJac -> excluded as a
    // true near-dup -> EMPTY background population -> default config
    // (candidates there are intrinsic, not spurious)
    val dup = spark.range(0, 200).select(col("id").as("doc_id"),
      lit("alpha beta gamma delta epsilon zeta eta theta iota kappa").as("text"))
    assert(DedupOps.chooseBanding(dup) == ((4, 32)))
  }

  test("contaminatedPairs finds the planted eval overlap, train-side fraction") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"), // contains eval 10 verbatim
      (2L, "one two three four five six seven eight nine"))  // disjoint
      .toDF("doc_id", "text")
    val eval_ = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // = train 1
      (11L, "totally different benchmark prompt here"))
      .toDF("doc_id", "text")
    val got = graft.operators.DedupOps.contaminatedPairs(train, eval_, minFrac = 0.5)
      .select("train_id", "eval_id", "frac")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 10L, 1.0)))
  }

  test("sharedSubstringStats flags verbatim cross-doc windows, ignores unique text") {
    val boiler = "COPYRIGHT NOTICE ALL RIGHTS RESERVED HEREIN FOREVER " // 52 chars
    val docs = Seq(
      (1L, boiler + "alpha beta gamma delta epsilon zeta"),
      (2L, boiler + "one two three four five six seven"),
      (3L, "completely original text with no shared windows at all here"),
      (4L, "short")) // < 32 chars: no windows, absent from output
      .toDF("doc_id", "text")
    val got = DedupOps.sharedSubstringStats(docs)
      .select("doc_id", "n_windows", "n_shared", "shared_frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(!got.contains(4L))
    // the boilerplate prefix shares windows at positions 0 and 16
    // (both fully inside the 52-char common prefix) between docs 1-2
    assert(got(1L)._3 >= 2 && got(2L)._3 >= 2)
    assert(got(3L)._3 == 0 && got(3L)._4 == 0.0)
    // stride/window accounting: len 59 → positions 0 and 16 → 2 windows
    assert(got(3L)._2 == 2)
  }

  test("bloomContaminatedPairs ≡ contaminatedPairs (bloom prefilter is exact)") {
    // real corpus slice so the bloom sees enough distinct shingles to
    // make false positives plausible (and the confirm join provably
    // removes them); mod-5 split mirrors the q_bloom_decontaminate gate
    val docs = Tables.documents(spark, sf0)
    val train = docs.filter(pmod($"doc_id", lit(5L)) =!= 0)
    val eval_ = docs.filter(pmod($"doc_id", lit(5L)) === 0)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select($"train_id", $"eval_id", round($"frac", 9).as("frac"))
        .as[(Long, Long, Double)].collect().toSet
    val exact = norm(graft.operators.DedupOps.contaminatedPairs(train, eval_, minFrac = 0.25))
    val bloom = norm(graft.operators.DedupOps.bloomContaminatedPairs(train, eval_, minFrac = 0.25))
    assert(bloom == exact)
    assert(exact.nonEmpty) // the equality must not be vacuous
    // a coarse filter (high fpp) must change nothing either — false
    // positives die in the confirm join
    val sloppy = norm(graft.operators.DedupOps.bloomContaminatedPairs(
      train, eval_, minFrac = 0.25, fpp = 0.5))
    assert(sloppy == exact)
  }

  test("editDistancePairs: blocked join finds exactly the <=dist pairs, once each") {
    val docs = Seq(
      (1L, "kitten"), (2L, "sitting"),  // dist 3
      (3L, "kitted"),                   // 1 vs kitten; 4 vs sitting (out)
      (4L, "abcdefgh"),                 // far from everything
      (5L, "kitten"),                   // exact dup of 1 -> dist 0
      (6L, "xyzzy")).toDF("doc_id", "text")
    val got = DedupOps.editDistancePairs(docs, maxDist = 3, keyLen = 16)
      .as[(Long, Long, Int)].collect().toList
    // each unordered pair exactly once (the equal-length branch must
    // not double-emit the (1,5) and (1,3) same-length pairs)
    assert(got.size == got.map(t => (t._1, t._2)).distinct.size)
    assert(got.toSet == Set(
      (1L, 2L, 3), (1L, 3L, 1), (1L, 5L, 0),
      (3L, 5L, 1), (2L, 5L, 3)))
  }

  test("editDistancePairs: pigeonhole blocking across unequal lengths + short branch") {
    val docs = Seq(
      (1L, "aaaabbbbcccc"),   // 12 chars
      (2L, "aaaabbbbcc"),     // 10 chars: 2 deletions from 1
      (3L, "aaaaXbbbcccc"),   // 1 sub vs 1; sub + 2 ins vs 2
      (4L, "zzzzzzzzzzzz"),   // far from everything
      (5L, "ab"),             // short branch (len <= maxDist)
      (6L, "abc"),            // short branch
      (7L, "abcdef"))         // len 6 = 2*maxDist: partner of 6 via short branch
      .toDF("doc_id", "text")
    val got = DedupOps.editDistancePairs(docs, maxDist = 3, keyLen = 16)
      .as[(Long, Long, Int)].collect().toList
    assert(got.size == got.map(t => (t._1, t._2)).distinct.size)
    assert(got.toSet == Set(
      (1L, 2L, 2), (1L, 3L, 1), (2L, 3L, 3),
      (5L, 6L, 1), (6L, 7L, 3)))
  }

  test("editDistancePairs: keyLen truncation bounds the comparison") {
    // identical 4-char prefixes, divergent tails: with keyLen=4 they
    // are dist-0 dups; with a longer key they fall outside maxDist
    val docs = Seq((1L, "abcdXXXXXX"), (2L, "abcdYYYYYY")).toDF("doc_id", "text")
    assert(DedupOps.editDistancePairs(docs, maxDist = 1, keyLen = 4)
      .as[(Long, Long, Int)].collect().toList == List((1L, 2L, 0)))
    assert(DedupOps.editDistancePairs(docs, maxDist = 1, keyLen = 10)
      .count() == 0L)
  }

  test("canonicalDocs: longest member wins, ties to lowest id, singletons kept") {
    val docs = Seq(
      (1L, "aa bb"),             // cluster 1: 2 tokens
      (2L, "aa bb cc dd"),       // cluster 1: 4 tokens -> representative
      (3L, "aa bb cc dd"),       // cluster 1: 4 tokens, higher id loses tie
      (7L, "zz yy xx"),          // singleton
      (9L, "qq")                 // singleton
    ).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "cluster")
    val got = DedupOps.canonicalDocs(docs, clusters)
      .orderBy("doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 1L, 3L), (7L, 7L, 1L), (9L, 9L, 1L)))
  }

  test("jaroLinkage: blocking (prefix + length band) gates exactly; no pair twice") {
    val strs = Seq("martha", "marhta", "marthas", // equal-len + len+1 pairs
      "xartha",    // JW-close to martha but first char differs → BLOCKED out
      "mxrtha",    // shares 'm' but not 'ma' → blocked at default prefixLen=2
      "mar",       // same prefix, |len-6| > 1 → blocked out
      "zzz", "zzz" // duplicate input strings collapse before pairing
    ).toDF("s")
    val got = DedupOps.jaroLinkage(strs, "s", minJw = 0.8, lenSlack = 1)
      .as[(String, String, Long, Long, Double)].collect().toList
    // each unordered pair exactly once BY CONSTRUCTION: equal-length
    // pairs share both registered bands but the join keeps only the
    // canonical band == max(l1, l2) — no post-join DISTINCT exists to
    // mask a double-emit
    assert(got.size == got.map(t => (t._1, t._2)).distinct.size)
    assert(got.map(t => (t._1, t._2)).toSet == Set(
      ("marhta", "martha"), ("marhta", "marthas"), ("martha", "marthas")))
    val jw = got.map(t => ((t._1, t._2), t._5)).toMap
    // the oracle builtin's exact double (CodegenParitySpec pins)
    assert(jw(("marhta", "martha")) == 0.9611111111111111)
    // threshold is inclusive ≥ minJw and filters (xartha never scored)
    assert(got.forall(_._5 >= 0.8))
    // prefixLen=1 (the wider recall dial) re-admits the second-char
    // variant pair while still emitting each pair exactly once
    val wide = DedupOps.jaroLinkage(strs, "s", minJw = 0.8, lenSlack = 1,
        prefixLen = 1)
      .as[(String, String, Long, Long, Double)].collect().toList
    assert(wide.size == wide.map(t => (t._1, t._2)).distinct.size)
    // JW(martha, mxrtha) = 0.9 (5/6 matches, 1-char Winkler prefix)
    assert(wide.map(t => (t._1, t._2)).contains(("martha", "mxrtha")))
    assert(Set(("marhta", "martha"), ("martha", "marthas"))
      .subsetOf(wide.map(t => (t._1, t._2)).toSet))
  }

  test("adaptiveJaroPrefix: natural vocab keeps rung 2; id-dense blocks escalate under the budget") {
    import spark.implicits._
    // natural-text vocabulary: blocks spread over the prefix alphabet,
    // pair load tiny → the smallest rung (full recall) wins
    val natural = Seq("martha", "marhta", "jones", "johns", "smith",
      "smyth", "baker", "barker").toDF("s")
    assert(DedupOps.adaptiveJaroPrefix(natural) === 2)
    // id-shaped vocabulary (the zipf corpus shape, w<rank>): one
    // prefix-2 block per length decade. 5000 strings w1000..w5999
    // (len 5, prefix-2 blocks w1..w5 of 1000 each, two bands) →
    // pairs(2) ≈ 2·5·C(1000,2) ≈ 5.0e6, pairs(3) ≈ 2·50·C(100,2)
    // ≈ 5.0e5 — a 1e6 budget must skip rung 2 and stop at rung 3
    val ids = spark.range(1000, 6000)
      .select(concat(lit("w"), col("id")).as("s"))
    assert(DedupOps.adaptiveJaroPrefix(ids, maxPairs = 1000000L) === 3)
    // and when even the census' measured rungs blow the budget, the
    // steepest rung is the fallback (never an unbounded block)
    assert(DedupOps.adaptiveJaroPrefix(ids, maxPairs = 1000L) === 4)
    // the choice is recall-monotone in the budget: a budget admitting
    // rung 2 returns rung 2 on the same corpus
    assert(DedupOps.adaptiveJaroPrefix(ids, maxPairs = 100000000L) === 2)
  }
}
