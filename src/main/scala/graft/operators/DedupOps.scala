package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{LshBandHashes, WordShingles}

/** Document deduplication for large-scale training-data pipelines:
  * exact (hash groupBy), MinHash+LSH near-dup, SimHash fingerprints and
  * exact n-gram Jaccard. Extends the reference's minhash/LSH material
  * (`Assignment 2/Part_2.pdf` p.4-7, following MMDS 3rd ed. §3.3-3.4)
  * into first-class operators.
  *
  * Scale design (the whole point at 100 TB):
  *  - Signatures are computed per-row inside a single scan — O(k·|set|)
  *    arithmetic, no shuffle, no driver state, no model fit. The
  *    per-row path is tokenize ([[words]], the one regex tokenizer) →
  *    [[graft.functions.WordShingles]] (distinct n-grams, optionally
  *    hashed) → [[graft.functions.MinHashSignature]] →
  *    [[graft.functions.LshBandHashes]]: every step after the regex is
  *    a native codegen'd expression, one loop per row. The portable
  *    `transform(sequence(…), …)` forms they replace run interpreted
  *    (`ArrayTransform` is a `CodegenFallback`), once per shingle and
  *    once per band; CodegenParitySpec keeps them as the reference.
  *  - LSH banding explodes each doc into `bands` bucket keys and
  *    self-joins on (band, bucket): the only wide exchange is keyed by
  *    bucket, whose cardinality grows with the corpus — no all-pairs
  *    term anywhere. Candidate verification joins are bounded by the
  *    candidate count, not N².
  *  - Exact n-gram Jaccard uses an inverted-index join (shuffle keyed
  *    by shingle). Hot shingles skew that key; `maxShingleDf` drops
  *    shingles occurring in more than that many docs (a standard
  *    trick — a shingle shared by half the corpus carries no dedup
  *    signal but O(df²) join work).
  *
  * Banding math: with `sigLen` = r·b hashes, P(candidate | Jaccard s) =
  * 1−(1−s^r)^b (`Part_2.pdf` p.5 Q4a). Defaults r=4, b=32 put the
  * S-curve threshold at (1/32)^(1/4) ≈ 0.42, and the miss probability
  * for a 0.8-Jaccard pair at (1−0.8⁴)³² ≈ 5·10⁻⁸ — effectively exact
  * for verified near-dup extraction at 0.8.
  */
object DedupOps {

  /** Language-agnostic word tokens (dedup ops deliberately use a
    * simpler tokenizer than the reference-parity [[TextOps]] regex) —
    * the one tokenizer every shingling op feeds to the native
    * [[graft.functions.WordShingles]] kernel.
    */
  def words(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** (doc_id, shingles) for docs with at least one shingle: the distinct
    * word n-grams of [[words]], computed by the native
    * [[graft.functions.WordShingles]] kernel (one codegen'd loop per
    * doc). The [[graft.PlanUtils.spread]] barrier keeps the
    * tokenize→shingle tree above an exchange so it parallelizes on
    * single-split input.
    */
  def shingled(docs: DataFrame, n: Int, textCol: String = "text"): DataFrame =
    graft.PlanUtils.spread(docs.select(col("doc_id"), col(textCol)))
      .select(col("doc_id"), WordShingles(words(col(textCol)), n).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** [[shingled]] with each shingle collapsed to its xxHash64 — the
    * form every downstream dedup op actually consumes. Joining,
    * minhashing and intersecting 8-byte longs beats doing the same on
    * multi-word strings (smaller shuffle payload, cheaper compares);
    * a 64-bit collision inside one candidate pair's union is a ~1e-15
    * event and only perturbs the third decimal of a Jaccard estimate,
    * so results are exact in practice. The same
    * [[graft.functions.WordShingles]] kernel dedups the strings and
    * hashes them in one pass.
    */
  def hashedShingled(docs: DataFrame, n: Int, textCol: String = "text"): DataFrame =
    graft.PlanUtils.spread(docs.select(col("doc_id"), col(textCol)))
      .select(col("doc_id"), WordShingles(words(col(textCol)), n, hashed = true).as("hs"))
      .filter(size(col("hs")) > 0)

  /** Exact dedup: one representative (min doc_id) per distinct text,
    * with its multiplicity. Keep-list semantics: `n_copies = 1` rows
    * are unique docs; `> 1` rows deduplicate their group.
    */
  def exactDedup(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"))
      .select("rep_doc_id", "n_copies")

  /** MinHash signatures via the native [[graft.functions.MinHashSignature]]
    * expression — k INDEPENDENTLY SEEDED xxhash64 rows per element
    * (sig[j] = min over elements of xxhash64(h0(e), seed = j); the
    * Kirsch–Mitzenmacher double-hash shortcut was removed in round 9
    * after it broke minwise row independence — see the expression's
    * scaladoc for the diagnosis), one tight loop per row. The reference
    * uses 500 named functions the same conceptual way (`Part_2.pdf`
    * p.4 Q3b); a nested higher-order-function formulation is ~1000×
    * slower in interpreted eval (see the expression's scaladoc).
    * Pure per-row compute, no shuffle.
    */
  def minhashSignatures(sh: DataFrame, k: Int, inputCol: String = "shingles"): DataFrame =
    sh.withColumn("sig", graft.functions.MinHashSignature(col(inputCol), k))

  /** LSH banding: (doc_id, band, bucket) with bucket = hash of the
    * band's signature slice (r values per band), computed by the native
    * [[graft.functions.LshBandHashes]] kernel.
    */
  def lshBands(sigs: DataFrame, r: Int, b: Int): DataFrame =
    sigs.select(col("doc_id"), posexplode(LshBandHashes(col("sig"), r, b)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bucket"))

  /** Candidate pairs: docs sharing ≥1 (band, bucket). Equi self-join
    * on the bucket key (J6 in SURVEY.md §2.3) + pair dedup.
    */
  def lshCandidates(sigs: DataFrame, r: Int, b: Int): DataFrame = {
    val bands = lshBands(sigs, r, b)
    val left = bands.select(col("band"), col("bucket"), col("doc_id").as("da"))
    val right = bands.select(col("band"), col("bucket"), col("doc_id").as("db"))
    left.join(right, Seq("band", "bucket"))
      .filter(col("da") < col("db"))
      .select("da", "db").distinct()
  }

  /** Exact Jaccard of two (distinct-element) array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** End-to-end near-dup extraction: MinHash+LSH candidates, then
    * exact-Jaccard verification at `minJac`. With the default banding
    * the result equals the exact all-pairs answer (miss prob ≈ 5e−8 at
    * 0.8) at a fraction of the cost. Output: (da, db, jac).
    *
    * `rowPrefixMod = Some(m)` enables the MMDS §3.3.6 row-prefix
    * speedup (`Part_2.pdf` p.7 Q4c): signatures are minhashed over only
    * the ~1/m of shingles whose hash ≡ 0 (mod m) — a deterministic
    * sample of the characteristic matrix's rows — cutting signature
    * compute m×. Docs whose sampled set is empty drop out of banding
    * (the "∞ column" case). VERIFICATION still uses the full shingle
    * sets, so emitted pairs are exact; only candidate recall pays, and
    * only by the sampling noise on the Jaccard S-curve.
    */
  /** WHEN TO RAISE `r` (saturated corpora): the default r=4/b=32 puts
    * the banding S-curve threshold at t = (1/32)^(1/4) ≈ 0.42 —
    * candidates are pairs with Jaccard ≳ 0.42. On a corpus whose
    * shingle space saturates (bounded vocabulary: template spam, log
    * lines, short-field data), BACKGROUND similarity between unrelated
    * docs crosses that threshold and the candidate set grows ~n²/|space|
    * while true pairs grow ~n. Measured at the sf10 scaling corpus
    * (500k docs, 31³ shingle space 100% occupied): r=4/b=16·4 →
    * 15.5M candidates for 46,359 true pairs; r=8/b=16 (t ≈ 0.71) →
    * 302,774 candidates (51×) at 99.76% recall of the minJac=0.8
    * answer — the missing 0.24% sit in the S-curve's soft zone
    * exactly at the threshold, the published trade-off (cf.
    * q_neardup_ref). Rule of thumb: keep t comfortably ABOVE the
    * corpus' background Jaccard and below minJac. Open-vocabulary
    * text keeps minting shingles, background similarity stays low,
    * and the default is the right config. [[chooseBanding]] measures
    * this decision from a bounded sample of the actual corpus.
    */
  /** The chooser's BOUNDED sample plan, exposed so PlanShapeSpec can pin
    * the bound: everything [[chooseBanding]] collects flows through this
    * one `limit(sampleSize)` — driver state is ≤ sampleSize × sigLen
    * longs by plan construction, never corpus-sized.
    */
  private[graft] def bandingSamplePlan(docs: DataFrame, sigLen: Int = 128,
      nGram: Int = 3, textCol: String = "text",
      sampleSize: Int = 2048): DataFrame = {
    val sampled = docs.select(col("doc_id"), col(textCol))
      .orderBy(xxhash64(col("doc_id")), col("doc_id"))
      .limit(sampleSize)
    minhashSignatures(hashedShingled(sampled, nGram, textCol), sigLen, "hs")
      .select("sig")
  }

  /** Data-driven (r, bands) chooser — the WHEN-TO-RAISE-r guidance
    * above promoted to code. The blowup statistic is NOT the
    * background Jaccard's upper quantile (even on the measured
    * saturated corpora no random pair reaches the default t ≈ 0.42 —
    * BandingScratch (git show 1128979:src/test/scala/graft/BandingScratch.scala):
    * p99 = 0.125); it is the PAIR POPULATION times the
    * S-curve's tail: expected spurious candidates per doc
    * `mean_i[1 − (1 − Jᵢʳ)ᵇ] · (n−1)/2` over a background-pair sample.
    * On the 4k-doc saturated spec corpus that is 0.65/doc at the
    * default (≈ 6× the true pairs, the measured r7 finding) vs 1e−4
    * at r = 8 — and it grows LINEARLY in n, so the same estimate
    * escalates harder exactly where the sf10 study measured 96×
    * candidate growth.
    *
    * Estimation is bounded: deterministically hash-shuffle the docs,
    * take `sampleSize` (driver state ≤ sampleSize × sigLen longs,
    * never corpus-sized), minhash distributed, estimate each
    * hash-adjacent pair's Jaccard by signature-component agreement
    * (unbiased, σ ≈ √(J(1−J)/sigLen)). Hash-adjacent pairs are
    * overwhelmingly UNRELATED; estimates ≥ minJac are true near-dups
    * and excluded from the background population.
    *
    * Selection: the escalation ladder (4, k/4) → (8, k/8) → (16, k/16).
    * r = 4 has the best recall at the threshold (miss ≈ 5e−8 at
    * J = 0.8), so the SMALLEST r whose expected spurious load is
    * ≤ `maxSpuriousPerDoc` wins; the steepest ladder is the fallback
    * when even r = 16 can't contain a pathologically self-similar
    * corpus. Open-vocab corpora keep the default; the saturated spec
    * corpus selects r = 8 — the measured SCALE.md mitigation (51×
    * candidate cut, 99.76% recall at the 500k-doc sf10 corpus). Cost:
    * one count + one limit-job + a driver-local pass — run once per
    * corpus, not per query.
    */
  def chooseBanding(docs: DataFrame, minJac: Double = 0.8, sigLen: Int = 128,
      nGram: Int = 3, textCol: String = "text", sampleSize: Int = 2048,
      maxSpuriousPerDoc: Double = 0.1): (Int, Int) = {
    require(sampleSize >= 64, "need >= 64 sampled docs for a stable estimate")
    val nDocs = docs.count()
    val sigs = bandingSamplePlan(docs, sigLen, nGram, textCol, sampleSize)
      .collect()
      .map(_.getSeq[Long](0).toArray)
    val ests = sigs.sliding(2, 2).collect { case Array(a, b) =>
      var eq = 0
      var i = 0
      while (i < sigLen) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / sigLen
    }.filter(_ < minJac).toArray
    val ladder = Seq(4, 8, 16).filter(sigLen % _ == 0).map(r => (r, sigLen / r))
    if (ests.isEmpty) ladder.head
    else ladder.find { case (r, b) =>
      val meanP = ests.map(j => 1.0 - math.pow(1.0 - math.pow(j, r), b)).sum / ests.length
      meanP * (nDocs - 1) / 2.0 <= maxSpuriousPerDoc
    }.getOrElse(ladder.last)
  }

  def verifiedNearDups(docs: DataFrame, nGram: Int = 3, sigLen: Int = 128,
      r: Int = 4, bands: Int = 32, minJac: Double = 0.8,
      textCol: String = "text", rowPrefixMod: Option[Long] = None,
      sigBase: Option[DataFrame] = None): DataFrame = {
    // The shingle+signature base feeds three plan branches (banding,
    // left verify, right verify); persist so the CPU-heavy tokenize →
    // shingle → hash → minhash work runs once. MEMORY_AND_DISK: at
    // cluster scale the base (~1 KB/doc) spills rather than OOMs.
    // `sigBase` lets a caller that ALREADY holds this (doc_id, hs, sig)
    // frame (computed with the same nGram/sigLen/textCol and
    // rowPrefixMod = None) share one corpus tokenize→minhash pass across
    // several pair passes (q_incr_clusters: old-corpus pairs + the
    // incremental batch pairs — guide §6, fewer corpus scans). The
    // caller owns its caching/release; this function caches only the
    // base it computes itself.
    val base = sigBase.getOrElse {
      val hashed = hashedShingled(docs, nGram, textCol)
      val withSig = rowPrefixMod match {
        case None => minhashSignatures(hashed, sigLen, "hs")
        case Some(m) =>
          minhashSignatures(
            hashed.withColumn("hs_sig", filter(col("hs"), h => pmod(h, lit(m)) === 0))
              .filter(size(col("hs_sig")) > 0),
            sigLen, "hs_sig").drop("hs_sig")
      }
      graft.CacheScope.autoRelease(withSig)
    }
    val cand = lshCandidates(base.select("doc_id", "sig"), r, bands)
    verifiedPairs(cand, base, minJac)
  }

  /** Incremental near-dup detection for an ingest batch: near-dup
    * pairs (Jaccard ≥ `minJac`) with AT LEAST ONE side in `newDocs` —
    * new-vs-corpus and new-vs-new, never corpus-vs-corpus. The
    * production ingest shape: a pipeline that re-paired the WHOLE
    * corpus per batch would pay the full LSH self-join on every
    * ingest; here the batch's band table joins the corpus band table
    * once, so per-ingest cost is batch-signature compute + one
    * bucket-keyed join bounded by the batch's collisions.
    *
    * The batch band table is BROADCAST (an ingest batch is orders of
    * magnitude smaller than the corpus), so the corpus side streams
    * map-side with no corpus-wide exchange on the candidate step.
    * Verification joins fetch only candidate docs' shingle sets. At
    * real scale the corpus-side signatures/bands are PERSISTED from
    * prior ingests (a keyed table maintained incrementally — write
    * the batch's bands back after the join); this function recomputes
    * them from `oldDocs` so the gate's oracle can replay everything
    * from first principles (the q_canonical_docs precedent).
    *
    * Same banding recall S-curve as [[verifiedNearDups]] (equality
    * with the exact filtered all-pairs answer on the gate corpora);
    * doc_id spaces of the two inputs must be disjoint.
    */
  def incrementalNearDups(oldDocs: DataFrame, newDocs: DataFrame,
      nGram: Int = 3, sigLen: Int = 128, r: Int = 4, bands: Int = 32,
      minJac: Double = 0.8, textCol: String = "text",
      sigBase: Option[DataFrame] = None): DataFrame = {
    // `sigBase`: caller-provided (doc_id, hs, sig) frame covering
    // old ∪ new — shares the corpus minhash pass with a sibling pair
    // pass (see [[verifiedNearDups]]); caller owns caching/release.
    val base = sigBase.getOrElse {
      val all = oldDocs.select(col("doc_id"), col(textCol))
        .unionByName(newDocs.select(col("doc_id"), col(textCol)))
      graft.CacheScope.autoRelease(
        minhashSignatures(hashedShingled(all, nGram, textCol), sigLen, "hs"))
    }
    val allBands = lshBands(base.select("doc_id", "sig"), r, bands)
    val newBands = allBands
      .join(broadcast(newDocs.select(col("doc_id"))), Seq("doc_id"))
    val cand = allBands
      .select(col("band"), col("bucket"), col("doc_id").as("db"))
      .join(broadcast(newBands
          .select(col("band"), col("bucket"), col("doc_id").as("da"))),
        Seq("band", "bucket"))
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("da"),
        greatest(col("da"), col("db")).as("db"))
      .distinct()
    verifiedPairs(cand, base, minJac)
  }

  /** `cand`'s pairs (da, db) whose `base` shingle sets have Jaccard ≥ `minJac`. */
  private def verifiedPairs(cand: DataFrame, base: DataFrame,
      minJac: Double): DataFrame = {
    val sa = base.select(col("doc_id").as("da"), col("hs").as("sha"))
    val sb = base.select(col("doc_id").as("db"), col("hs").as("shb"))
    cand.join(sa, "da").join(sb, "db")
      .withColumn("jac", jaccard(col("sha"), col("shb")))
      .filter(col("jac") >= minJac)
      .select("da", "db", "jac")
  }

  /** Exact n-gram Jaccard pairs via inverted-index join — the
    * brute-force (but still N·df-bounded, never N²) baseline the LSH
    * path approximates.
    *
    * EXACT up to the default `maxShingleDf` skew guard: shingles shared
    * by more docs than the cap are dropped from the INTERSECTION counts
    * (set sizes stay full), so a capped hot shingle biases affected
    * pairs' jac downward — by design, since a shingle in >1000 docs
    * carries no dedup signal but O(df²) join cost. Pass `None` for the
    * strictly exact answer (what the test corpora exercise: their max
    * df is far below the cap, so results are identical and the DuckDB
    * oracle — which never caps — hash-matches).
    */
  def ngramJaccardPairs(docs: DataFrame, nGram: Int = 3, minJac: Double = 0.5,
      maxShingleDf: Option[Long] = Some(1000L), textCol: String = "text"): DataFrame =
    pairIntersections(docs, nGram, maxShingleDf, textCol)
      .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= minJac)
      .select("da", "db", "jac")

  /** Overlap-coefficient (containment) pairs: C(A,B) = |A∩B| /
    * min(|A|,|B|). The dedup criterion Jaccard structurally MISSES:
    * a short doc fully embedded in a long one has C = 1 but jac ≈
    * |short|/|long| → 0, so quote-expansion / boilerplate-wrapping
    * duplicates survive a Jaccard gate no matter the threshold.
    * Same inverted-index plan as [[ngramJaccardPairs]] — only the
    * final score differs; identical df-cap semantics.
    */
  def overlapPairs(docs: DataFrame, nGram: Int = 3, minOverlap: Double = 0.8,
      maxShingleDf: Option[Long] = Some(1000L), textCol: String = "text"): DataFrame =
    pairIntersections(docs, nGram, maxShingleDf, textCol)
      .withColumn("ovl", col("inter").cast("double") / least(col("na"), col("nb")))
      .filter(col("ovl") >= minOverlap)
      .select("da", "db", "ovl")

  /** Shared inverted-index core of the exact pair family: distinct
    * n-gram shingle sets → posting lists → in-row pair generation →
    * (da, db, inter, na, nb). One shuffle keyed by shingle hash builds
    * the index, then co-occurring pairs are generated inside each
    * posting row (d·(d−1)/2 per posting) — no self-join, so the
    * expensive tokenize→shingle scan runs once and the only wide
    * exchanges are (shingle → posting) and (pair → count). A shingle
    * shared by df docs still costs O(df²) pairs — that's the problem's
    * output size, not a plan artifact; `maxShingleDf` drops
    * uninformative hot shingles to bound it (and the per-row skew).
    */
  private def pairIntersections(docs: DataFrame, nGram: Int,
      maxShingleDf: Option[Long], textCol: String): DataFrame = {
    // two consumers (posting build + set sizes) → persist one tokenize
    // (query-scoped: auto-released when the consuming query finishes)
    val sh = graft.CacheScope.autoRelease(hashedShingled(docs, nGram, textCol))
    val posts = sh.select(col("doc_id"), explode(col("hs")).as("h"))
      .groupBy("h").agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    // The cap is ON by default: one shingle shared by df docs costs
    // O(df²) pairs — at 1M docs an uncapped hot shingle alone generates
    // 5·10¹¹ rows. Dropped postings are reported as an `observe` metric
    // (visible to any QueryExecutionListener) rather than silently; the
    // metric name is per-invocation unique so two pair sets can be
    // unioned/joined in one plan (duplicate observed-metric names are
    // an AnalysisException).
    val capped = maxShingleDf.fold(posts)(m =>
      posts.observe(s"ngram_jaccard_df_cap_${DedupOps.ObserveSeq.incrementAndGet()}",
          sum(when(size(col("ds")) > m, 1L).otherwise(0L)).as("dropped_hot_shingles"))
        .filter(size(col("ds")) <= m))
    // native Generator: streams d(d−1)/2 (da, db) rows per posting with
    // no interpreted closure tree (see PostingPairs scaladoc)
    val pairs = capped.select(graft.functions.PostingPairs(col("ds")))
    val inter = pairs.groupBy("da", "db").agg(count(lit(1)).as("inter"))
    val sizes = sh.select(col("doc_id"), size(col("hs")).cast("long").as("n"))
    inter.join(sizes.select(col("doc_id").as("da"), col("n").as("na")), "da")
      .join(sizes.select(col("doc_id").as("db"), col("n").as("nb")), "db")
  }

  /** Test-set decontamination: train docs sharing at least `minFrac`
    * of their distinct n-gram shingles with ANY eval doc — the overlap
    * check every training-data pipeline must run against its benchmark
    * suite before training. Output: (train_id, eval_id, frac) per
    * contaminated pair, where frac = |shingles(train) ∩ shingles(eval)|
    * / |shingles(train)| (train-side containment: a short eval prompt
    * embedded verbatim in a long train doc still scores high on the
    * EVAL side — which is why the fraction is computed against the
    * train doc's own set; flip the arguments for the other direction).
    *
    * Scale shape: the eval side is benchmark-sized (thousands of docs
    * vs the corpus' billions), so its exploded posting list BROADCASTS
    * — the train side streams through one scan with NO wide exchange
    * until the (train, eval) intersection counts, which are bounded by
    * true near-matches, not the corpus size. 64-bit shingle hashing as
    * in [[hashedShingled]] (collision odds documented there).
    */
  def contaminatedPairs(train: DataFrame, eval: DataFrame, nGram: Int = 3,
      minFrac: Double = 0.5, textCol: String = "text",
      broadcastEval: Boolean = true): DataFrame = {
    // two consumers of the train shingles (postings + sizes) → persist
    // the tokenize→shingle→hash scan once (query-scoped auto-release)
    val tr = graft.CacheScope.autoRelease(hashedShingled(train, nGram, textCol))
    val ev = hashedShingled(eval, nGram, textCol)
    val trPost = tr.select(col("doc_id").as("train_id"), explode(col("hs")).as("h"))
    val evPost0 = ev.select(col("doc_id").as("eval_id"), explode(col("hs")).as("h"))
    // benchmark-sized eval sets broadcast (the default); pass false for
    // an eval side too big to ship whole — the join then shuffles both
    // sides on the shingle key like ngramJaccardPairs
    val evPost = if (broadcastEval) broadcast(evPost0) else evPost0
    val inter = trPost.join(evPost, "h")
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("inter"))
    val trSz = tr.select(col("doc_id").as("train_id"), size(col("hs")).cast("long").as("n"))
    inter.join(trSz, "train_id")
      .withColumn("frac", col("inter").cast("double") / col("n"))
      .filter(col("frac") >= minFrac)
      .select("train_id", "eval_id", "frac")
  }

  /** [[contaminatedPairs]] with a Bloom-filter prefilter — the shape for
    * an eval/blocklist side too big to BROADCAST as a join table but
    * whose BLOOM fits comfortably (at fpp 1% a Bloom costs ~9.6 bits
    * per distinct shingle vs 128+ bits for the (hash, doc_id) posting
    * row, a ~13× reduction; an eval suite of 10⁹ shingles is a ~1.2 GB
    * broadcast as a Bloom vs ~16 GB as postings). The filter is built
    * in ONE distributed aggregation (`stat.bloomFilter`), broadcast,
    * and applied map-side to the train posting stream BEFORE the
    * shuffled confirm join — so the wide exchange carries only true
    * matches plus the fpp fraction of the corpus, not every shingle of
    * every train doc.
    *
    * EXACT by construction, not approximate: a Bloom has no false
    * negatives, so the prefilter only drops postings that cannot match,
    * and the confirm join (exact hash equality) eliminates the false
    * positives. Output ≡ [[contaminatedPairs]] row for row — which is
    * exactly how the driver gate proves it.
    *
    * The membership probe is a Scala UDF (the one public API to a
    * broadcast `util.sketch.BloomFilter`); it sits on a narrow
    * already-exploded stream where the codegen break costs a method
    * call per posting — the native-Expression upgrade path exists but
    * buys nothing measurable here.
    */
  def bloomContaminatedPairs(train: DataFrame, eval: DataFrame, nGram: Int = 3,
      minFrac: Double = 0.5, textCol: String = "text", fpp: Double = 0.01,
      evalDfCap: Long = 0L): DataFrame = {
    val spark = train.sparkSession
    val tr = graft.CacheScope.autoRelease(hashedShingled(train, nGram, textCol))
    // The eval postings are scanned three times (sizing count, bloom
    // build, confirm join) and deliberately NOT cached: CacheScope
    // releases on the FIRST consuming execution (the count here — the
    // confirm join would recompute anyway), and three passes over the
    // benchmark-sized side is the honest cost of building the filter.
    // At real scale the sizing count comes from blocklist metadata, not
    // a scan.
    val ev0 = hashedShingled(eval, nGram, textCol)
      .select(col("doc_id").as("eval_id"), explode(col("hs")).as("h"))
    // evalDfCap > 0 engages STOP-SHINGLE removal: shingles present in
    // more than `evalDfCap` eval docs are dropped from BOTH sides
    // before the confirm join. A shingle shared by every doc certifies
    // nothing about contamination but contributes |train|·df join rows;
    // on a corpus whose shingle space saturates (bounded vocabulary —
    // template spam, log lines, the synthetic scaling corpus) the exact
    // join's OUTPUT grows quadratically with corpus size and the cap is
    // the standard mitigation (measured 58 → 5 s at the scaling
    // study's sf1, SCALE.md). `frac` then counts only informative
    // shingles — a LOWER bound on true overlap, so capped results stay
    // conservative for keep/drop decisions. Default 0 = off: the gated
    // query is exact and the driver oracle proves it.
    val ev =
      if (evalDfCap <= 0) ev0
      else {
        val hot = ev0.groupBy("h").agg(count(lit(1)).as("__df"))
          .filter(col("__df") > evalDfCap).select("h")
        // the hot set is tiny by Zipf (and ≤ shingle-space-sized even
        // degenerate) → broadcast anti-join, map-side on the big stream
        ev0.join(broadcast(hot), Seq("h"), "left_anti")
      }
    // total postings as expectedNumItems: an upper bound on distinct
    // shingles (over-sizing only lowers the realized fpp)
    val nPost = ev.count()
    val trPost0 = tr.select(col("doc_id").as("train_id"), explode(col("hs")).as("h"))
    // Empty probe set (an aggressive df cap on a saturated shingle
    // space can drop EVERY posting — first seen at the sf10 scaling
    // audit): Spark's stat.bloomFilter returns a null buffer on an
    // empty input and NPEs; the Bloom of an empty set contains
    // nothing, so the prefilter is `false` — same plan shape, zero
    // survivors, and the confirm join correctly yields no pairs.
    val trPost =
      if (nPost == 0) trPost0.filter(lit(false))
      else {
        val bf = ev.stat.bloomFilter("h", nPost, fpp)
        val bfB = spark.sparkContext.broadcast(bf)
        val mightContain = udf((h: Long) => bfB.value.mightContainLong(h))
        trPost0.filter(mightContain(col("h")))
      }
    // confirm join deliberately UNHINTED (the eval side is modeled as
    // too big to broadcast): both sides shuffle on the shingle key, but
    // the train side arrives pre-thinned by the Bloom
    val inter = trPost.join(ev, "h")
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("inter"))
    val trSz = tr.select(col("doc_id").as("train_id"), size(col("hs")).cast("long").as("n"))
    inter.join(trSz, "train_id")
      .withColumn("frac", col("inter").cast("double") / col("n"))
      .filter(col("frac") >= minFrac)
      .select("train_id", "eval_id", "frac")
  }

  /** Exact-substring duplication stats — the character-window method
    * (cf. Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": repeated ≥ k-char substrings, approximated here by
    * fixed windows on a stride instead of a suffix array, which is the
    * standard distributed relaxation). Each doc's distinct
    * `window`-char substrings at `stride` offsets are hashed; a window
    * appearing in ≥ 2 docs marks VERBATIM cross-doc duplication —
    * boilerplate, licenses, syndicated text — that token-level
    * n-gram Jaccard smooths over. Output per doc: n_windows, n_shared
    * (windows also present in another doc), shared_frac.
    *
    * Scale shape: identical to the inverted-index pattern of
    * [[TextAnalysisOps.rareBigramStats]] — window scan persisted
    * query-scoped for its two consumers, window-frequency aggregate
    * partial-combined, join on the 64-bit hash with no amplification.
    * Postings are distinct-per-doc, so the frequency IS document
    * frequency. 64-bit hash collisions (odds documented at
    * [[hashedShingled]]) could merge two distinct windows; the driver
    * gate's string-side oracle bounds the realized risk.
    */
  def sharedSubstringStats(docs: DataFrame, window: Int = 32, stride: Int = 16,
      textCol: String = "text"): DataFrame = {
    val eligible = docs.filter(length(col(textCol)) >= window)
    val wins = graft.CacheScope.autoRelease(
      graft.PlanUtils.spread(eligible.select(col("doc_id"), col(textCol)))
        .select(col("doc_id"),
          array_distinct(transform(
            sequence(lit(0),
              floor((length(col(textCol)) - window) / lit(stride)).cast("int")),
            i => xxhash64(col(textCol).substr(i * stride + 1, lit(window))))).as("hs")))
    val post = wins.select(col("doc_id"), explode(col("hs")).as("h"))
    val dfreq = post.groupBy("h").agg(count(lit(1)).as("df"))
    post.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("df") >= 2L, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("shared_frac", col("n_shared").cast("double") / col("n_windows"))
  }

  /** Edit-distance near-dup pairs over a bounded prefix key — the
    * record-linkage member of the dedup family (titles, URLs, product
    * names: strings that differ by a few character edits rather than
    * by token-level shingles). Compares the first `keyLen` chars of
    * `textCol` (bounding the O(len²) Levenshtein DP per candidate) and
    * returns every unordered pair with distance ≤ `maxDist`.
    *
    * Blocking is the partition scheme of PASS-JOIN (Li, Deng, Feng —
    * ICDE 2011, public): split the SHORTER side of a candidate pair
    * into `maxDist+1` segments; ≤ maxDist edits cannot touch every
    * segment, so at least one survives VERBATIM in the longer string,
    * displaced by at most maxDist positions. The index side emits its
    * d+1 segments keyed (len, segIdx, segment); the probe side emits
    * every substring that could be such a surviving segment — a
    * bounded ≤ (d+1)²·(2d+1) fan-out per row. Candidates share an
    * exact segment string, so blocks are CONTENT-diverse: unlike
    * naive length-banding (which collapses to one giant block when a
    * prefix key truncates most strings to equal length), hot-block
    * size is bounded by segment-value frequency, and the threshold
    * Levenshtein (early-exit DP) runs only on segment-sharing pairs.
    * Strings shorter than d+1 chars can't donate d+1 segments and go
    * through a dedicated tiny-side branch (partner length ≤ 2d by the
    * length filter, so that cross join is bounded by the count of
    * near-empty keys). The gated query's oracle computes UNBLOCKED
    * all-pairs distances — equality is a completeness proof for the
    * pigeonhole blocking, same as the ANN recall gates.
    */
  def editDistancePairs(docs: DataFrame, maxDist: Int, keyLen: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(maxDist >= 0 && keyLen > 0, "need maxDist >= 0 and keyLen > 0")
    val d = maxDist
    val nSeg = d + 1
    val keyed = docs.select(col(idCol).as("__id"),
        substring(col(textCol), 1, keyLen).as("__k"))
      .withColumn("__len", length(col("__k")))
    val long = graft.CacheScope.autoRelease(
      keyed.filter(col("__len") >= nSeg))
    // Even partition of a length-LB key into nSeg segments: the first
    // nSeg−rem get base chars, the last rem get base+1 (deterministic;
    // any fixed scheme works — both sides must just agree on it).
    def segLen(lb: String, i: String) =
      s"(($lb div $nSeg) + if($i >= ($nSeg - ($lb % $nSeg)), 1, 0))"
    def segStart(lb: String, i: String) =
      s"($i * ($lb div $nSeg) + greatest(0, $i - ($nSeg - ($lb % $nSeg))))"
    val idx = long.select(col("__id").as("id_b"), col("__k").as("__kb"),
      explode(expr(
        s"""transform(sequence(0, $d), i -> named_struct(
           |  'lb', __len, 'seg', i,
           |  's', substring(__k, ${segStart("__len", "i")} + 1,
           |                 ${segLen("__len", "i")})))""".stripMargin))
        .as("e"))
      .select(col("id_b"), col("__kb"), col("e.*"))
    // Probe: for each candidate shorter-length lb and segment i, every
    // substring of this key with the segment's length, within ±d of
    // the segment's home position (the pigeonhole displacement bound).
    // Both window bounds are ≥ the lower one by construction (lb ≤ la),
    // so sequence() never flips descending.
    val prb = long.select(col("__id").as("id_a"), col("__k").as("__ka"),
      col("__len").as("__la"),
      explode(expr(
        s"""flatten(transform(sequence(greatest($nSeg, __len - $d), __len),
           |  lb -> flatten(transform(sequence(0, $d), i ->
           |    transform(
           |      sequence(greatest(0, ${segStart("lb", "i")} - $d),
           |               least(__len - ${segLen("lb", "i")},
           |                     ${segStart("lb", "i")} + $d)),
           |      p -> named_struct('lb', lb, 'seg', i,
           |        's', substring(__k, p + 1, ${segLen("lb", "i")})))))))"""
          .stripMargin)).as("e"))
      .select(col("id_a"), col("__ka"), col("__la"), col("e.*"))
    val longPairs = prb.join(idx, Seq("lb", "seg", "s"))
      .filter(col("lb") < col("__la") ||
        (col("lb") === col("__la") && col("id_b") < col("id_a")))
      .select(col("id_a"), col("id_b"), col("__ka"), col("__kb"))
      .distinct()
      .withColumn("dist", levenshtein(col("__ka"), col("__kb"), d))
      .filter(col("dist") >= 0)
    // Keys too short to partition: their partners are within d of a
    // ≤ d-char string, i.e. ≤ 2d chars — both sides tiny by length.
    val shortA = keyed.filter(col("__len") < nSeg)
    val shortB = keyed.filter(col("__len") <= 2 * d)
    val shortPairs = shortA.alias("a")
      .join(shortB.alias("b"),
        col("a.__len") < col("b.__len") ||
          (col("a.__len") === col("b.__len") && col("a.__id") < col("b.__id")))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__k").as("__ka"), col("b.__k").as("__kb"))
      .withColumn("dist", levenshtein(col("__ka"), col("__kb"), d))
      .filter(col("dist") >= 0)
    longPairs.unionByName(shortPairs)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("dist"))
  }

  /** SimHash fingerprint (60 usable bits so the BIGINT stays positive
    * in every engine): bit i of the signature is the sign of
    * Σ_tokens tf·(±1) where the ±1 is bit i of a 60-bit md5-derived
    * token hash. Near-dup docs differ in few bits (Charikar 2002).
    * Engine-portable by construction (md5 + integer bit ops only).
    *
    * The whole signature is the native [[graft.functions.Md5SimHash]]
    * kernel — one shuffle-free projection per doc (the earlier
    * formulation exploded 60× and shuffled twice). Docs with no tokens
    * are dropped, matching the explode-based semantics.
    */
  def simhash(docs: DataFrame, bits: Int = 60, textCol: String = "text"): DataFrame =
    graft.PlanUtils.spread(docs.select(col("doc_id"), col(textCol)))
      .select(col("doc_id"), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) > 0)
      .select(col("doc_id"), graft.functions.Md5SimHash(col("__ws"), bits).as("sig"))

  /** Hamming distance between two simhash signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs via PIGEONHOLE BLOCKING (Manku, Jarlin &
    * Sarma, WWW'07 — the web-crawl dedup construction): two
    * signatures within `maxHamming` bits of each other must agree
    * EXACTLY on at least one of `maxHamming + 1` disjoint bit blocks,
    * so candidate generation is an equality self-join on
    * (block index, block value) — never all-pairs. Candidates are
    * deduped, then exact [[hamming]] filters false positives.
    * Completeness is STRUCTURAL (pigeonhole), so hash-equality with
    * the quadratic all-pairs oracle is a recall proof, not luck.
    *
    * Scale shape: one exchange keyed by (blk, bval). Block width
    * bits/(maxHamming+1) bounds expected bucket size — 15-bit blocks
    * put background collisions near n²·(h+1)/2^15 total, and AQE
    * splits any hot bucket; nothing quadratic ever materializes
    * unless the OUTPUT is (reference scale path: same role as the
    * raised-r MinHash banding, DedupScaleScratch (git show
    * c42b6cf:src/test/scala/graft/DedupScaleScratch.scala)).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, bits: Int = 60,
      textCol: String = "text"): DataFrame =
    hammingPairs(simhash(docs, bits, textCol)
      .select(col("doc_id").as("id"), col("sig")), maxHamming, bits)

  /** The pigeonhole block join behind [[simhashPairs]], generic over
    * ANY (id, sig) signature table — SimHash text fingerprints,
    * perceptual image hashes ([[MultimodalOps.pngAHash]]), audio
    * chromaprints. `bits` must be positive-BIGINT-safe (≤ 63) and
    * divide into `maxHamming + 1` equal blocks. One exchange keyed by
    * (blk, bval); emits (id_a, id_b, hamming) with hamming ≤
    * `maxHamming`, complete by the pigeonhole principle.
    */
  def hammingPairs(sigs: DataFrame, maxHamming: Int, bits: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    require(bits > 0 && bits < 64, s"bits=$bits must fit a positive BIGINT")
    require(bits % nBlocks == 0, s"bits=$bits must split into $nBlocks equal blocks")
    val blockBits = bits / nBlocks
    val mask = (1L << blockBits) - 1
    // pin the banded signature table: the self-join would otherwise
    // evaluate the signature kernel (tokenize + md5 per doc for
    // simhash; a full codec decode for image hashes) TWICE
    val banded = graft.CacheScope.autoRelease(
      sigs.select(col("id"), col("sig"),
          explode(sequence(lit(0), lit(nBlocks - 1))).as("blk"))
        .withColumn("bval",
          expr(s"shiftright(sig, cast(blk * $blockBits as int)) & ${mask}L")))
    // Dedup WITHOUT a candidate-sized exchange: a pair matching k
    // blocks would surface k times, so keep only the FIRST matching
    // block (all lower blocks must differ) — an UNROLLED primitive
    // bit check on sigA⊕sigB (stays in whole-stage codegen; a
    // higher-order exists() here ran 9× slower interpreted) replacing
    // the `.distinct()` whose candidate-sized shuffle dominated on
    // signature-skewed corpora (saturated-vocab sf1: 390M candidates
    // for 6.4M pairs — SimhashScaleScratch (git show
    // dfcb6e2:src/test/scala/graft/SimhashScaleScratch.scala)). The hamming cut runs
    // FIRST so the block check sees only output-sized survivors;
    // nothing wide ever sees the candidate stream.
    val xorAb = col("__sa").bitwiseXOR(col("__sb"))
    val firstMatch = (0 until nBlocks - 1).map { j =>
      (col("__blk") <= j) ||
        (shiftright(xorAb, j * blockBits).bitwiseAND(lit(mask)) =!= 0)
    }.reduce(_ && _)
    banded.alias("a").join(banded.alias("b"),
        col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("__sa"), col("b.sig").as("__sb"), col("a.blk").as("__blk"))
      .withColumn("hamming", hamming(col("__sa"), col("__sb")))
      .filter(col("hamming") <= maxHamming && firstMatch)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Connected components over a near-dup PAIR graph — the step that
    * turns pairwise `(da, db)` output ([[verifiedNearDups]],
    * [[ngramJaccardPairs]]) into what a dedup pipeline actually ships:
    * one cluster id (= min doc_id of the component) per involved doc,
    * so "keep the representative, drop the rest" is a single filter.
    * Transitivity matters: A≈B and B≈C must collapse to ONE group even
    * when (A, C) never passed the similarity bar.
    *
    * Algorithm: iterative min-label propagation with DEFERRED POINTER
    * JUMPING. Every node starts as its own label; each round takes the
    * min of its own and its neighbors' labels (one edge join + one
    * aggregate). From round [[JumpAfter]] on, each round additionally
    * shortcuts through the label forest — label(x) := label(label(x)),
    * one label-keyed self-join (sound because every label value is
    * itself a node id whose label only ever decreases, so the jump
    * always lands ≤ the current label). The jump doubles the distance
    * already covered, so total rounds are O(log diameter) instead of
    * O(diameter) — a 10k-document duplicate CHAIN (template spam is
    * exactly this shape) converges in ~18 rounds where plain
    * propagation would need 10k and fail fast at `maxIter` (pinned by
    * DedupOpsSpec: a 120-node path closes within 10 rounds). Deferring
    * the jump matters for the COMMON case: near-dup graphs are
    * overwhelmingly tiny cliques (diameter ≤ ~3) that converge before
    * round [[JumpAfter]] and never pay the jump join's two extra
    * exchanges (measured 2.1 vs 4.7 s on the sf0.1 graph when jumping
    * unconditionally — per-round stage latency, not data). Exchanges
    * stay keyed by node/label id — no driver state, nothing quadratic.
    * The driver-side loop holds ONE scalar per round (the label-sum
    * fixpoint check: labels only ever decrease, so an unchanged sum IS
    * convergence). Per-round pins and checkpoints are released as soon
    * as the next round materializes (the standard iterative-caching
    * pattern).
    *
    * Fail-fast: refuses (IllegalStateException) if `maxIter` rounds
    * don't converge rather than returning half-merged clusters.
    */
  /** Plain-propagation rounds before pointer jumping engages: tiny-
    * clique graphs (the near-dup norm) converge inside this budget and
    * never pay the jump join; anything still moving after it is a
    * long-diameter component that needs the O(log d) path.
    */
  private val JumpAfter = 3

  def nearDupClusters(pairs: DataFrame, maxIter: Int = 30): DataFrame =
    graft.CacheScope.pinned { p =>
      // pin the edge list for the LOOP's lifetime: every round joins
      // against it, and without the pin each round would re-evaluate the
      // whole upstream pair pipeline (measured 6.0 s → 2.5 s at sf0.1 on
      // the LSH near-dup graph). It releases at return — each round's
      // label-sum action has already MATERIALIZED that round's labels,
      // so the caller's action reads the label checkpoint, never the
      // edge lineage.
      val edges = p(pairs.select(col("da").as("src"), col("db").as("dst"))
        .union(pairs.select(col("db").as("src"), col("da").as("dst"))))
      var labels = p(edges.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")))
      // empty pair set (e.g. a quiet ingest batch): sum over no rows is
      // null — return the empty assignment instead of NPEing on it
      val sum0 = labels.agg(sum("label")).head()
      if (!sum0.isNullAt(0)) {
        var prevSum = sum0.getLong(0)
        var converged = false
        var i = 0
        while (!converged && i < maxIter) {
          // neighbor min-propagation
          val prop0 = edges.join(labels, edges("dst") === labels("node"))
            .select(edges("src").as("node"), col("label"))
            .union(labels)
            .groupBy("node").agg(min("label").as("label"))
          // still not settled after JumpAfter rounds → a long-diameter
          // component exists; engage pointer jumping (label(x) :=
          // label(label(x)) — the inner join is total because every label
          // value is a node id present in `prop`)
          val jumping = i >= JumpAfter
          val prop = if (jumping) p(prop0) else prop0
          // localCheckpoint, not persist: every round's plan references
          // the previous round's frame TWICE (edge join + union; the jump
          // join twice again), so without lineage truncation the LOGICAL
          // plan doubles per round — 2^rounds nodes whose execution-id
          // explain string OOMs the driver long before the (node-sized)
          // data is any problem. The checkpoint caches the same blocks a
          // persist would.
          val next = p.checkpoint(
            if (!jumping) prop
            else prop
              .join(prop.select(col("node").as("__ln"), col("label").as("__ll")),
                col("label") === col("__ln"))
              .select(col("node"), col("__ll").as("label")))
          val nextSum = next.agg(sum("label")).head().getLong(0)
          // next is materialized: the previous round's blocks are dead
          if (jumping) p.release(prop)
          p.release(labels)
          labels = next
          converged = nextSum == prevSum
          prevSum = nextSum
          i += 1
        }
        if (!converged)
          throw new IllegalStateException(
            s"nearDupClusters did not converge in $maxIter rounds")
      }
      labels.select(col("node").as("doc_id"), col("label").as("cluster"))
    }

  /** Incremental cluster maintenance for an ingest batch — the
    * companion to [[incrementalNearDups]]: fold the batch's pairs into
    * EXISTING cluster assignments without re-clustering the corpus.
    * Old clusters enter the connected-components pass as SUPERNODES
    * (their representative label stands in for every member), so the
    * graph the iteration runs on is bounded by the BATCH's pairs —
    * touched clusters + new docs — never the corpus.
    *
    * Output: the maintained full assignment (doc_id, cluster) —
    * untouched old clusters pass through unchanged (no shuffle beyond
    * one rep-keyed join), touched old clusters are relabeled to their
    * merged component, and new docs get their component label. Because
    * every old representative IS its component's min doc id, the
    * composed min-labels equal a from-scratch clustering of
    * (old pairs ∪ batch pairs) — the gate proves maintenance ≡
    * recompute by hash equality (the q_incr_agg construction).
    */
  def incrementalClusters(oldClusters: DataFrame, batchPairs: DataFrame,
      maxIter: Int = 30): DataFrame = {
    // endpoints of batch pairs → supernode: an old doc is represented
    // by its cluster label; a doc without an old cluster (new, or old
    // but previously pairless) represents itself
    val oc = graft.CacheScope.autoRelease(
      oldClusters.select(col("doc_id"), col("cluster")))
    val sup = batchPairs
      .join(oc.select(col("doc_id").as("da"), col("cluster").as("ca")),
        Seq("da"), "left")
      .join(oc.select(col("doc_id").as("db"), col("cluster").as("cb")),
        Seq("db"), "left")
      .select(coalesce(col("ca"), col("da")).as("da"),
        coalesce(col("cb"), col("db")).as("db"))
      .filter(col("da") =!= col("db"))
    // CC over the supernode graph: batch-bounded, not corpus-bounded
    val cc = graft.CacheScope.autoRelease(
      nearDupClusters(sup, maxIter)
        .select(col("doc_id").as("supernode"), col("cluster").as("merged")))
    // old docs: relabel if their cluster's rep merged; else pass through
    val oldOut = oc
      .join(cc, oc("cluster") === cc("supernode"), "left")
      .select(oc("doc_id"), coalesce(col("merged"), oc("cluster")).as("cluster"))
    // batch-side docs not in oldClusters: direct supernode = own id
    val newOut = cc
      .join(oc.select(col("doc_id").as("supernode")), Seq("supernode"), "left_anti")
      .select(col("supernode").as("doc_id"), col("merged").as("cluster"))
    oldOut.unionByName(newOut)
  }

  /** Canonical-document selection — the KEEP policy that turns near-dup
    * clusters into a deduplicated corpus manifest: every cluster
    * contributes exactly one representative (the member with the most
    * word tokens, ties to the lowest doc_id — "keep the longest", the
    * standard web-dedup policy: the longest member is most often the
    * superset page), and every unclustered doc keeps itself. Output:
    * one row per KEPT doc — (doc_id, cluster, n_members), singletons
    * carrying cluster = doc_id and n_members = 1, so downstream joins
    * need no null handling.
    *
    * Plan: token lengths are a map-only projection; rank and size ride
    * ONE cluster-keyed window exchange; singletons are a key-only
    * anti-join (the membership table is cluster-node-sized, ≪ corpus,
    * so it broadcasts). Composes [[verifiedNearDups]] →
    * [[nearDupClusters]] → this: the full dedup pipeline, each stage
    * oracle-gated.
    */
  def canonicalDocs(docs: DataFrame, clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = docs.select(col("doc_id"),
      size(words(col("text"))).cast("long").as("n_tokens"))
    val wRank = Window.partitionBy("cluster")
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    val ranked = clusters.join(lens, "doc_id")
      .withColumn("__rk", row_number().over(wRank))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster")))
    val reps = ranked.filter(col("__rk") === 1)
      .select(col("doc_id"), col("cluster"), col("n_members"))
    val singles = docs.select("doc_id")
      .join(clusters.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster"),
        lit(1L).as("n_members"))
    reps.unionByName(singles)
  }

  /** Data-chosen blocking prefix for [[jaroLinkage]] — the chooseBanding
    * pattern applied to linkage blocking. The candidate-pair load of a
    * (prefix, lengthBand) blocking is Σ_blocks n·(n−1)/2 over block
    * populations n, and it is corpus-shaped: natural-text vocabularies
    * spread over the prefix alphabet, while id-shaped vocabularies
    * (the zipf audit corpora render words as `w<rank>`) collapse whole
    * rank decades into one prefix-2 block — ~3.6e10 candidates at
    * zipf_sf10, quadratic in the saturated decade. Each extra prefix
    * character divides an id-shaped block by the digit alphabet (block
    * size is capped at 10^(len−p) per decade), so the census walks the
    * ladder {2, 3, 4} and picks the SMALLEST prefix whose exact blocked
    * pair count fits `maxPairs` — maximal recall under a bounded
    * compute budget, the steepest rung as fallback.
    *
    * The census is ONE vocabulary-sized aggregation per rung (the
    * blocked pair count, integer-exact via DIV — a double sum could
    * round apart from the oracle AT the budget boundary), never
    * corpus-sized driver state, and — load-bearing for the gate — it is
    * exactly replayable in ANSI SQL, so q_jaro_winkler's oracle makes
    * the same choice from the same data (scalar-subquery census, CASE
    * ladder). Blocking is PART of blocked-linkage semantics; the prefix
    * escalating on a corpus where prefix-2 would be infeasible is the
    * documented recall trade, priced and replayed, not drift.
    */
  def adaptiveJaroPrefix(strs: DataFrame, strCol: String = "s",
      lenSlack: Int = 1, maxPairs: Long = 1000000000L,
      ladder: Seq[Int] = Seq(2, 3, 4)): Int = {
    require(ladder.nonEmpty && ladder == ladder.sorted, "ladder must ascend")
    ladder.init.iterator
      .map(p => p ->
        jaroCensusPlan(strs, strCol, lenSlack, p).collect()(0).getLong(0))
      .find(_._2 <= maxPairs).map(_._1).getOrElse(ladder.last)
  }

  /** One ladder rung's census frame — the exact blocked pair count of
    * a (prefix `p`, lengthBand) blocking as a ONE-ROW global aggregate
    * (vocabulary-sized group-by → partial+final count-sum; nothing
    * corpus-sized reaches the driver). Factored out of
    * [[adaptiveJaroPrefix]] so PlanShapeSpec can pin the bound: a
    * census change that silently grows the collect past one row, or
    * adds a corpus-sized pre-pass, breaks the pin before it breaks a
    * value.
    */
  private[graft] def jaroCensusPlan(strs: DataFrame, strCol: String,
      lenSlack: Int, p: Int): DataFrame =
    strs.select(col(strCol).as("__s")).distinct()
      .filter(length(col("__s")) > 0)
      .select(col("__s"),
        explode(sequence(length(col("__s")),
          length(col("__s")) + lit(lenSlack))).as("__band"))
      .groupBy(substring(col("__s"), 1, p).as("__c"), col("__band"))
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).as("pairs"))

  /** Jaro–Winkler record linkage over a string-entity table — the
    * fuzzy-match member of the dedup family that edit distance
    * mis-ranks: transposed characters ("marhta"), dropped letters and
    * shared prefixes (product labels, author names) score high under
    * JW while costing 2+ Levenshtein edits. Returns every unordered
    * candidate pair scoring ≥ `minJw`, scored by the native codegen'd
    * [[graft.functions.JaroWinkler]] expression (DuckDB-builtin
    * bit-parity lets the gate publish the raw double).
    *
    * Blocking (the scale path — JW has no metric structure to bucket
    * by, so linkage systems block on cheap invariants): a candidate
    * pair must share the first `prefixLen` characters and differ in
    * length by at most `lenSlack` — both near-universal for true
    * clerical variants (the Winkler boost itself presumes a shared
    * prefix; Winkler's census blocking keys on multi-char prefixes).
    * Each string registers `lenSlack+1` (prefix, lengthBand) keys;
    * matching bands catch exactly the |len diff| ≤ lenSlack pairs, so
    * the join is a pure equi-join Catalyst shuffles on the band key —
    * no length-range theta join. A pair whose lengths differ shares
    * exactly one registered band; an equal-length pair shares all
    * `lenSlack+1` — the join keeps only the CANONICAL band
    * `band == max(l1, l2)` (always in the shared set), so each
    * unordered pair emerges exactly once and the scored-then-filtered
    * stream never passes through a candidate-table-sized DISTINCT
    * exchange (the first form paid that shuffle; on an 800M-candidate
    * corpus it WAS the query).
    *
    * Block population is per-(prefix, length) vocabulary frequency.
    * `prefixLen` is the recall/population dial: 1 keeps every
    * shared-first-letter variant but degenerates on id-shaped
    * vocabularies (the zipf_sf0.1 audit corpus renders words as
    * `w<rank>` — one first char, 7 lengths, so prefixLen=1 collapsed
    * ~80k types into single blocks ≈ 800M candidates); the default 2
    * is the standard linkage compromise — a true JW ≥ 0.75 variant
    * pair differing inside the first two characters is rare (the
    * transposition would have to hit position 1–2), and block counts
    * multiply by the second-character alphabet.
    *
    * Hot blocks are COMPUTE-skewed, not byte-skewed: a 12k-string
    * block is ~240 KB of shuffle data (far under AQE's skew-split
    * threshold) but 144M pair enumerations — one join key, one task,
    * one core (measured: the zipf_sf0.1 corpus ran the whole join at
    * user≈real, 9.3 min on 32 cores). The fix is grid-partitioning
    * the self-join (the all-pairs technique of Vernica et al.,
    * SIGMOD 2010): each string gets a deterministic chunk
    * `hash(s) mod chunkFan`; the left side carries (ownChunk, t) for
    * every t, the right side (u, ownChunk) for every u, and the
    * chunk pair joins as part of the EQUI key — each unordered pair
    * meets in exactly one of the chunkFan² grid cells, so the hot
    * block's quadratic spreads over chunkFan² tasks at a chunkFan×
    * row-replication cost on the (tiny) vocabulary table. Grid
    * chunking never changes the pair set — the oracle replays
    * blocking only.
    *
    * Output: (s1, s2, l1, l2, jw) with s1 < s2, jw a RAW double
    * (deterministic scalar dag from the pinned compute order).
    */
  def jaroLinkage(strs: DataFrame, strCol: String = "s",
      minJw: Double = 0.75, lenSlack: Int = 1, prefixLen: Int = 2,
      chunkFan: Int = 8): DataFrame = {
    require(lenSlack >= 0, "lenSlack must be >= 0")
    require(prefixLen >= 1, "prefixLen must be >= 1")
    require(chunkFan >= 1, "chunkFan must be >= 1")
    val keyed = strs.select(col(strCol).as("__s")).distinct()
      .filter(length(col("__s")) > 0)
      .select(col("__s"), substring(col("__s"), 1, prefixLen).as("__c"),
        length(col("__s")).as("__l"),
        explode(sequence(length(col("__s")),
          length(col("__s")) + lit(lenSlack))).as("__band"))
      .withColumn("__own", pmod(xxhash64(col("__s")), lit(chunkFan)).cast("int"))
    val grid = sequence(lit(0), lit(chunkFan - 1))
    // Explicit-N keyed repartition on the full (prefix, band, cell)
    // key: pair enumeration is compute-dense but byte-tiny (a 12k-
    // string block is ~240 KB yet 144M JW probes), so AQE's small-
    // partition coalescing would otherwise pack the whole probe side
    // into ONE task (measured: 100% of one core, 9+ min; 32 cores
    // idle). A user-specified partition COUNT is exempt from AQE
    // coalescing, and keying by the grid cell is what lets a hot
    // block's cells land on different tasks.
    val fan = strs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    def spread(df: DataFrame): DataFrame =
      df.repartition(fan, col("__c"), col("__band"), col("__cl"), col("__cr"))
    val lhs = spread(keyed
      .withColumn("__cr", explode(grid)).withColumnRenamed("__own", "__cl"))
    val rhs = spread(keyed
      .withColumn("__cl", explode(grid)).withColumnRenamed("__own", "__cr"))
    val cand = lhs.as("a").join(rhs.as("b"),
        col("a.__c") === col("b.__c") && col("a.__band") === col("b.__band") &&
          col("a.__cl") === col("b.__cl") && col("a.__cr") === col("b.__cr") &&
          col("a.__s") < col("b.__s") &&
          col("a.__band") === greatest(col("a.__l"), col("b.__l")))
      .filter(abs(col("a.__l") - col("b.__l")) <= lenSlack)
      .select(col("a.__s").as("s1"), col("b.__s").as("s2"),
        col("a.__l").cast("long").as("l1"), col("b.__l").cast("long").as("l2"))
    cand.withColumn("jw", graft.functions.JaroWinkler(col("s1"), col("s2")))
      .filter(col("jw") >= minJw)
  }

  /** Uniquifies observed-metric names across invocations (no RNG/clock
    * — determinism policy).
    */
  private val ObserveSeq = new java.util.concurrent.atomic.AtomicLong()
}
