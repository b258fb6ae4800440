package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text/token operators.
  *
  * Capability parity targets (see SURVEY.md §2): the reference's word
  * tokenizer + top-k word extraction (`Assignment 3/a3_p1.py:15-31`) and
  * per-character mean/std-dev histogram
  * (`Assignment 1/MRSystemSimulator2020.py:216-245`).
  *
  * Scale notes: everything here is a single scan → generator → partial
  * hash-aggregate → shuffle on the (tiny) token key space → final
  * aggregate. Top-k plans as `TakeOrderedAndProject` (per-partition
  * heaps, no global sort), which is exactly the shape that survives a
  * 100 TB input: the shuffle carries one row per distinct token per
  * partition, not per input row.
  */
object TextOps {

  /** The reference's tokenizer regex, verbatim (`a3_p1.py:19-22`; spec
    * fixes it in `Assignment 3 Description.htm`): words (with optional
    * #/@ prefix and trailing 'xxx apostrophe suffix) plus 6 punctuation
    * tokens. Correctness-critical constant — Java regex and DuckDB's
    * RE2 both accept this subset verbatim.
    */
  val TokenPattern: String =
    """((?:[\.,!?;"])|(?:(?:\#|\@)?[A-Za-z0-9_\-]+(?:'[a-z]{1,3})?))"""

  /** `text` column → array<string> of lower-cased tokens.
    *
    * DELIBERATE divergence from the reference, pinned here and in
    * TextOpsSpec ("case-fold order"): we lowercase BEFORE matching;
    * the reference matches the RAW text and lowercases each token
    * afterwards (`a3_p1.py:19-22`). The orders differ only where the
    * pattern is case-asymmetric — the `'[a-z]{1,3}` apostrophe suffix:
    * raw `DON'T` fails the lowercase-only suffix and splits into
    * `don`,`t` under the reference, while fold-first yields the single
    * token `don't` (likewise any upper-case suffix, `IT'S`, `O'BRIEN`).
    * Fold-first is the better-behaved semantics (case never changes
    * token BOUNDARIES) and is what every gated query's oracle SQL
    * mirrors (`lower(text)` inside `regexp_extract_all`), so engine and
    * oracle agree by construction; flipping to reference order would
    * require changing both sides together.
    */
  def tokens(text: Column): Column =
    regexp_extract_all(lower(text), lit(TokenPattern), lit(1))

  /** One row per (doc_id, token). The generator runs inside whole-stage
    * codegen; no shuffle until the downstream aggregate.
    */
  def tokenize(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol), explode(tokens(col(textCol))).as("word"))

  /** Top-k tokens by frequency across the corpus — the reference's
    * `reduceByKey(add) → takeOrdered(1000)` (`a3_p1.py:31`) as a
    * declarative plan: partial hash agg (map-side combine) → shuffle on
    * word → final agg → TakeOrderedAndProject. Deterministic tie-break
    * on the word itself (the reference's tie order was partition-
    * dependent; we pin it).
    */
  def topKWords(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    topKFromTokens(tokenize(docs, textCol = textCol), k)

  /** [[topKWords]] over an already-tokenized (…, word) frame — lets
    * callers that also need the token stream elsewhere (e.g. the dense
    * regression expansion) tokenize ONCE and share the frame.
    */
  def topKFromTokens(toks: DataFrame, k: Int): DataFrame =
    toks.groupBy("word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(k)

  /** The distributed primitive of BPE tokenizer training: corpus-wide
    * counts of adjacent character pairs inside words (Sennrich et al.
    * 2016 — each merge iteration picks the most frequent pair). Top-k
    * pairs by total occurrence count, ties broken on the pair string.
    *
    * Scale shape — aggregate BEFORE exploding: the token stream first
    * collapses to (word, freq) — vocabulary-sized, orders of magnitude
    * smaller than the occurrence stream at any corpus size — and only
    * DISTINCT words explode into their pairs, each weighted by the
    * word's frequency. Σ freq over pair occurrences ≡ counting pairs
    * from every occurrence, at a fraction of the explode and shuffle
    * volume. Two word/pair-keyed exchanges, both partial-combined, then
    * TakeOrderedAndProject. A full BPE trainer iterates this with a
    * merge applied between rounds; the per-iteration plan is exactly
    * this one.
    */
  def bpePairCounts(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame =
    tokenize(docs, textCol = textCol)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .filter(length(col("word")) >= 2) // 1-char words have no pairs
      .select(explode(transform(
          sequence(lit(0), (length(col("word")) - 2).cast("int")),
          i => col("word").substr(i + 1, lit(2)))).as("pair"),
        col("freq"))
      .groupBy("pair").agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)

  /** Full BPE tokenizer-training loop (Sennrich et al. 2016): iterate
    * [[bpePairCounts]]' per-round primitive — count adjacent symbol
    * pairs over the (vocabulary-sized) word-frequency table, pick the
    * most frequent pair, merge every occurrence — for `rounds` rounds.
    * Output: one row per merge (`kind='merge'`, round, the merged pair
    * and its count at selection time) plus the final top-`vocabTopK`
    * symbols by corpus occurrence (`kind='vocab'`, round=0) — the vocab
    * section pins that merges were APPLIED to the word table, not just
    * selected.
    *
    * Symbol-sequence encoding: each word's symbols are kept as a single
    * string with every symbol wrapped in U+0001 sentinels
    * (`␁s₁␁␁s₂␁…`). A merge of pair (a,b) is then a LITERAL
    * `replace(enc, ␁a␁␁b␁ → ␁ab␁)` — left-to-right non-overlapping in
    * both the JVM and DuckDB, which is exactly greedy BPE merge order,
    * and the per-symbol wrapping makes cross-symbol-boundary false
    * matches impossible (a pattern must match a WHOLE adjacent pair;
    * U+0001 cannot appear inside a token — the tokenizer's character
    * classes exclude it). Ties on the pair count break on (left, right)
    * binary string order — identical memcmp semantics in both engines.
    *
    * Scale shape: every round touches only the distinct-word frequency
    * table (vocabulary-sized — bounded by language, not corpus), with
    * one pair-keyed partial-aggregated exchange and a 1-row broadcast
    * back onto the vocab; the corpus itself is scanned exactly once
    * (the initial word-count). The selected pair rides a broadcast
    * cross join — never a driver collect — and each round's result is
    * lazily `localCheckpoint`ed, truncating the otherwise-doubling
    * iterative lineage (the funnel/CC lesson, NOTES.md). At 100 TB the
    * only corpus-sized work is the one initial tokenize+count; N merge
    * rounds cost N vocabulary-sized jobs.
    *
    * Degenerate input: if the vocabulary exhausts all adjacent pairs
    * before `rounds` (every word fully merged), the remaining rounds
    * select nothing and the cross join empties the word table — the
    * oracle replay has identical semantics (its round-k CTEs go empty
    * the same way), so the gate cannot diverge; callers train with
    * rounds ≪ distinct-pair count, as any real tokenizer does.
    */
  def bpeMerges(docs: DataFrame, rounds: Int = 8, vocabTopK: Int = 20,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val (wf, merges) = bpeTrainLoop(p, bpeWordFreqs(p, docs, textCol), rounds)
    val mergeRows = merges.zipWithIndex.map { case (top1, i) =>
      top1.select(lit(i + 1).as("round"), lit("merge").as("kind"),
        col("l"), col("r"), col("n"))
    }
    val vocab = wf
      .select(col("freq"),
        explode(split(trim(col("enc"), BpeSep), BpeSep + BpeSep)).as("sym"))
      .groupBy("sym").agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("sym").asc).limit(vocabTopK)
      .select(lit(0).as("round"), lit("vocab").as("kind"),
        col("sym").as("l"), lit("").as("r"), col("n"))
    mergeRows.reduce(_.unionAll(_)).unionAll(vocab)
  }

  /** U+0001 symbol sentinel shared by the BPE train/apply family —
    * cannot appear inside a token (the tokenizer's character classes
    * exclude control characters), so a wrapped pair pattern can only
    * match a whole adjacent symbol pair.
    */
  private val BpeSep = "\u0001"

  /** (freq, enc) per distinct word of `docs` — each character
    * sentinel-wrapped (see [[bpeMerges]]). The ONE corpus-sized scan of
    * the BPE family; everything downstream is vocabulary-sized.
    */
  private def bpeWordFreqs(p: graft.CacheScope.Pins, docs: DataFrame,
      textCol: String): DataFrame =
    p.checkpoint(tokenize(docs, textCol = textCol)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("freq"), bpeEncodeCol(col("word")).as("enc")))

  /** Sentinel-wrap every character of `word` into the initial symbol
    * string.
    */
  private def bpeEncodeCol(word: Column): Column = {
    val sep = lit(BpeSep)
    concat_ws("", transform(sequence(lit(1), length(word)),
      i => concat(sep, word.substr(i, lit(1)), sep)))
  }

  /** Adjacent (l, r) symbol pairs of the current vocab, freq-weighted. */
  private def bpePairCountsOf(v: DataFrame): DataFrame = v
    .select(col("freq"),
      split(trim(col("enc"), BpeSep), BpeSep + BpeSep).as("syms"))
    .filter(size(col("syms")) >= 2)
    .select(col("freq"), expr(
      "explode(transform(sequence(1, size(syms)-1), " +
        "i -> struct(element_at(syms, i) AS l, element_at(syms, i+1) AS r)))").as("p"))
    .groupBy(col("p.l").as("l"), col("p.r").as("r"))
    .agg(sum(col("freq")).as("n"))

  /** Apply one selected merge (a 1-row (l, r) frame) to a symbol-string
    * frame: literal left-to-right replace of the wrapped pair with the
    * wrapped merged symbol, the pair riding a 1-row broadcast cross
    * join (never a driver collect). Passes through every column of `v`
    * except the rewritten `enc`.
    */
  private def bpeApplyMerge(v: DataFrame, top1: DataFrame): DataFrame = {
    val sep = lit(BpeSep)
    v.crossJoin(broadcast(top1.select(col("l"), col("r"))))
      .withColumn("enc", call_function("replace", col("enc"),
        concat(sep, col("l"), sep, sep, col("r"), sep),
        concat(sep, col("l"), col("r"), sep)))
      .drop("l", "r")
  }

  /** The `rounds`-round training loop shared by [[bpeMerges]] and
    * [[bpeEncode]]: returns the fully-merged word table and the
    * per-round selected pairs (each a 1-row localCheckpointed (l, r, n)
    * frame — checkpointed because each is referenced at least twice:
    * the merge join plus the caller's output/apply chain). The word
    * table is checkpointed per round, truncating the otherwise-doubling
    * iterative lineage (the funnel/CC lesson, NOTES.md).
    */
  private def bpeTrainLoop(p: graft.CacheScope.Pins, wf0: DataFrame,
      rounds: Int): (DataFrame, Vector[DataFrame]) = {
    var wf = wf0
    var merges = Vector.empty[DataFrame]
    var round = 1
    while (round <= rounds) {
      val top1 = p.checkpoint(bpePairCountsOf(wf)
        .orderBy(col("n").desc, col("l").asc, col("r").asc).limit(1))
      merges :+= top1
      wf = p.checkpoint(bpeApplyMerge(wf, top1).select(col("freq"), col("enc")))
      round += 1
    }
    (wf, merges)
  }

  /** BPE tokenizer APPLICATION — the other half of the tokenizer
    * lifecycle [[bpeMerges]] trains for: fit `rounds` merges on the
    * TRAIN split (`doc_id % evalMod != 0`), then encode the held-out
    * eval split (`doc_id % evalMod == 0`) with them and publish
    * per-document token statistics: `n_words` (token-occurrence count),
    * `n_tokens` (BPE symbol count after all merges, occurrence-
    * weighted) and their ratio — the tokens-per-word fan-out every
    * training-data budget is denominated in, measured on text the
    * tokenizer never saw. Merges apply in training order, each a
    * literal sentinel-wrapped replace (greedy left-to-right, see
    * [[bpeMerges]]) — identical semantics in any engine, so the oracle
    * replays the train loop AND the application chain verbatim.
    * `tokens_per_word` is one correctly-rounded double divide of two
    * exact integers — engine-portable by construction.
    *
    * Scale shape: two corpus scans total (train word-count, eval
    * word-count — the latter persisted query-scoped, it feeds the
    * distinct vocab AND the final join); the merge loop is
    * vocabulary-sized; application runs on the DISTINCT eval
    * vocabulary — `rounds` chained 1-row broadcast cross joins on a
    * vocabulary-sized frame with linear lineage (no checkpoints needed:
    * each step references the previous exactly once, and the selected
    * pairs are already checkpointed) — and fans back to documents
    * through one word-keyed join, the same bounded-key shape as the LM
    * scoring family. Nothing corpus-sized reaches the driver.
    */
  def bpeEncode(docs: DataFrame, rounds: Int = 8, evalMod: Long = 5,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val train = docs.filter(pmod(col("doc_id"), lit(evalMod)) =!= 0)
    val eval = docs.filter(pmod(col("doc_id"), lit(evalMod)) === 0)
    val (_, merges) = bpeTrainLoop(p, bpeWordFreqs(p, train, textCol), rounds)

    // per-doc word occurrence counts of the eval split (one scan)
    val evalWords = p(tokenize(eval, textCol = textCol)
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt")))
    // encode the distinct eval vocabulary through the trained merges
    var enc = evalWords.select(col("word")).distinct()
      .select(col("word"), bpeEncodeCol(col("word")).as("enc"))
    merges.foreach(top1 => enc = bpeApplyMerge(enc, top1))
    val nSyms = enc.select(col("word"),
      size(split(trim(col("enc"), BpeSep), BpeSep + BpeSep)).cast("long").as("n_syms"))

    evalWords.join(nSyms, "word")
      .groupBy("doc_id").agg(
        sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_syms")).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words"), 6)
          .as("tokens_per_word"))
      .orderBy("doc_id")
  }

  /** Bigram language-model scoring — the count-based core of a
    * CCNet-style perplexity quality filter: train an add-one-smoothed
    * bigram LM on the corpus itself, then score every document by its
    * average per-bigram negative log-likelihood. High `avg_nll` marks
    * text the corpus' own statistics find surprising (gibberish, OCR
    * noise, foreign fragments); a real pipeline thresholds on it
    * exactly like `keep` here. Uses the language-agnostic
    * [[DedupOps.words]] tokenizer (same as the dedup/rare-bigram
    * family). Docs with < 2 tokens have no bigrams and are dropped.
    *
    * Model: p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V), with c(w1) the
    * corpus occurrence count of w1 over ALL positions (the standard
    * simplification — no end-of-text discount) and V the distinct
    * vocabulary size. Each NLL term is ln((c1+V)/(c2+1)) — exact
    * integers → one double divide → one ln — rounded to 9 dp so the
    * libm ulp can never flip a digit (engine-portability rule), then
    * decimal-summed (shuffle-order-insensitive) and published at 6 dp.
    * `keep` is decided on the published 6-dp value, so the flag is
    * identical in any engine by construction.
    *
    * Plan shape: tokenize ONCE (token-array frame persisted
    * query-scoped — it feeds the bigram stream twice plus the unigram
    * counts); bigram and unigram counts are vocabulary-keyed
    * partial-aggregated shuffles; the scoring joins key on the bigram /
    * first word — at 100 TB the LM tables scale with vocabulary, NOT
    * corpus size, but can still exceed broadcast limits, so the plan
    * uses shuffle joins and never assumes a broadcast; V rides a
    * broadcast single-row cross join; the per-doc mean
    * partial-aggregates. Nothing corpus-sized touches the driver.
    */
  def bigramNll(docs: DataFrame, keepBelow: Double = 6.0,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val ws = p(
      graft.PlanUtils.spread(docs.select(col("doc_id"), col(textCol)))
        .select(col("doc_id"), DedupOps.words(col(textCol)).as("__ws")))
    def bigrams: DataFrame = ws.filter(size(col("__ws")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("__ws")) - 1),
        i => struct(element_at(col("__ws"), i).as("w1"),
          element_at(col("__ws"), i + 1).as("w2")))).as("__bg"))
      .select(col("doc_id"), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
    val uni = ws.select(explode(col("__ws")).as("w"))
    val c2 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("__c2"))
    // cached: feeds the scoring join AND the vocab-size aggregate below
    // (V = |c1| — derived from the count table instead of a second
    // corpus-wide explode + count_distinct exchange; guide §6)
    val c1 = p(
      uni.groupBy("w").agg(count(lit(1)).as("__c1"))
        .withColumnRenamed("w", "w1"))
    val v = c1.agg(count(lit(1)).as("__v"))
    val nll = round(log((col("__c1") + col("__v")).cast("double")
      / (col("__c2") + lit(1L))), 9)
    val avg = sum(nll.cast("decimal(28,12)")).cast("double") / count(lit(1))
    bigrams.join(c2, Seq("w1", "w2")).join(c1, "w1")
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg, 6).as("avg_nll"))
      .withColumn("keep", col("avg_nll") <= keepBelow)
  }

  /** Trigram LM scoring with stupid backoff (Brants et al. 2007, "Large
    * Language Models in Machine Translation" — the backoff designed FOR
    * distributed count tables: no discounting to renormalize, just
    * count ratios scaled by α per backoff level). The LM trains on
    * `train` and scores `eval` — a held-out split, so unseen trigrams
    * genuinely exercise the backoff chain (scoring a corpus with its
    * own LM never backs off: every trigram counts itself).
    *
    * Per eval-doc trigram (w1 w2 w3):
    *   S(w3|w1 w2) = c3(w1w2w3)/c2(w1w2)                 if c3 > 0
    *               = α · c2(w2w3)/c1(w2)                  elif c2(w2w3) > 0
    *               = α² · (c1(w3)+1)/(T+V)                otherwise
    * (the last level add-one floors OOV words — α²·0 would make NLL
    * infinite; T = train token occurrences, V = train vocab). Branches
    * resolve on exact integers, each NLL term = round(−ln(S), 9) with
    * the SAME literal expression shape both engines (IEEE-identical),
    * decimal-summed per doc, published at 6 dp with per-branch counts.
    *
    * Plan shape: one cached tokenize per side; c3/c2/c1 are vocabulary-
    * keyed partial-aggregated shuffles over the TRAIN stream; scoring
    * is four shuffle joins against the count tables — the bigram table
    * joins twice (as history (w1,w2) and as backoff (w2,w3)), the
    * unigram table twice ((w2) and (w3)) — plus one broadcast (T,V)
    * row. Count tables scale with vocabulary, not corpus; at 100 TB
    * none of them broadcasts but all partial-aggregate. This is the
    * shuffle-join rendering of Brants' distributed LM server lookups.
    */
  def trigramBackoffNll(train: DataFrame, eval: DataFrame,
      alpha: Double = 0.4, textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val trainWs = p(
      graft.PlanUtils.spread(train.select(col("doc_id"), col(textCol)))
        .select(col("doc_id"), DedupOps.words(col(textCol)).as("__ws")))
    def ngrams(ws: DataFrame, n: Int, names: Seq[String]): DataFrame =
      ws.filter(size(col("__ws")) >= n)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("__ws")) - (n - 1)),
            i => struct(names.zipWithIndex.map { case (nm, j) =>
              element_at(col("__ws"), i + j).as(nm) }: _*))).as("__g"))
        .select(col("doc_id") +: names.map(nm => col(s"__g.$nm").as(nm)): _*)
    val c3 = ngrams(trainWs, 3, Seq("w1", "w2", "w3"))
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3"))
    val c2 = p(
      ngrams(trainWs, 2, Seq("wa", "wb"))
        .groupBy("wa", "wb").agg(count(lit(1)).as("c2")))
    val c1 = p(
      trainWs.select(explode(col("__ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("c1")))
    // T = Σ c1 (token occurrences), V = |c1| (vocab size): derived from
    // the CACHED unigram table — the count table already holds both
    // statistics, so the former second corpus-wide explode +
    // count_distinct exchange is a vocab-sized aggregate instead
    // (guide §6: fewer corpus passes). Bit-identical by construction.
    val tv = c1.agg(sum(col("c1")).as("t"), count(lit(1)).as("v"))
    val evalWs = graft.PlanUtils.spread(eval.select(col("doc_id"), col(textCol)))
      .select(col("doc_id"), DedupOps.words(col(textCol)).as("__ws"))
    val tri = ngrams(evalWs, 3, Seq("w1", "w2", "w3"))
    val scored = tri
      .join(c3, Seq("w1", "w2", "w3"), "left")
      .join(c2.select(col("wa").as("w1"), col("wb").as("w2"),
        col("c2").as("c2h")), Seq("w1", "w2"), "left")
      .join(c2.select(col("wa").as("w2"), col("wb").as("w3"),
        col("c2").as("c2b")), Seq("w2", "w3"), "left")
      .join(c1.select(col("w").as("w2"), col("c1").as("c1w2")), Seq("w2"), "left")
      .join(c1.select(col("w").as("w3"), col("c1").as("c1w3")), Seq("w3"), "left")
      .crossJoin(broadcast(tv))
      .select(col("doc_id"),
        when(coalesce(col("c3"), lit(0L)) > 0 && coalesce(col("c2h"), lit(0L)) > 0, lit(3))
          .when(coalesce(col("c2b"), lit(0L)) > 0 && coalesce(col("c1w2"), lit(0L)) > 0, lit(2))
          .otherwise(lit(1)).as("branch"),
        col("c3"), col("c2h"), col("c2b"), col("c1w2"), col("c1w3"),
        col("t"), col("v"))
    val nll =
      when(col("branch") === 3,
        round(-log(col("c3").cast("double") / col("c2h")), 9))
        .when(col("branch") === 2,
          round(-log(lit(alpha) * col("c2b") / col("c1w2")), 9))
        .otherwise(
          round(-log(lit(alpha) * lit(alpha)
            * (coalesce(col("c1w3"), lit(0L)) + lit(1L))
            / (col("t") + col("v"))), 9))
    scored
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("branch") === 3, 1L).otherwise(0L)).as("n_tri_hits"),
        sum(when(col("branch") === 2, 1L).otherwise(0L)).as("n_bi_hits"),
        sum(when(col("branch") === 1, 1L).otherwise(0L)).as("n_uni_hits"),
        round(sum(nll.cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("avg_nll"))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * the Chen & Goodman 1998 empirical-study formulation) — the
    * standard smoothing for count-based LMs, published for the top `k`
    * bigrams by raw count:
    *
    *   P_KN(w2|w1) = (c2(w1,w2) − d)/c1(w1)
    *               + (d · N1+(w1,·)/c1(w1)) · (N1+(·,w2)/N1+(·,·))
    *
    * with discount d = 0.75, c1(w1) = Σ_w c2(w1,w) (the HISTORY count —
    * bigram-mass, not unigram occurrences, so rows ending a document
    * contribute nothing), N1+(w1,·)/N1+(·,w2) the follower/predecessor
    * type counts, and N1+(·,·) the distinct-bigram total. Only observed
    * bigrams are published (c2 ≥ 1 > d, so the max(c2−d, 0) clamp is
    * algebraically inert and omitted). The continuation factor is KN's
    * whole point: a word's backoff mass scales with how many CONTEXTS
    * it follows, not how often it occurs — "francisco" is frequent but
    * nearly always follows "san", so its continuation probability is
    * tiny.
    *
    * Numeric contract: every count is an exact int64 aggregate; p_kn is
    * ONE fixed IEEE dag over those integers, round(·, 9) only at
    * publication — the textual shape is mirrored term for term by the
    * DuckDB oracle (engine-portability rule).
    *
    * Plan shape: one tokenize scan → bigram explode → (w1,w2) partial-
    * aggregated shuffle builds c2 (cached query-scoped: it feeds FOUR
    * consumers — the w1-keyed follower/history aggregate, the w2-keyed
    * predecessor aggregate, the distinct-bigram total, and the scoring
    * join). Everything after the first aggregate is distinct-bigram-
    * sized (vocabulary², bounded by corpus tokens), never corpus-sized;
    * the type total rides a broadcast single-row cross join; top-k
    * plans as TakeOrderedAndProject. At 100 TB the count tables
    * partial-aggregate and shuffle on token keys — the same distributed
    * count-table shape as [[trigramBackoffNll]], with KN's statistics
    * replacing stupid backoff's.
    */
  def kneserNeyBigrams(docs: DataFrame, k: Int = 50, d: Double = 0.75,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val ws = graft.PlanUtils.spread(docs.select(col("doc_id"), col(textCol)))
      .select(DedupOps.words(col(textCol)).as("__ws"))
    val c2 = p(
      ws.filter(size(col("__ws")) >= 2)
        .select(explode(transform(
          sequence(lit(1), size(col("__ws")) - 1),
          i => struct(element_at(col("__ws"), i).as("w1"),
            element_at(col("__ws"), i + 1).as("w2")))).as("__bg"))
        .groupBy(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
        .agg(count(lit(1)).as("c2")))
    // history mass + follower types: both one w1-keyed aggregate OF c2
    val byW1 = c2.groupBy("w1")
      .agg(sum("c2").as("c1h"), count(lit(1)).as("n_follow"))
    val byW2 = c2.groupBy("w2").agg(count(lit(1)).as("n_prec"))
    val types = c2.agg(count(lit(1)).as("n_types"))
    c2.join(byW1, "w1").join(byW2, "w2")
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c2"), col("c1h"),
        col("n_follow"), col("n_prec"), col("n_types"),
        round((col("c2").cast("double") - lit(d)) / col("c1h")
          + lit(d) * col("n_follow") / col("c1h")
          * (col("n_prec").cast("double") / col("n_types")), 9).as("p_kn"))
      .orderBy(col("c2").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Good–Turing frequency re-estimation (Good 1953) — the
    * count-of-counts table N_r = #{words seen exactly r times} with the
    * Turing-adjusted counts r* = (r+1)·N_{r+1}/N_r and the unseen-mass
    * estimate p₀ = N₁/T. The classic smoothing diagnostic for a corpus'
    * frequency spectrum (and the N₁ statistic Kneser–Ney's discount is
    * estimated from); on a Zipfian corpus N_r ≈ c/r^(1+1/s), so the
    * table is also a power-law health check alongside [[zipfFit]].
    *
    * Numeric contract: N_r, T = Σ r·N_r and N₁ are exact int64
    * aggregates; r* and p₀ are each ONE double division of exact ints
    * rounded 9 dp (mirrored shape). Rows with no N_{r+1} publish
    * r* = 0 (the estimator is undefined there — real smoothers switch
    * to the ML estimate for large r, which is the caller's branch).
    *
    * Plan shape: tokenize scan → word-keyed count (vocab-sized) →
    * r-keyed count-of-counts (frequency-spectrum-sized, ≤ distinct
    * counts); the r+1 lookup is a self-join ON THAT table and totals
    * ride a broadcast 1-row cross join. Published rows: the `maxR`
    * SMALLEST occupied counts (not a literal r ≤ maxR — on a closed-
    * vocabulary corpus every word can exceed any fixed cutoff and a
    * literal filter would gate an empty table); plans as
    * TakeOrderedAndProject.
    */
  def goodTuring(docs: DataFrame, maxR: Int = 10,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val wc = graft.PlanUtils.spread(docs.select(col(textCol)))
      .select(explode(DedupOps.words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val cof = p(wc.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r")))
    val tot = cof.agg(
      sum(col("r") * col("n_r")).as("t_toks"),
      sum(when(col("r") === 1, col("n_r")).otherwise(0L)).as("n1"))
    cof.join(cof.select(col("r") - 1 as "r", col("n_r").as("n_next")),
        Seq("r"), "left")
      .crossJoin(broadcast(tot))
      .select(col("r"), col("n_r"),
        coalesce(col("n_next"), lit(0L)).as("n_next"),
        round((col("r") + lit(1L))
          * coalesce(col("n_next"), lit(0L)).cast("double") / col("n_r"), 9)
          .as("r_star"),
        round(col("n1").cast("double") / col("t_toks"), 9).as("p_unseen"))
      .orderBy("r")
      .limit(maxR)
  }

  /** Chao1 species-richness estimate per language (Chao 1984,
    * bias-corrected form) — "how many word types EXIST given what we
    * sampled": V̂ = V_obs + F₁(F₁−1)/(2(F₂+1)), driven entirely by
    * the singleton/doubleton counts [[goodTuring]] already studies
    * (GT estimates the unseen MASS; Chao1 estimates the unseen TYPE
    * COUNT — the corpus-coverage planning number: a corpus whose
    * Chao1 ≈ V_obs is vocabulary-saturated, one whose Chao1 ≫ V_obs
    * is still discovering its tail).
    *
    * Exactness: V/F₁/F₂/token totals are exact int64 from two keyed
    * aggregates; the correction term is ONE rational published via
    * half-up [[graft.PlanUtils.ratioRound]] and added to the exact V.
    * On the closed driver vocabulary F₁ = F₂ = 0 above tiny SFs →
    * Chao1 = V exactly (the saturation verdict, correct by
    * construction); the zipf corpus exercises the estimating regime.
    *
    * Plan shape: explode → (lang, token) combine → lang-keyed
    * frequency-class combine; nothing after the first aggregate
    * exceeds vocabulary cardinality. Output: (lang, n_tokens, v_obs,
    * f1, f2, chao1).
    */
  def chao1Richness(docs: DataFrame, textCol: String = "text",
      langCol: String = "lang"): DataFrame = {
    val wc = docs.select(col(langCol).as("lang"),
        explode(DedupOps.words(col(textCol))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("c"))
    wc.groupBy("lang").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("v_obs"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
      .select(col("lang"), col("n_tokens"), col("v_obs"), col("f1"),
        col("f2"),
        (col("v_obs") + (graft.PlanUtils.ratioRound(
          col("f1") * (col("f1") - 1), lit(2L) * (col("f2") + 1), 6) + 0.0))
          .as("chao1"))
  }

  /** Jensen–Shannon divergence between two corpus slices' unigram
    * distributions (Lin 1991) — the symmetric, bounded (≤ ln 2) drift
    * measure for "did the token mix shift": JSD(P‖Q) =
    * ½·KL(P‖M) + ½·KL(Q‖M) with M = (P+Q)/2. Unlike KL it is finite
    * when a token appears in only one slice — exactly the open-
    * vocabulary case corpus snapshots produce — and unlike [[zipfFit]]-
    * style shape checks it is sensitive to WHICH words moved.
    *
    * Per token the M-ratio is an exact integer ratio:
    * p/m = 2·c_a·N_b / (c_a·N_b + c_b·N_a), so each KL term is
    * (c_a/N_a)·ln(·) with the ln argument one double division of
    * 128-bit-exact products (DECIMAL(38,0) / HUGEINT — the q_colloc
    * lanes; c·N passes int64 near 10¹⁶). Terms round at 9 dp,
    * decimal-sum, and publish at 6 dp — the [[tokenLabelMi]] contract.
    *
    * Plan shape: one token-keyed count aggregate per slice, a
    * full-outer merge on the token axis (vocab-sized), totals on a
    * broadcast 1-row cross join, one final 1-row aggregate. Output:
    * one row (n_types_a, n_types_b, kl_a_to_m, kl_b_to_m, jsd).
    */
  def jsDivergence(a: DataFrame, b: DataFrame,
      textCol: String = "text"): DataFrame = {
    val dec = "decimal(38,0)"
    def counts(df: DataFrame, side: String): DataFrame =
      graft.PlanUtils.spread(df.select(col(textCol)))
        .select(explode(DedupOps.words(col(textCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as(s"c_$side"))
    val merged = counts(a, "a").join(counts(b, "b"), Seq("w"), "full")
      .na.fill(0L, Seq("c_a", "c_b"))
    val tot = merged.agg(
      sum("c_a").as("na"), sum("c_b").as("nb"),
      sum(when(col("c_a") > 0, 1L).otherwise(0L)).as("n_types_a"),
      sum(when(col("c_b") > 0, 1L).otherwise(0L)).as("n_types_b"))
    val den = (col("c_a").cast(dec) * col("nb").cast(dec)
      + col("c_b").cast(dec) * col("na").cast(dec))
    def term(c: Column, n: Column, num: Column): Column =
      when(c > 0,
        round((c.cast("double") / n)
          * log(num.cast("double") / den.cast("double")), 9))
        .otherwise(lit(0.0))
    merged.crossJoin(broadcast(tot))
      .select(col("n_types_a"), col("n_types_b"),
        term(col("c_a"), col("na"),
          lit(2L) * col("c_a").cast(dec) * col("nb").cast(dec))
          .cast("decimal(38,12)").as("__ta"),
        term(col("c_b"), col("nb"),
          lit(2L) * col("c_b").cast(dec) * col("na").cast(dec))
          .cast("decimal(38,12)").as("__tb"))
      .groupBy("n_types_a", "n_types_b")
      .agg(round(sum(col("__ta")).cast("double"), 6).as("kl_a_to_m"),
        round(sum(col("__tb")).cast("double"), 6).as("kl_b_to_m"),
        round((sum(col("__ta")) + sum(col("__tb"))).cast("double") / lit(2),
          6).as("jsd"))
  }

  /** TF-IDF scored terms, top `k` per document — the classic relevance
    * weighting: `tf(d,t) · ln(N / df(t))` with N = total corpus docs.
    *
    * Plan shape: one (doc, word) aggregate builds tf (persisted
    * query-scoped — it feeds the df aggregate AND the scoring join);
    * df is a word-keyed aggregate OF tf (already one row per (doc,
    * word), so `count(*)` IS document frequency); N rides a broadcast
    * single-row cross join — the corpus size never touches the driver.
    * Per-doc top-k runs on the native [[graft.plans.TopKPerKey]]
    * (bounded heaps + map-side prune, no full sort). Ranking key is
    * `round(tfidf, 9)` with a word tiebreak: the ln() libm ulp must
    * never decide membership (engine-portability rule).
    */
  def tfidfTopTerms(docs: DataFrame, k: Int, textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val tf = p(
      tokenize(docs, textCol = textCol)
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "word")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("n_docs").cast("double") / col("df")))
    graft.plans.TopKOps.topKPerKey(scored, Seq("doc_id"),
      Seq(round(col("tfidf"), 9).desc, col("word").asc), k)
      .select("doc_id", "word", "tf", "tfidf")
  }

  /** Okapi BM25 scored terms, top `k` per document (Robertson et al.,
    * TREC-3): `idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with
    * `idf = ln((N − df + ½)/(df + ½) + 1)`. N and avgdl are defined
    * over docs with ≥ 1 token (zero-length docs can't score and would
    * only shift avgdl).
    *
    * Same plan skeleton as [[tfidfTopTerms]] plus a per-doc length
    * aggregate; the (n_docs, avgdl) pair is a broadcast single-row
    * cross join. All score inputs are exact integers (tf, df, dl, N),
    * so both engines derive bit-identical doubles up to ln()'s ulp —
    * which the `round(score, 9)` ranking key absorbs.
    */
  def bm25TopTerms(docs: DataFrame, k: Int, k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val tf = p(
      tokenize(docs, textCol = textCol)
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val denom = col("tf") + lit(k1) *
      (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))
    val scored = tf.join(dfreq, "word").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("score", idf * col("tf") * lit(k1 + 1.0) / denom)
    graft.plans.TopKOps.topKPerKey(scored, Seq("doc_id"),
      Seq(round(col("score"), 9).desc, col("word").asc), k)
      .select("doc_id", "word", "tf", "dl", "score")
  }

  /** Heavy hitters — every token with relative frequency ≥ `minFreq` —
    * via Count-Min Sketch (Cormode & Muthukrishnan 2005), the
    * mergeable-sketch scale path for frequency queries. Three passes,
    * none of which ever aggregates the full distinct-token table:
    *
    *  1. CANDIDATES from a `sampleRate` hash-sample of token
    *     OCCURRENCES (seeded, engine-portable draw on (doc, position)):
    *     a true heavy hitter has ≥ minFreq·sampleTotal expected sample
    *     occurrences, so keeping sampled words above HALF that bound
    *     catches it with margin while the candidate aggregation shrinks
    *     1/sampleRate× (at 100 TB, sampleRate ~ polylog/(minFreq²·N) —
    *     a fixed absolute sample; the fully-bounded alternative is a
    *     per-partition SpaceSaving heap, not needed at this error bar).
    *  2. SCREEN by ONE aggregation folding the full stream into
    *     (count(*), count_min_sketch) — a few KB of partial-aggregated,
    *     mergeable state regardless of corpus size. CMS estimates are
    *     one-sided (est ≥ exact), so screening candidates at
    *     est ≥ minFreq·N never drops a true heavy hitter.
    *  3. CONFIRM exactly: one broadcast-membership-filtered aggregation
    *     over the token stream counts ONLY the screened words (≤ ~2/
    *     minFreq of them) and applies the true threshold. Publication
    *     must be estimator-free — the zipf_sf0.1 audit caught the raw
    *     CMS estimates drifting +2/+3 above exact (collision mass grows
    *     as vocabulary/width; an 80k-type open vocabulary against a
    *     2·10⁴-cell width is no longer collision-free) while the
    *     closed-vocab corpora masked it at every SF. The confirm
    *     output is heavy-hitter-sized, the same pattern as Bloom
    *     decontamination's confirm join.
    *
    * The exact-count oracle with the same threshold hash-matches by
    * construction at every corpus; the sketch+sample stages carry the
    * scale story (nothing distinct-vocabulary-sized ever aggregates
    * unscreened).
    */
  def heavyHitters(docs: DataFrame, minFreq: Double = 0.02,
      sampleRate: Double = 0.1, eps: Double = 1e-4,
      confidence: Double = 0.999, seed: Int = 42,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = p(docs
      .select(col("doc_id"), posexplode(tokens(col(textCol))))
      .select(col("doc_id"), col("pos"), col("col").as("word")))
    // the (count, sketch) pass runs first so `total` can size both
    // the sampling decision and the candidate thresholds
    val agg = toks.agg(count(lit(1)).as("n"),
      expr(s"count_min_sketch(word, ${eps}d, ${confidence}d, $seed)").as("s")).head()
    val total = agg.getLong(0)
    // an empty token stream aggregates to a NULL sketch — empty
    // result, not an NPE
    val sketchBytes = agg.getAs[Array[Byte]](1)
    if (total == 0L || sketchBytes == null) Seq.empty[(String, Long)].toDF("word", "cnt")
    else {
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(sketchBytes))
      // Candidate discovery: the occurrence-sampled aggregation only
      // concentrates when the expected sample is big enough; on a small
      // corpus (or tiny sampleRate) fall back to exact counts — which
      // are cheap precisely because the corpus is small. Without the
      // fallback, a corpus whose every (doc,pos) hash lands above
      // sampleRate returns NOTHING while the oracle returns rows.
      val candidates: Array[String] =
        if (total * sampleRate >= 1000.0) {
          toks.filter(
            RelationalOps.hashUniform(concat_ws("#", col("doc_id"), col("pos")), s"hh$seed")
              < lit(sampleRate))
            .groupBy("word").agg(count(lit(1)).as("c"))
            .filter(col("c") >= lit(0.5 * minFreq * sampleRate * total))
            .select("word").as[String].collect()
        } else {
          toks.groupBy("word").agg(count(lit(1)).as("c"))
            .filter(col("c") >= lit(minFreq * total))
            .select("word").as[String].collect()
        }
      val screened = candidates.toSeq
        .filter(w => cms.estimateCount(w) >= minFreq * total)
      if (screened.isEmpty) Seq.empty[(String, Long)].toDF("word", "cnt")
      else toks.filter(col("word").isin(screened: _*))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= lit(minFreq * total))
    }
  }

  /** Per-letter mean and population std-dev of per-document counts,
    * dense over the a–z alphabet (absent letters count 0 for every doc,
    * mirroring `MRSystemSimulator2020.py:221-228`'s explicit zero
    * emission). Decomposition (Σx, Σx², n) in the reference collapses
    * to built-in `avg`/`stddev_pop` (Welford-based, numerically
    * better). Dense zeros come from a cross join of the 26-letter
    * literal table (broadcast, 26 rows) with per-doc letter counts.
    */
  def charHistogram(docs: DataFrame, textCol: String = "text", scale: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val letters = ('a' to 'z').map(_.toString).toDF("ch")
    val perDoc = docs
      .select(col("doc_id"), explode(split(regexp_replace(lower(col(textCol)), "[^a-z]", ""), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("n"))
    val nDocs = docs.select(col("doc_id")).distinct()
    val dense = nDocs.crossJoin(broadcast(letters))
      .join(perDoc, Seq("doc_id", "ch"), "left")
      .select(col("ch"), coalesce(col("n"), lit(0L)).as("n"))
    dense.groupBy("ch").agg(
      round(avg(col("n")), scale).as("mean_n"),
      round(stddev_pop(col("n")), scale).as("std_n"))
      .orderBy("ch")
  }

  /** Collocation mining: the top-k adjacent token pairs by LIFT —
    * `P(w1,w2) / (P(w1)·P(w2))`, the phrase-mining signal behind
    * tokenizer vocabulary curation and stop-phrase lists ("new york"
    * scores high; "of the" scores ~1). [[graft.functions]]' BPE pair
    * counting ranks by raw frequency; lift surfaces the RARE-but-bound
    * pairs frequency buries.
    *
    * Published as `lift_ppm = ⌊cxy·10⁶·N / (cx·cy)⌋` — all-integer
    * arithmetic (counts only), so the ranking and the value are exact
    * on any engine; no float ratio to round. The 10⁶ scale keeps three
    * decimal digits of lift above 1 ppm resolution. The products run
    * in 128-bit-exact integer space (DECIMAL(38,0) here, HUGEINT in
    * the oracle): cxy·10⁶·N passes 2⁶³ already at a ~10⁸-token corpus
    * — the sf10 audit caught the int64 form overflowing — and stays
    * exact to 10³⁸, past any corpus this runs on.
    *
    * Plan: the token-array scan feeds bigram extraction (row-local
    * `transform` over positions — no flatMap, stays in codegen) and
    * the unigram side; N folds out of the unigram counts (no extra
    * scan) and broadcasts as a 1-row literal. Three shuffles total
    * (bigram agg, unigram agg, pair↔vocab join on w1/w2 — AQE
    * broadcasts the vocab side when it's small); `minCount` prunes the
    * pair tail BEFORE the joins. Top-k plans as TakeOrderedAndProject
    * with a deterministic (w1, w2) tie-break.
    */
  def collocations(docs: DataFrame, minCount: Long = 5, k: Int = 50,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val toks = docs.select(tokens(col(textCol)).as("t"))
    val uni = p(
      toks.select(explode(col("t")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("c")))
    val nTokens = uni.agg(sum(col("c")).as("n"))
    val bigrams = toks.filter(size(col("t")) >= 2)
      .select(explode(transform(
        sequence(lit(1), size(col("t")) - 1),
        i => struct(element_at(col("t"), i).as("w1"),
          element_at(col("t"), i + 1).as("w2")))).as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    bigrams
      .crossJoin(broadcast(nTokens))
      .join(uni.select(col("word").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("word").as("w2"), col("c").as("c2")), Seq("w2"))
      .select(col("w1"), col("w2"), col("cxy"),
        expr("(CAST(cxy AS DECIMAL(20,0)) * 1000000 * n)"
          + " div (CAST(c1 AS DECIMAL(20,0)) * c2)").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Multinomial Naive Bayes text classifier — the fastText/CCNet-style
    * curation classifier shape (train a lightweight model on labeled
    * docs, score the corpus) as exact count arithmetic. Trains add-one
    * smoothed per-class token log-probabilities on the docs where
    * `doc_id % evalMod != 0` and classifies the held-out split:
    *
    *   score(d, c) = ln(nd_c / N) + Σ_{w ∈ d} ln((c_wc + 1)/(n_c + V))
    *
    * (nd_c = train docs in class c, n_c = token occurrences in c,
    * c_wc = occurrences of w in c, V = train vocab). Every ln term is
    * rounded at 9 dp (the libm rule: both engines' correctly-rounded
    * division feeds ln, whose ≤1-ulp wobble dies at the 9th decimal)
    * and decimal-summed, so the per-doc-class score — and therefore the
    * argmax — is engine-exact; prediction ties break to the
    * lexicographically smallest class on the exact decimal score.
    *
    * Plan shape: one cached tokenize; the count tables (c_wc, n_c, V)
    * are vocabulary×class-keyed partial-aggregated shuffles over the
    * TRAIN stream — they scale with vocabulary, never corpus. Scoring
    * fans each eval token out by the (tiny, broadcast) class table and
    * joins the count table on its (w, class) key — one vocab-keyed
    * shuffle join — then one doc-keyed aggregate and a 5-rows-per-doc
    * argmax window. No all-pairs term anywhere; at 100 TB the eval×C
    * fan-out is the textbook NB scoring shape.
    */
  def naiveBayes(docs: DataFrame, labelCol: String = "lang",
      evalMod: Int = 5, textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val ws = p(
      graft.PlanUtils.spread(docs.select(col("doc_id"), col(labelCol).as("label"),
          col(textCol)))
        .select(col("doc_id"), col("label"), DedupOps.words(col(textCol)).as("__ws")))
    val trainTok = ws.filter(col("doc_id") % evalMod =!= 0)
      .select(col("label"), explode(col("__ws")).as("w"))
    // ONE corpus-sized explode+aggregate over the train stream; the
    // other model tables derive from its vocabulary-sized output
    // (n_c = Σ_w c_wc and V = |distinct w| by definition) instead of
    // re-exploding the corpus once per table — 3 explode passes → 1
    val cwc = p(trainTok.groupBy("label", "w").agg(count(lit(1)).as("__cwc")))
    val cls = cwc.groupBy("label").agg(sum(col("__cwc")).as("__nc"))
    val nd = ws.filter(col("doc_id") % evalMod =!= 0)
      .groupBy("label").agg(count(lit(1)).as("__ndc"))
    // N = Σ_c nd_c (every train doc carries exactly one label row)
    val nTrainDocs = nd.agg(sum(col("__ndc")).as("__n"))
    val vocab = cwc.agg(count_distinct(col("w")).as("__v"))
    // class table: label, n_c, prior (9-dp rounded ln of an exact ratio)
    val classes = cls.join(nd, "label").crossJoin(nTrainDocs)
      .select(col("label").as("c"), col("__nc"),
        round(log(col("__ndc").cast("double") / col("__n").cast("double")), 9)
          .as("__prior"))
    val evalTok = ws.filter(col("doc_id") % evalMod === 0)
      .select(col("doc_id"), col("label").as("true_label"),
        explode(col("__ws")).as("w"))
    val terms = evalTok.crossJoin(broadcast(classes).crossJoin(broadcast(vocab)))
      .join(cwc.withColumnRenamed("label", "c"), Seq("c", "w"), "left")
      .select(col("doc_id"), col("true_label"), col("c"), col("__prior"),
        round(log((coalesce(col("__cwc"), lit(0L)) + 1L).cast("double")
          / (col("__nc") + col("__v")).cast("double")), 9).as("__t"))
    val scores = terms.groupBy("doc_id", "true_label", "c", "__prior")
      .agg(sum(col("__t").cast("decimal(28,12)")).as("__s"))
      .select(col("doc_id"), col("true_label"), col("c"),
        (col("__s") + col("__prior").cast("decimal(28,12)")).as("__score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("__score").desc, col("c").asc)
    scores.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("doc_id"), col("true_label"), col("c").as("pred_label"),
        (col("c") === col("true_label")).as("correct"),
        // round in the DECIMAL domain, THEN cast: the 9-dp term sum is
        // an exact decimal that can end in …500 at the 7th place —
        // round(double, 6) of its inexact double diverges between
        // engines there (found by the sf10 audit: 2 of 100k rows)
        round(col("__score"), 6).cast("double").as("logp"))
  }

  /** Mutual information between token PRESENCE and a document label
    * (the discrete feature-selection MI of Manning, Raghavan &
    * Schütze IR §13.5.1): for each vocabulary token w,
    * MI(w; C) = Σ_{e∈{0,1}} Σ_c P(e, c)·ln(P(e, c) / (P(e)·P(c)))
    * over the doc-level presence indicator. Curation use: pick the
    * token features that actually separate languages/sources BEFORE
    * training a classifier (the q_naive_bayes / q_logreg_gd inputs).
    *
    * Every probability is an exact integer-count ratio; each of the
    * ≤ 2·|C| ln terms is one double division of exact int64 products
    * rounded at 9 dp (the libm rule), then decimal-summed — ranking
    * AND values are engine-exact. Shapes: presence is an
    * array_distinct explode (one shuffle keyed by (token, label));
    * the |C|-row class table broadcasts; the presence/absence grid
    * join is vocab-keyed; top-k rides TakeOrderedAndProject.
    * CONTRACT: N·max(tokTot·n_c) < 2⁶³ — holds to ~3e9 docs.
    */
  def tokenLabelMi(docs: DataFrame, labelCol: String = "lang", k: Int = 30,
      textCol: String = "text"): DataFrame = {
    val ws = graft.PlanUtils.spread(
        docs.select(col("doc_id"), col(labelCol).as("label"), col(textCol)))
      .select(col("label"),
        array_distinct(DedupOps.words(col(textCol))).as("__ws"))
    val pres = ws.select(col("label"), explode(col("__ws")).as("token"))
    val a = pres.groupBy("token", "label").agg(count(lit(1)).as("__a"))
    val tokTot = a.groupBy("token").agg(sum("__a").as("__ta"))
    val classTot = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("__nc"))
    val nTot = docs.agg(count(lit(1)).as("__n"))
    def term(cnt: Column, rowTot: Column): Column =
      when(cnt > 0,
        round((cnt.cast("double") / col("__n")) *
          log((cnt * col("__n")).cast("double") / (rowTot * col("__nc"))), 9))
        .otherwise(lit(0.0))
    tokTot.crossJoin(broadcast(classTot).crossJoin(nTot))
      .join(a, Seq("token", "label"), "left")
      .withColumn("__a", coalesce(col("__a"), lit(0L)))
      .select(col("token"),
        term(col("__a"), col("__ta")).cast("decimal(28,12)").as("__t1"),
        term(col("__nc") - col("__a"), col("__n") - col("__ta"))
          .cast("decimal(28,12)").as("__t0"))
      .groupBy("token")
      .agg(sum(col("__t1") + col("__t0")).as("__mi"))
      .select(col("token"), round(col("__mi").cast("double"), 6).as("mi"))
      .orderBy(col("mi").desc, col("token"))
      .limit(k)
  }

  /** χ² (chi-squared) term–label association screen — the classic
    * feature-selection statistic (Yang & Pedersen 1997 ranked it with
    * MI; it's [[tokenLabelMi]]'s frequentist sibling): for each token,
    * the 2×2 presence/label contingency (a = labeled docs containing
    * it, b = unlabeled containing, c = labeled without, d = neither)
    * scored by
    *   χ² = n·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)).
    *
    * Numeric contract: a/b/c/d are exact int64 document counts off ONE
    * token-keyed aggregate; (ad − bc) and the numerator/denominator
    * products run in 128-bit-exact integer lanes (DECIMAL(38,0) here,
    * HUGEINT in the oracle — the q_colloc precedent; n·(ad−bc)² peaks
    * at n⁵ ≈ 10²⁸ at the 500k-doc audit scale, far past int64); χ² is
    * ONE double division of those exact integers, rounded 6 dp.
    * Degenerate margins (token in every doc, constant label) publish
    * χ² = 0 rather than dividing by zero. Top-k membership is decided
    * by (χ², token) — the division is the dag's only IEEE op, so the
    * ranking key is bit-identical across engines.
    *
    * Plan shape: distinct-presence explode → ONE (token)-keyed
    * partial-combined aggregate (vocabulary-sized output); label
    * totals ride a broadcast 1-row cross join; top-k plans as
    * TakeOrderedAndProject. Nothing past the first aggregate is
    * corpus-sized.
    */
  def chiSquaredTerms(docs: DataFrame, label: Column, k: Int = 30,
      textCol: String = "text"): DataFrame = {
    val dec = "decimal(38,0)"
    val pres = graft.PlanUtils.spread(
        docs.select(label.cast("long").as("__y"), col(textCol)))
      .select(col("__y"),
        explode(array_distinct(DedupOps.words(col(textCol)))).as("token"))
    val byTok = pres.groupBy("token")
      .agg(count(lit(1)).as("ta"), sum("__y").as("a"))
    val tot = docs.agg(count(lit(1)).as("n"), sum(label.cast("long")).as("n1"))
    byTok.crossJoin(broadcast(tot))
      // ad − bc with d = n − ta − (n1 − a), b = ta − a, c = n1 − a
      .withColumn("__diff",
        col("a").cast(dec)
          * (col("n") - col("ta") - col("n1") + col("a")).cast(dec)
          - (col("ta") - col("a")).cast(dec) * (col("n1") - col("a")).cast(dec))
      .withColumn("__num", col("n").cast(dec) * col("__diff") * col("__diff"))
      .withColumn("__den",
        col("ta").cast(dec) * (col("n") - col("ta")).cast(dec)
          * col("n1").cast(dec) * (col("n") - col("n1")).cast(dec))
      .select(col("token"), col("a"), col("ta"), col("n1"), col("n"),
        when(col("__den") > 0,
          round(col("__num").cast("double") / col("__den").cast("double"), 6))
          .otherwise(lit(0.0)).as("chi2"))
      .orderBy(col("chi2").desc, col("token"))
      .limit(k)
  }

  /** Windowed token co-occurrence counts + PPMI — the GloVe /
    * word2vec training-data primitive: every unordered token pair
    * within `window` positions of each other, scored by positive
    * pointwise mutual information against the pair-table marginals.
    *
    * Pair generation is MAP-ONLY — no positional self-join: for each
    * offset d ∈ [1, window] the words array zips with its d-shifted
    * self (`zip_with` over two `slice`s), so the only wide op is the
    * count aggregate keyed by (w1, w2) — the shape that survives a
    * 100 TB corpus (pair key space is vocab-bounded, map-side
    * partials absorb the per-doc fan-out). PPMI's single ln term is
    * one double division of exact int64 counts, rounded 9 dp then
    * clamped at 0 and published at 6 dp — engine-exact.
    */
  /** Unordered within-`window` token pairs, map-only (the zip_with
    * construction [[windowedCooccur]] documents). Shared by the PPMI
    * table and [[textRank]]. */
  private def cooccurPairs(docs: DataFrame, window: Int,
      textCol: String): DataFrame =
    graft.PlanUtils.spread(docs.select(col(textCol)))
      .select(DedupOps.words(col(textCol)).as("__ws"))
      .select(explode(expr(
        s"""flatten(transform(sequence(1, $window), d ->
           |  zip_with(slice(__ws, 1, greatest(size(__ws) - d, 0)),
           |           slice(__ws, 1 + d, greatest(size(__ws) - d, 0)),
           |           (x, y) -> struct(least(x, y) AS w1, greatest(x, y) AS w2))))"""
          .stripMargin)).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))

  def windowedCooccur(docs: DataFrame, window: Int = 3, minCount: Int = 5,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    require(window >= 1, "window must be >= 1")
    val pairs = cooccurPairs(docs, window, textCol)
    // pin the pair-count table: it feeds the totals, BOTH marginal
    // sides and the published rows — unpinned, the zip_with pair
    // explode re-ran per consumer (plan-audited: 3 Generates)
    val cab = p(pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab")))
    val tot = cab.agg(sum("n_ab").as("__t"))
    val marg = cab.select(col("w1").as("w"), col("n_ab"))
      .unionByName(cab.select(col("w2").as("w"), col("n_ab")))
      .groupBy("w").agg(sum("n_ab").as("__m"))
    cab.filter(col("n_ab") >= minCount)
      .crossJoin(tot)
      .join(marg.select(col("w").as("w1"), col("__m").as("__m1")), "w1")
      .join(marg.select(col("w").as("w2"), col("__m").as("__m2")), "w2")
      .select(col("w1"), col("w2"), col("n_ab"),
        // the 9-dp round makes ln() engine-portable (libm ulp absorbed);
        // the SECOND round to 6 dp must then happen in the DECIMAL
        // domain: rounding the 9-dp DOUBLE splits at …9500-at-the-7th
        // boundaries (Spark rounds the shortest-repr decimal HALF_UP,
        // DuckDB the binary expansion — zipf_sf10 caught 1 row in 1.1M,
        // ppmi 1.003960 vs 1.003959). A scale-9 double→decimal cast is
        // exact in both engines (9-dp spacing ≫ double ulp at these
        // magnitudes), and decimal round(…, 6) is half-up in both.
        round(greatest(lit(0.0),
          round(log((col("n_ab") * col("__t")).cast("double")
            / (col("__m1") * col("__m2"))), 9)).cast("decimal(28,9)"), 6)
          .cast("double").as("ppmi"))
      .orderBy("w1", "w2")
  }

  /** TextRank keyword scoring (Mihalcea & Tarau 2004): weighted
    * PageRank over the [[windowedCooccur]] word graph — the classic
    * unsupervised keyword extractor, here over the whole corpus (the
    * graph is vocabulary-sized, so ranks are corpus-level keyword
    * salience). Symmetric edges weighted by pair count (pairs below
    * `minCount` pruned); `rounds` damped iterations of
    * r(i) ← (1−d)/N + d·Σⱼ (wⱼᵢ/Wⱼ)·r(j).
    *
    * Portability: edge fractions wⱼᵢ/Wⱼ are exact-int divisions; each
    * round's contribution terms are rounded 9dp and DECIMAL-summed
    * per node (order-independent), the damped update re-rounds 9dp —
    * the engine-portable fixpoint-path pattern. Published rank at 6dp.
    *
    * Plan shape: pair counts aggregate once (map-only generation, one
    * (w1,w2)-keyed exchange); the fraction-weighted edge list is
    * cached and each round is one edge⋈rank join + node-keyed sum —
    * vocab-bounded tables throughout, corpus touched once. Output:
    * (word, w_out, rank).
    */
  def textRank(docs: DataFrame, window: Int = 3, minCount: Int = 5,
      damping: Double = 0.85, rounds: Int = 5,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    require(rounds >= 1 && window >= 1, "rounds and window must be >= 1")
    val dec = "decimal(38,12)"
    // pin the pair counts: the edge symmetrization references cab
    // TWICE — unpinned, the corpus-sized zip_with explode would run
    // once per branch (the windowedCooccur lesson). coalesce(1):
    // everything downstream is vocab-sized, so the rank rounds run as
    // 1-task stages.
    val cab = p(
      cooccurPairs(docs, window, textCol)
        .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
        .filter(col("n") >= minCount)
        .coalesce(1))
    val ed = cab.select(col("w1").as("src"), col("w2").as("dst"), col("n"))
      .unionByName(cab.select(col("w2").as("src"), col("w1").as("dst"), col("n")))
    val wsrc = ed.groupBy("src").agg(sum("n").as("w_out"))
    val e = p(
      ed.join(wsrc, "src")
        .select(col("src"), col("dst"),
          col("n").cast("double") / col("w_out").cast("double") as "frac"))
    val nodes = p(wsrc.select(col("src").as("word"), col("w_out")))
    val cnt = nodes.agg(count(lit(1)).as("nn"))
    var r = nodes.crossJoin(broadcast(cnt))
      .select(col("word"),
        round(lit(1.0) / col("nn").cast("double"), 9).as("r"))
    for (_ <- 1 to rounds) {
      val contrib = e.join(r.withColumnRenamed("word", "src"), Seq("src"))
        .groupBy(col("dst").as("word"))
        .agg(sum(round(col("frac") * col("r"), 9).cast(dec)).as("s"))
      r = nodes.select(col("word")).join(contrib, Seq("word"), "left")
        .crossJoin(broadcast(cnt))
        .select(col("word"),
          round(lit(1.0 - damping) / col("nn").cast("double")
            + lit(damping) * coalesce(col("s").cast("double"), lit(0.0)), 9)
            .as("r"))
    }
    nodes.join(r, Seq("word"))
      .select(col("word"), col("w_out"), round(col("r"), 6).as("rank"))
  }

  /** Zipf rank–frequency fit: OLS of ln(freq) on ln(rank) over the top
    * `topN` tokens — the classic corpus-health diagnostic (natural
    * text sits near slope −1; boilerplate-heavy or template-spam
    * corpora bend away, so the slope is a cheap whole-corpus quality
    * signal next to the per-doc Gopher rules). The corpus-sized work
    * is the [[topKWords]] aggregate (partial-combined, one exchange);
    * the fit itself runs on topN rows.
    *
    * Numerics (the q_mi_tokens construction): each ln enters at 9 dp;
    * the cross terms x², xy, y² are single IEEE products of those 9-dp
    * values re-rounded to 9 dp; sums are DECIMAL(38,12) — so slope,
    * intercept and r² are one fixed IEEE dag on engine-identical
    * inputs, published at 6 dp.
    */
  def zipfFit(docs: DataFrame, topN: Int = 100,
      textCol: String = "text"): DataFrame = {
    val ranked = topKWords(docs, topN, textCol)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("cnt").desc, col("word"))))
    val t = ranked.select(
      round(log(col("rank").cast("double")), 9).as("x"),
      round(log(col("cnt").cast("double")), 9).as("y"))
    val (slope, intercept, r2) = lnLnFit
    lnLnSums(t).select(col("n"), slope.as("slope"), intercept.as("intercept"),
      r2.as("r2"))
  }

  /** Heaps' law fit — the OTHER corpus-health diagnostic, dual to
    * [[zipfFit]]: vocabulary growth V(n) ≈ K·n^β along the corpus
    * (natural text: β ≈ 0.4–0.6 and still climbing; a closed template
    * vocabulary flatlines at β ≈ 0). Together the two fits answer "is
    * this corpus open-vocabulary enough to train on" in one scan each.
    *
    * Method: the corpus is cut at `nCheckpoints` doc-id fractions;
    * V(ck) = words whose FIRST occurrence (min doc_id — one
    * partial-combined agg over the exploded token stream) lands at or
    * before the cut, N(ck) = tokens at or before it. Both reduce to a
    * checkpoint-bucket aggregate (bucket = ⌈doc_id·K/maxId⌉, exact
    * int64 arithmetic) + a cumsum over K rows; the ln–ln OLS runs on
    * ≤ K points. Scale shape: two corpus-keyed partial aggregates and
    * a metric-sized (K-row) tail — no corpus-sized window, no driver
    * state. Tokenizer = the dedup family's `[a-z0-9]+`.
    *
    * Output: one row per non-empty checkpoint (ck, n_tok, vocab) with
    * the shared fit columns (beta, lnk, r2) — publishing the curve AND
    * the fit makes the gate sensitive to every bucket count, not just
    * three rounded coefficients.
    */
  def heapsFit(docs: DataFrame, nCheckpoints: Int = 16,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val k = nCheckpoints.toLong
    val base = p(
      graft.PlanUtils.spread(docs.select(col("doc_id"), col(textCol)))
        .select(col("doc_id"), DedupOps.words(col(textCol)).as("__ws")))
    val mid = base.agg(max("doc_id").as("mid"))
    val nd = base.crossJoin(broadcast(mid))
      .selectExpr(s"greatest(1L, (doc_id * ${k}L + mid - 1L) div mid) AS ck",
        "CAST(size(__ws) AS LONG) AS nt")
      .groupBy("ck").agg(sum("nt").as("tok"))
    val vd = base.select(col("doc_id"), explode(col("__ws")).as("w"))
      .groupBy("w").agg(min("doc_id").as("fd"))
      .crossJoin(broadcast(mid))
      .selectExpr(s"greatest(1L, (fd * ${k}L + mid - 1L) div mid) AS ck")
      .groupBy("ck").agg(count(lit(1)).as("nv"))
    val grid = docs.sparkSession.range(1, k + 1).select(col("id").as("ck"))
    val cumW = Window.orderBy("ck")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // K rows from here on — the single-partition window is metric-sized
    val pts = p(
      grid.join(nd, Seq("ck"), "left").join(vd, Seq("ck"), "left")
        .select(col("ck"), coalesce(col("tok"), lit(0L)).as("tok"),
          coalesce(col("nv"), lit(0L)).as("nv"))
        .select(col("ck"), sum("tok").over(cumW).as("n_tok"),
          sum("nv").over(cumW).as("vocab"))
        .filter(col("n_tok") > 0)
        .select(col("ck"), col("n_tok"), col("vocab"),
          round(log(col("n_tok").cast("double")), 9).as("x"),
          round(log(col("vocab").cast("double")), 9).as("y")))
    val (slope, intercept, r2) = lnLnFit
    // + 0.0 strips IEEE -0.0 (saturated-vocab fits round to ±0 — the
    // engines disagree on the sign; -0.0 + 0.0 = +0.0 in both)
    pts.select(col("ck"), col("n_tok"), col("vocab"))
      .crossJoin(broadcast(lnLnSums(pts).select(
        (slope + lit(0.0)).as("beta"), (intercept + lit(0.0)).as("lnk"),
        (r2 + lit(0.0)).as("r2"))))
      .orderBy("ck")
  }

  /** One row (n, sx, sy, sxx, sxy, syy) of least-squares sums over the
    * 9-dp (x, y) points of `pts`: the cross terms are single IEEE
    * products re-rounded to 9 dp, and every sum is DECIMAL(38,12).
    */
  private def lnLnSums(pts: DataFrame): DataFrame = {
    val dec = "decimal(38,12)"
    pts.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(dec)).cast("double").as("sx"),
      sum(col("y").cast(dec)).cast("double").as("sy"),
      sum(round(col("x") * col("x"), 9).cast(dec)).cast("double").as("sxx"),
      sum(round(col("x") * col("y"), 9).cast(dec)).cast("double").as("sxy"),
      sum(round(col("y") * col("y"), 9).cast(dec)).cast("double").as("syy"))
  }

  /** (slope, intercept, r²) of the OLS fit over [[lnLnSums]]' row, each
    * one fixed IEEE dag rounded to 6 dp.
    */
  private def lnLnFit: (Column, Column, Column) = {
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    (round(num / den, 6),
      round((col("sy") - num / den * col("sx")) / col("n"), 6),
      round(num * num
        / (den * (col("n") * col("syy") - col("sy") * col("sy"))), 6))
  }
}
