package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: marker-based
  * language ID, quality scoring, token counting, and document
  * fingerprinting. All are single-scan, shuffle-light, and mirrored
  * exactly in DuckDB SQL (pure integer/md5/arithmetic constructions).
  *
  * Scale notes: langId's only exchange is the per-(doc, lang) count —
  * the marker table broadcasts; quality/token metrics are per-row
  * projections with no shuffle at all; fingerprints are per-row md5
  * loops over word shingles (bounded by doc length).
  */
object TextAnalysisOps {

  /** Tiny per-language stopword marker sets (top function words). A
    * real pipeline would use a trained n-gram model; the operator shape
    * (broadcast marker join + argmax) is what matters at scale.
    */
  val Markers: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "and", "en" -> "of", "en" -> "to", "en" -> "a",
    "fr" -> "le", "fr" -> "la", "fr" -> "et", "fr" -> "les", "fr" -> "des",
    "es" -> "el", "es" -> "la", "es" -> "de", "es" -> "los", "es" -> "y",
    "de" -> "der", "de" -> "die", "de" -> "und", "de" -> "das", "de" -> "ein")

  /** Predicted language per doc: argmax of marker-token hits
    * (occurrence-weighted), ties broken alphabetically, zero hits →
    * "und" (ISO 639 undetermined). Output: (doc_id, lang_pred, hits).
    */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val markers = Markers.toDF("lang", "word")
    val toks = docs.select(col("doc_id"),
      explode(DedupOps.words(col(textCol))).as("word"))
    val hits = toks.join(broadcast(markers), "word")
      .groupBy("doc_id", "lang").agg(count(lit(1)).as("hits"))
    val w = Window.partitionBy("doc_id").orderBy(col("hits").desc, col("lang").asc)
    val best = hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("doc_id", "lang", "hits")
    docs.select("doc_id").join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lang"), lit("und")).as("lang_pred"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** Quality features + a deterministic composite score in [0,1]:
    * length saturation, punctuation penalty, stopword prior. Pure
    * arithmetic (no exp/log) so every engine agrees bit-for-bit.
    */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val nChars = length(col(textCol))
    val toks = DedupOps.words(col(textCol))
    val nToks = size(toks)
    val punct = nChars - length(regexp_replace(col(textCol), "[^a-z0-9 ]", ""))
    val stops = size(filter(toks, t => t.isin("the", "a", "of", "to", "and")))
    docs.select(
      col("doc_id"),
      nToks.cast("long").as("n_tokens"),
      (punct.cast("double") / greatest(nChars, lit(1))).as("punct_ratio"),
      (stops.cast("double") / greatest(nToks, lit(1))).as("stop_ratio"))
      .withColumn("score",
        least(col("n_tokens").cast("double") / 64.0, lit(1.0)) * 0.5
          + (lit(1.0) - col("punct_ratio")) * 0.3
          + least(col("stop_ratio") * 4.0, lit(1.0)) * 0.2)
  }

  /** Token accounting per doc: whitespace tokens, BPE-ish regex tokens
    * (letter runs / digit runs / single non-space symbols — a cheap
    * proxy for subword segmentation), and chars-per-regex-token.
    */
  def tokenCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val ws = size(split(trim(col(textCol)), "\\s+"))
    val bpe = size(regexp_extract_all(lower(col(textCol)),
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
    docs.select(col("doc_id"),
      ws.cast("long").as("ws_tokens"),
      bpe.cast("long").as("bpe_tokens"),
      (length(col(textCol)).cast("double") / greatest(bpe, lit(1))).as("chars_per_token"))
  }

  /** Gopher/RefinedWeb-style repetition quality rules: per doc,
    * the fraction of tokens taken by the single most frequent token
    * (`top_token_frac`) and the duplicated-2-gram fraction
    * (`dup_2gram_frac` = 1 − distinct-2-grams / total-2-grams). A doc
    * dominated by one token or by a looping phrase is boilerplate/spam
    * regardless of its length or punctuation — the repetition family
    * catches what [[qualityScore]]'s surface features cannot.
    * `keep` applies both thresholds (on the UNROUNDED values, so the
    * flag is exact in every engine). Docs with < 2 tokens are dropped
    * (no 2-gram denominator).
    *
    * Plan shape: the top-token count is explode → (doc, token) count →
    * per-doc max — two partial-aggregated exchanges keyed by doc; the
    * 2-gram distinct runs entirely per-row (the native
    * [[graft.functions.WordShingles]] kernel, no explode).
    * Output: (doc_id, n_tokens, top_token_frac, dup_2gram_frac, keep).
    */
  def repetitionStats(docs: DataFrame, maxTopTokenFrac: Double = 0.12,
      maxDup2GramFrac: Double = 0.06, textCol: String = "text"): DataFrame = {
    val toks = graft.PlanUtils.spread(docs.select(col("doc_id"), col(textCol)))
      .select(col("doc_id"), DedupOps.words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= 2)
    val top = toks.select(col("doc_id"), explode(col("__ws")).as("__w"))
      .groupBy("doc_id", "__w").agg(count(lit(1)).as("__c"))
      .groupBy("doc_id").agg(max(col("__c")).as("__top_c"))
    val grams = toks.select(col("doc_id"),
      size(col("__ws")).cast("long").as("n_tokens"),
      size(graft.functions.WordShingles(col("__ws"), 2)).cast("long").as("__d2"))
    val topFrac = col("__top_c").cast("double") / col("n_tokens")
    val dupFrac = lit(1.0) - col("__d2").cast("double") / (col("n_tokens") - 1)
    grams.join(top, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        round(topFrac, 6).as("top_token_frac"),
        round(dupFrac, 6).as("dup_2gram_frac"),
        (topFrac <= maxTopTokenFrac && dupFrac <= maxDup2GramFrac).as("keep"))
  }

  /** Per-doc unigram entropy — the information-theoretic quality
    * feature the repetition rules approximate: H = −Σ p·ln p over the
    * doc's own token distribution (p = c/n). Low H = one token
    * dominates (spam/boilerplate), H near ln(n_distinct) = flat
    * distribution. Published alongside the normalized form
    * H/ln(n_distinct) ∈ [0,1] (null for single-token-type docs, where
    * the normalizer is ln 1 = 0).
    *
    * Numerics: each term is exact-int c/n ratios → (c/n)·ln(n/c) with
    * the literal shape mirrored in the oracle; terms rounded 9 dp,
    * decimal-summed per doc, entropy published at 6 dp and the
    * normalized form derived from the PUBLISHED rounded entropy.
    * Single-occurrence terms (c = n) contribute round(1·ln 1) = 0
    * exactly — no special case needed.
    *
    * Plan shape: one (doc, word) hash aggregate (partial-combined),
    * then one doc-keyed exchange feeding BOTH the total-count window
    * and the final per-doc aggregate (the window's doc partitioning
    * satisfies the groupBy, so no third shuffle).
    */
  def tokenEntropy(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val counts = graft.PlanUtils.spread(docs.select(col("doc_id"), col(textCol)))
      .select(col("doc_id"), explode(DedupOps.words(col(textCol))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    val n = sum(col("c")).over(Window.partitionBy("doc_id"))
    val term = round(col("c").cast("double") / col("n")
      * log(col("n").cast("double") / col("c")), 9)
    counts
      .withColumn("n", n)
      .select(col("doc_id"), col("c"), col("n"), term.as("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_types"),
        max(col("n")).as("n_tokens"),
        // round in the DECIMAL domain, THEN cast (the q_naive_bayes
        // round-after-cast class): the exact 9-dp term sum can end in
        // …500 at the 7th place — round(double, 6) of its inexact
        // double diverges between engines there (zipf_sf10 audit:
        // 6 of 500k docs)
        round(sum(col("term").cast("decimal(28,12)")), 6).cast("double")
          .as("entropy"))
      .withColumn("entropy_norm",
        when(col("n_types") > 1,
          round(col("entropy") / log(col("n_types").cast("double")), 6)))
  }

  /** Document chunking: split each doc into fixed-size token windows
    * with `overlap` tokens of context carry-over — the universal
    * pre-embedding / pre-training step (context-window packing's front
    * half). Chunk starts step by `chunkTokens − overlap`; a trailing
    * start whose remaining tokens all sit inside the previous window
    * (n − s ≤ overlap) is dropped — every token appears in ≥ 1 chunk,
    * no chunk is a subset of another. Entirely per-row (one projection
    * + one posexplode, no shuffle): at 100 TB chunking is a map-only
    * pass whose output is the input token count × ~(1 + overlap/step).
    * Output: (doc_id, chunk_no, n_chunk_tokens, chunk_text).
    */
  def chunks(docs: DataFrame, chunkTokens: Int = 32, overlap: Int = 8,
      textCol: String = "text"): DataFrame = {
    require(chunkTokens > overlap && overlap >= 0,
      s"need chunkTokens > overlap >= 0, got ($chunkTokens, $overlap)")
    val step = chunkTokens - overlap
    val tok = graft.PlanUtils.spread(docs.select(col("doc_id"), col(textCol)))
      .select(col("doc_id"), DedupOps.words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) > 0)
    val n = size(col("__ws"))
    val starts = filter(sequence(lit(0), greatest(n - 1, lit(0)), lit(step)),
      s => (s === 0) || (n - s) > overlap)
    tok.select(col("doc_id"), col("__ws"), posexplode(starts))
      .select(col("doc_id"),
        col("pos").as("chunk_no"),
        least(lit(chunkTokens), size(col("__ws")) - col("col")).cast("long")
          .as("n_chunk_tokens"),
        array_join(slice(col("__ws"), col("col") + 1, lit(chunkTokens)), " ")
          .as("chunk_text"))
  }

  /** Sequence PACKING — the training-batch construction step: the
    * corpus is laid out as one virtual token stream (docs concatenated
    * in doc_id order) and split into fixed `chunkLen`-token training
    * sequences, emitting one row per (sequence, document-span) so
    * attention-mask / provenance construction knows exactly which doc
    * occupies which positions. Concatenate-and-chunk packing — zero
    * padding waste, deterministic layout.
    *
    * Scale shape — the global prefix sum is the crux. A naive
    * `sum() OVER (ORDER BY doc_id)` is a SINGLE-partition window (the
    * whole corpus through one task — scale-killer), so this runs the
    * classic two-phase distributed scan instead:
    *   1. per-doc token counts, bucketed by monotone doc_id ranges;
    *      local prefix sums WITHIN each bucket (parallel windows);
    *   2. per-bucket totals (≤ `nBuckets` rows) come to the driver,
    *      their running prefix goes back as a broadcast join — the
    *      same O(parallelism)-driver-state pattern as every
    *      multi-pass scalar in this library (never O(corpus)).
    * Chunk spans then derive arithmetically per row and explode into
    * ≤ 1 + dl/chunkLen rows per doc. Output: (chunk_id, doc_id,
    * start_in_chunk, n_toks), totally ordered and engine-recomputable.
    */
  def packSequences(docs: DataFrame, chunkLen: Int = 256, nBuckets: Int = 32,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    require(chunkLen > 0 && nBuckets > 0, "chunkLen and nBuckets must be positive")
    val spark = docs.sparkSession
    val counts = graft.PlanUtils.spread(docs.select(col("doc_id"), col(textCol)))
      .select(col("doc_id"), size(DedupOps.words(col(textCol))).cast("long").as("dl"))
      .filter(col("dl") > 0)
    // monotone doc_id → bucket mapping keeps bucket-local order global
    val maxRow = counts.agg(max("doc_id")).head()
    val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val width = math.max(1L, maxId / nBuckets + 1)
    val bucketed = p(counts.withColumn("bucket", (col("doc_id") / width).cast("long")))
    val localW = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val local = bucketed.withColumn("local_end", sum("dl").over(localW))
    // bucket totals: ≤ nBuckets rows to the driver, prefix back as a
    // broadcast join (deterministic, bounded by parallelism not data)
    val totals = bucketed.groupBy("bucket").agg(sum("dl").as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val prefixes =
      if (totals.isEmpty) Seq.empty[(Long, Long)]
      else totals.scanLeft((Long.MinValue, 0L)) {
        case ((_, acc), (b, t)) => (b, acc + t)
      }.sliding(2).map { case Array((_, p), (b, _)) => (b, p) }.toSeq
    import spark.implicits._
    val prefixDf = broadcast(prefixes.toDF("bucket", "prefix"))
    val spans = local.join(prefixDf, "bucket")
      .withColumn("end", col("prefix") + col("local_end"))
      .withColumn("start", col("end") - col("dl"))
    // explode each doc onto every chunk its [start, end) span overlaps.
    // `div` (integer), not `/` (double): double division is only exact
    // for power-of-two divisors — at 10^13-token stream offsets a
    // non-power-of-two chunkLen could misround the chunk id by one.
    spans.select(col("doc_id"), col("start"), col("end"),
        explode(sequence(expr(s"start div $chunkLen"),
          expr(s"(end - 1) div $chunkLen"))).as("chunk_id"))
      .withColumn("c0", col("chunk_id") * chunkLen)
      .select(col("chunk_id"), col("doc_id"),
        (greatest(col("start"), col("c0")) - col("c0")).as("start_in_chunk"),
        (least(col("end"), col("c0") + chunkLen) - greatest(col("start"), col("c0")))
          .as("n_toks"))
  }

  /** PII redaction — the scrub step of every public-corpus curation
    * pipeline: emails, dashed phone numbers, and IPv4 literals replaced
    * with typed placeholders, with per-kind match counts (on the
    * ORIGINAL text) for redaction-rate monitoring. Pure per-row
    * projections — no shuffle, scales as a map-only pass. The patterns
    * are deliberately conservative RE2-compatible literals so every
    * engine (and the DuckDB oracle) matches identically; a production
    * deployment would swap in its compliance team's pattern set.
    * Output: original columns − text + (clean_text, n_emails, n_phones,
    * n_ips).
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    val cleaned = regexp_replace(regexp_replace(regexp_replace(col(textCol),
      email, "<EMAIL>"), phone, "<PHONE>"), ip, "<IP>")
    docs.select(
      docs.columns.filterNot(_ == textCol).map(col) :+ cleaned.as("clean_text") :+
        regexp_count(col(textCol), lit(email)).as("n_emails") :+
        regexp_count(col(textCol), lit(phone)).as("n_phones") :+
        regexp_count(col(textCol), lit(ip)).as("n_ips"): _*)
  }

  /** Winnowing-style document fingerprint: the minimum 60-bit
    * md5-derived hash over the doc's word 4-gram shingles (plus the
    * shingle count). Identical docs share fingerprints; near-dups
    * collide with high probability. Engine-portable (md5 + hex→int).
    */
  def fingerprints(docs: DataFrame, nGram: Int = 4, textCol: String = "text"): DataFrame =
    // Entirely per-row: the min over a doc's shingle hashes needs no
    // explode and no groupBy — zero shuffles beyond the parallelizing
    // spread inside `shingled`; the md5-min kernel is the native
    // Md5MinShingle expression (one loop per doc, not one interpreted
    // expression tree per shingle).
    DedupOps.shingled(docs, nGram, textCol)
      .select(col("doc_id"),
        graft.functions.Md5MinShingle(col("shingles")).as("fingerprint"),
        size(col("shingles")).cast("long").as("n_shingles"))

  /** Corpus-statistics quality filter: the fraction of a doc's distinct
    * word bigrams that are RARE in the corpus (document frequency ≤
    * `rareMax`). Gibberish, OCR noise, and heavy boilerplate-mangling
    * score high (their n-grams appear nowhere else); clean prose scores
    * low — the count-based cousin of an n-gram-LM perplexity filter,
    * with exact integer semantics instead of ln() float parity
    * questions. `keep` = rare_frac ≤ `keepMax`, decided on the
    * UNROUNDED exact ratio.
    *
    * Scale shape — the inverted-index pattern, not a broadcast: the
    * bigram df table is corpus-sized (it cannot broadcast at 100 TB),
    * so postings and df shuffle on the 64-bit bigram hash; both aggs
    * partial-combine map-side, and the df join adds no row
    * amplification (|postings| rows in, |postings| rows out). The
    * shingle scan is persisted query-scoped — it feeds both the df
    * aggregate and the posting side of the join.
    */
  def rareBigramStats(docs: DataFrame, rareMax: Long = 2, keepMax: Double = 0.4,
      textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val sh = p(DedupOps.hashedShingled(docs, 2, textCol))
    val post = sh.select(col("doc_id"), explode(col("hs")).as("h"))
    val dfreq = post.groupBy("h").agg(count(lit(1)).as("df"))
    post.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("df") <= rareMax, 1L).otherwise(0L)).as("n_rare"))
      .withColumn("rare_frac", col("n_rare").cast("double") / col("n_bigrams"))
      .withColumn("keep", col("rare_frac") <= keepMax)
  }

  /** Hashing-trick bag-of-words (Weinberger et al. 2009 feature
    * hashing): every token maps to one of `nBuckets` signed buckets —
    * the fixed-width, vocabulary-free vectorization used when the
    * token universe is unbounded (no global dictionary build, no
    * second pass). Bucket and sign both derive from an md5 open hash
    * (engine-portable, oracle-recomputable): bucket = h mod nBuckets,
    * sign = ±1 from the next hash bit — the signed variant keeps the
    * hashed inner product unbiased under collisions.
    *
    * Scale shape: tokenize + hash are scan-local; ONE (doc, bucket)-
    * keyed partial-combined aggregate builds the sparse vectors; the
    * per-doc ‖v‖² rides a doc-partitioned window over ≤ nBuckets rows
    * per doc. No vocabulary table, no broadcast, no driver state.
    * Output: (doc_id, bucket, v, nnz, norm2) — one row per nonzero.
    */
  def featureHash(docs: DataFrame, nBuckets: Int = 64,
      textCol: String = "text"): DataFrame = {
    val tok = docs.select(col("doc_id"),
      explode(DedupOps.words(col(textCol))).as("w"))
    val h = conv(substring(md5(concat_ws("|", col("w"), lit("fh")).cast("binary")),
      1, 6), 16, 10).cast("long")
    val signed = tok
      .withColumn("bucket", h % lit(nBuckets.toLong))
      .withColumn("s",
        when((h.divide(lit(nBuckets.toLong))).cast("long") % 2 === 0, 1L)
          .otherwise(-1L))
    val vecs = signed.groupBy("doc_id", "bucket").agg(sum("s").as("v"))
    val perDoc = Window.partitionBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    vecs
      .withColumn("nnz", sum(when(col("v") =!= 0L, 1L).otherwise(0L)).over(perDoc))
      .withColumn("norm2", sum(col("v") * col("v")).over(perDoc))
  }

  /** Gopher-style structural quality rules (Rae et al. 2021 §A1.1;
    * RefinedWeb keeps the same family): per-doc word count bounds,
    * mean-word-length band, symbol-to-char ratio cap, alpha-word
    * ratio floor, and a stopword-presence floor. The repetition half
    * of the Gopher suite lives in [[repetitionStats]] — together they
    * are the full rule set.
    *
    * Every flag is decided by exact int64 cross-multiplication (e.g.
    * mean-length ∈ [lo, hi] ⇔ 10·Σlen ≥ 10·lo·n ∧ 10·Σlen ≤ 10·hi·n
    * with lo/hi carried as tenths) — no float compares at rule
    * boundaries, so the keep flag is bit-identical in every engine.
    * Published ratios are exact-int IEEE divisions rounded 6dp.
    *
    * Plan shape: a single scan-local projection per row (array ops on
    * the token list); no shuffle, no broadcast — the cheapest possible
    * 100 TB pass, which is exactly why these rules run FIRST in real
    * curation pipelines. Output: (doc_id, n_words, mean_word_len,
    * symbol_frac, alpha_frac, n_stop, wc_ok, len_ok, sym_ok,
    * alpha_ok, stop_ok, keep).
    */
  def gopherRules(docs: DataFrame, minWords: Long = 50, maxWords: Long = 100000,
      minMeanLenTenths: Long = 30, maxMeanLenTenths: Long = 100,
      textCol: String = "text"): DataFrame = {
    val ws = DedupOps.words(col(textCol))
    val base = graft.PlanUtils.spread(docs.select(col("doc_id"), col(textCol)))
      .select(col("doc_id"),
        size(ws).cast("long").as("__nw"),
        aggregate(transform(ws, w => length(w).cast("long")), lit(0L),
          (a, x) => a + x).as("__sc"),
        size(filter(ws, w => w.rlike("[a-z]"))).cast("long").as("__na"),
        size(filter(ws, w => w.isin("the", "a", "of", "to", "and")))
          .cast("long").as("__nstop"),
        length(col(textCol)).cast("long").as("__nc"),
        (length(col(textCol))
          - length(regexp_replace(col(textCol), "[^a-z0-9\\s]", "")))
          .cast("long").as("__nsym"))
      .filter(col("__nw") > 0)
    base.select(
      col("doc_id"),
      col("__nw").as("n_words"),
      round(col("__sc").cast("double") / col("__nw"), 6).as("mean_word_len"),
      round(col("__nsym").cast("double") / col("__nc"), 6).as("symbol_frac"),
      round(col("__na").cast("double") / col("__nw"), 6).as("alpha_frac"),
      col("__nstop").as("n_stop"),
      (col("__nw") >= minWords && col("__nw") <= maxWords).as("wc_ok"),
      (col("__sc") * 10L >= lit(minMeanLenTenths) * col("__nw")
        && col("__sc") * 10L <= lit(maxMeanLenTenths) * col("__nw")).as("len_ok"),
      (col("__nsym") * 10L <= col("__nc")).as("sym_ok"),
      (col("__na") * 5L >= col("__nw") * 4L).as("alpha_ok"),
      (col("__nstop") >= 2L).as("stop_ok"))
      .withColumn("keep", col("wc_ok") && col("len_ok") && col("sym_ok")
        && col("alpha_ok") && col("stop_ok"))
  }

  /** DSIR importance-resampling data selection (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by how target-like its hashed n-gram profile
    * is — ln p̂(doc)/q̂(doc) under two bag-of-hashed-features unigram
    * models — then draw the selected subset with the Gumbel-top-k
    * trick, so the output is a true importance-weighted SAMPLE of the
    * raw corpus (the paper's estimator), not a hard argmax head that
    * would collapse onto near-duplicates of the target.
    *
    * Fit: features are md5-hashed unigrams + word bigrams in
    * `nBuckets` buckets (the hashing trick makes the model
    * vocabulary-free — one pass, no dictionary build); p̂ (rows
    * matching `isTarget`) and q̂ (the whole raw corpus) are
    * add-one-smoothed bucket multinomials, each an exact BIGINT count
    * table of `nBuckets` rows. Per-bucket log-ratio
    * lr_b = round(ln(p̂_b) − ln(q̂_b), 9) — each ln over ONE IEEE
    * division of exact int64s, so the value is engine-portable; the
    * per-doc weight w = Σ_b c_b·lr_b is decimal(28,9)-summed
    * (order-independent, bit-identical). The sampling key adds a
    * DETERMINISTIC Gumbel draw seeded from md5(doc_id) — rerun-stable,
    * oracle-replayable, and exactly the softmax-without-replacement
    * sample Gumbel-max gives.
    *
    * Scale shape at 100 TB: featurize is scan-local; ONE (doc, bucket)
    * partial-combined aggregate (≤ nBuckets rows per doc out); the fit
    * table is nBuckets rows → broadcast back for the weight join; the
    * per-doc weight is a second partial-combined aggregate; selection
    * is TakeOrderedAndProject (distributed top-k, no global sort). No
    * vocabulary table, no driver state, no corpus² term. Docs with no
    * tokens carry no evidence and are not scored.
    *
    * Output: (doc_id, n_feat, w, gumbel, sel_key), the top `k` rows by
    * sel_key = w + gumbel. w and sel_key are published as RAW doubles —
    * both are deterministic decimal-sum/IEEE-add chains, bit-identical
    * across engines (rounding them could land on a half-boundary).
    */
  def dsirSelect(docs: DataFrame, isTarget: Column, nBuckets: Int = 256,
      k: Int = 100, textCol: String = "text"): DataFrame = graft.CacheScope.pinned { p =>
    val base = graft.PlanUtils.spread(
      docs.select(col("doc_id"), isTarget.as("__t"), col(textCol)))
      .select(col("doc_id"), col("__t"), DedupOps.words(col(textCol)).as("__ws"))
    val unis = base.select(col("doc_id"), col("__t"), explode(col("__ws")).as("f"))
    val bis = base.filter(size(col("__ws")) >= 2)
      .select(col("doc_id"), col("__t"), explode(transform(
        sequence(lit(1), size(col("__ws")) - 1),
        i => concat_ws(" ", element_at(col("__ws"), i),
          element_at(col("__ws"), i + 1)))).as("f"))
    val h = conv(substring(md5(concat_ws("|", col("f"), lit("ds"))
      .cast("binary")), 1, 6), 16, 10).cast("long")
    val db = p(
      unis.unionByName(bis)
        .withColumn("bucket", h % lit(nBuckets.toLong))
        .groupBy("doc_id", "__t", "bucket").agg(count(lit(1)).as("c")))
    val fit = db.groupBy("bucket").agg(
      sum(when(col("__t"), col("c")).otherwise(0L)).as("cp"),
      sum(col("c")).as("cq"))
    val tots = fit.agg(sum("cp").as("tp"), sum("cq").as("tq"))
    val lr = fit.crossJoin(broadcast(tots))
      .select(col("bucket"),
        (round(log((col("cp") + 1L).cast("double")
            / (col("tp") + lit(nBuckets.toLong)).cast("double")), 9)
          - round(log((col("cq") + 1L).cast("double")
            / (col("tq") + lit(nBuckets.toLong)).cast("double")), 9)).as("lr"))
    // deterministic Gumbel: u exact-rational in (0,1) from a 24-bit md5
    // slice; each ln rounded 9 (libm parity), the chain is then two
    // identical IEEE doubles in every engine
    val u = (conv(substring(md5(concat_ws("|", col("doc_id"), lit("dsg"))
      .cast("binary")), 1, 6), 16, 10).cast("double") + lit(0.5))
      .divide(lit(16777216.0))
    val g1 = round(log(u), 9)
    db.join(broadcast(lr), "bucket")
      .groupBy("doc_id")
      .agg(sum("c").as("n_feat"),
        sum(round(col("c").cast("double") * col("lr"), 9)
          .cast("decimal(28,9)")).cast("double").as("w"))
      .withColumn("gumbel", round(-log(-g1), 9))
      .select(col("doc_id"), col("n_feat"), col("w"), col("gumbel"),
        (col("w") + col("gumbel")).as("sel_key"))
      .orderBy(col("sel_key").desc, col("doc_id")).limit(k)
  }
}
