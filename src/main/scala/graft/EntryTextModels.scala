package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.WelfordAgg
import graft.operators._
import graft.EntryHelpers._

/** BPE, collocations, LMs, MI/co-occurrence, ranks, projections, anomaly, folds, drift.
  *
  * One registry slice of [[SparkEntry]]: `queries` declares each gated
  * Spark pipeline once, as a [[Query]] beside the DuckDB replay the
  * driver hash-compares it against.
  */
private[graft] object EntryTextModels {

  val queries: Seq[Query] = Seq(
    // BPE tokenizer-training primitive: corpus-wide adjacent-char-pair
    // counts (the quantity each merge iteration maximizes), aggregated
    // over DISTINCT words first so the explode touches vocabulary, not
    // occurrences. Top-50, ties on the pair.
    // BPE primitive: same tokenizer, word-frequency table first, then
    // pairs of distinct words weighted by freq — mirrors the engine's
    // aggregate-before-explode plan
    Query("q_bpe_pairs", (s, dir) =>
      TextOps.bpePairCounts(Tables.documents(s, dir), 50),
      """WITH wf AS (
        |  SELECT word, count(*) AS freq FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '((?:[\.,!?;"])|(?:(?:\#|\@)?[A-Za-z0-9_\-]+(?:''[a-z]{1,3})?))', 1)) AS word
        |    FROM documents
        |  ) t GROUP BY word
        |), p AS (
        |  SELECT substring(word, i + 1, 2) AS pair, freq
        |  FROM wf JOIN range(64) r(i) ON i + 2 <= length(word)
        |  WHERE length(word) >= 2
        |)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        |FROM p GROUP BY pair
        |ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin),
    // Full BPE trainer: 8 merge rounds over the word-frequency table
    // (pick most-frequent adjacent symbol pair, merge every occurrence,
    // re-pair), then the final top-20 symbol vocabulary. Each round's
    // pick depends on all prior merges; the vocab section pins that
    // merges were applied, not just selected.
    // Full BPE trainer replay: 8 unrolled merge rounds + final vocab
    // (generator below — kmeans/pagerank MATERIALIZED-CTE pattern)
    {
      val (rounds, vocabTopK) = (8, 20)
      Query("q_bpe_merges", (s, dir) =>
        TextOps.bpeMerges(Tables.documents(s, dir), rounds = rounds, vocabTopK = vocabTopK),
        bpeMergesOracleSql(rounds, vocabTopK))
    },
    // Tokenizer application: merges fit on the train split (doc_id%5!=0)
    // encode the held-out eval split; per-doc token fan-out stats.
    {
      val (rounds, evalMod) = (8, 5)
      Query("q_bpe_encode", (s, dir) =>
        TextOps.bpeEncode(Tables.documents(s, dir), rounds = rounds, evalMod = evalMod),
        bpeEncodeOracleSql(rounds, evalMod))
    },
    // Tokenizer-fertility card: per-language tokens/word and
    // chars/token of the trained BPE over the held-out split — the
    // "which languages does this tokenizer price badly" report run
    // before committing a vocabulary. Exact-int ratios (ratioRound).
    // fertility replay: the per-doc encode oracle as a derived table,
    // lang-joined and aggregated; exact-int ratio publication
    {
      val (rounds, evalMod) = (8, 5)
      Query("q_bpe_fertility", (s, dir) => {
        val docs = Tables.documents(s, dir)
        val enc = TextOps.bpeEncode(docs, rounds = rounds, evalMod = evalMod)
          .join(docs.select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
        val byLang = enc.groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("n_words"), sum("n_tokens").as("n_tokens"),
          sum("n_chars").as("n_chars"))
        val allRow = byLang.agg(sum("n_docs").as("n_docs"),
            sum("n_words").as("n_words"), sum("n_tokens").as("n_tokens"),
            sum("n_chars").as("n_chars"))
          .select(lit("ALL").as("lang"), col("n_docs"), col("n_words"),
            col("n_tokens"), col("n_chars"))
        byLang.unionByName(allRow)
          .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
            col("n_chars"),
            graft.PlanUtils.ratioRound(col("n_tokens"), col("n_words"), 6)
              .as("tokens_per_word"),
            graft.PlanUtils.ratioRound(col("n_chars"), col("n_tokens"), 6)
              .as("chars_per_token"))
          .orderBy("lang")
      },
        s"""WITH g AS (
           |  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
           |         CAST(sum(e.n_words) AS BIGINT) AS n_words,
           |         CAST(sum(e.n_tokens) AS BIGINT) AS n_tokens,
           |         CAST(sum(d.n_chars) AS BIGINT) AS n_chars
           |  FROM (${bpeEncodeOracleSql(rounds, evalMod)}) e
           |  JOIN documents d USING (doc_id)
           |  GROUP BY d.lang
           |), u AS (
           |  SELECT * FROM g
           |  UNION ALL
           |  SELECT 'ALL', CAST(sum(n_docs) AS BIGINT), CAST(sum(n_words) AS BIGINT),
           |         CAST(sum(n_tokens) AS BIGINT), CAST(sum(n_chars) AS BIGINT)
           |  FROM g
           |)
           |SELECT lang, n_docs, n_words, n_tokens, n_chars,
           |       ${ratioRoundSql("n_tokens", "n_words", 6)} AS tokens_per_word,
           |       ${ratioRoundSql("n_chars", "n_tokens", 6)} AS chars_per_token
           |FROM u ORDER BY lang""".stripMargin)
    },
    // Exact-substring duplication: 32-char windows at stride 16 —
    // verbatim cross-doc text (boilerplate, licenses) that token-level
    // similarity smooths over. Inverted-index shape, exact integers.
    // string-side recomputation of the window postings: i*16+32 ≤ len
    // selects exactly the engine's positions 0..⌊(len−32)/16⌋
    Query("q_substring_dups", (s, dir) =>
      DedupOps.sharedSubstringStats(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_windows"), col("n_shared"),
          round(col("shared_frac"), 6).as("shared_frac"))
        .orderBy("doc_id"),
      """WITH el AS (
        |  SELECT doc_id, text FROM documents WHERE length(text) >= 32
        |), win AS (
        |  SELECT DISTINCT doc_id, substring(text, 1 + 16*i, 32) AS s
        |  FROM el JOIN range(64) t(i) ON 16*i + 32 <= length(text)
        |), dfreq AS (
        |  SELECT s, count(*) AS df FROM win GROUP BY s
        |)
        |SELECT doc_id, count(*) AS n_windows,
        |       CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |       round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS shared_frac
        |FROM win JOIN dfreq USING (s)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin),
    // Corpus-statistics quality: fraction of each doc's distinct
    // bigrams that are corpus-rare (df ≤ 2) — the count-based
    // perplexity-filter analogue; exact integer semantics so the
    // oracle gates it fully (keep flag decided on the unrounded ratio).
    // same tokenize+shingle construction as the dedup oracles at n=2;
    // df over distinct per-doc bigrams, rarity decided on exact ints
    Query("q_rare_bigrams", (s, dir) =>
      TextAnalysisOps.rareBigramStats(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
          round(col("rare_frac"), 6).as("rare_frac"), col("keep"))
        .orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM toks JOIN range(2000) t(i) ON i + 2 <= len(ws)
        |), dfreq AS (
        |  SELECT s, count(*) AS df FROM sh GROUP BY s
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |       round(CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS rare_frac,
        |       (CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*)) <= 0.4 AS keep
        |FROM sh JOIN dfreq USING (s)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin),
    // Collocation mining: top-50 adjacent token pairs by lift over the
    // shared tokenizer, published as integer ppm — all-count
    // arithmetic, so ranking AND values gate exactly (no float ratio).
    // collocations: adjacency via 1-based list indexing over
    // generate_series (empty when a doc has <2 tokens); lift in
    // 128-bit-exact integer arithmetic (HUGEINT / DECIMAL(38,0)) with
    // floor division — the int64 form overflowed at the sf10 audit.
    // uni/big MATERIALIZED: inlined, DuckDB can't derive the equi-join
    // against the correlated-unnest projection and plans CROSS_PRODUCT
    // (bigrams × vocabulary ≈ 15e9 rows at zipf_sf0.1's 80k types —
    // >60 GB spill; the 31-type uniform corpus hid it)
    Query("q_colloc", (s, dir) =>
      TextOps.collocations(Tables.documents(s, dir), minCount = 5, k = 50),
      """WITH toks AS (
        |  SELECT regexp_extract_all(lower(text), '((?:[\.,!?;"])|(?:(?:\#|\@)?[A-Za-z0-9_\-]+(?:''[a-z]{1,3})?))', 1) AS t
        |  FROM documents
        |), flat AS (SELECT unnest(t) AS word FROM toks),
        |uni AS MATERIALIZED (SELECT word, count(*) AS c FROM flat GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM flat),
        |big AS MATERIALIZED (
        |  SELECT t[i] AS w1, t[i+1] AS w2, count(*) AS cxy
        |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
        |  GROUP BY 1, 2
        |)
        |SELECT w1, w2, cxy,
        |       CAST((CAST(cxy AS HUGEINT) * 1000000 * tot.n)
        |            // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS lift_ppm
        |FROM big CROSS JOIN tot
        |JOIN uni u1 ON u1.word = w1
        |JOIN uni u2 ON u2.word = w2
        |WHERE cxy >= 5
        |ORDER BY lift_ppm DESC, w1, w2 LIMIT 50""".stripMargin),
    // CCNet-style perplexity filter core: add-one-smoothed bigram LM
    // trained ON the corpus, each doc scored by average bigram NLL. Terms
    // rounded at 9 dp (libm rule), decimal-summed, published at 6 dp;
    // keep decided on the published value so the flag is engine-exact.
    // bigram LM: same tokenizer as the dedup family; unigram counts
    // over ALL positions, V = distinct vocab, add-one smoothing. NLL
    // term = ln((c1+V)/(c2+1)) rounded 9, decimal-summed, avg at 6 dp;
    // keep on the published value (mirrors TextOps.bigramNll exactly)
    Query("q_lm_nll", (s, dir) =>
      TextOps.bigramNll(Tables.documents(s, dir), keepBelow = LmKeepBelow)
        .orderBy("doc_id"),
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
         |  FROM documents
         |), big AS MATERIALIZED (
         |  SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2
         |  FROM toks JOIN range(2000) t(i) ON i + 2 <= len(ws)
         |), uni AS (
         |  SELECT unnest(ws) AS w FROM toks
         |), c2 AS MATERIALIZED (
         |  SELECT w1, w2, count(*) AS c2 FROM big GROUP BY w1, w2
         |), c1 AS MATERIALIZED (
         |  SELECT w AS w1, count(*) AS c1 FROM uni GROUP BY w
         |), v AS (SELECT count(DISTINCT w) AS v FROM uni),
         |terms AS (
         |  SELECT doc_id,
         |         round(ln(CAST(c1.c1 + v.v AS DOUBLE) / (c2.c2 + 1)), 9) AS nll
         |  FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
         |)
         |SELECT doc_id, n_bigrams, avg_nll, avg_nll <= $LmKeepBelow AS keep FROM (
         |  SELECT doc_id, count(*) AS n_bigrams,
         |         round(CAST(sum(CAST(nll AS DECIMAL(28,12))) AS DOUBLE)
         |               / count(*), 6) AS avg_nll
         |  FROM terms GROUP BY doc_id)
         |ORDER BY doc_id""".stripMargin),
    // Curation-classifier shape (fastText/CCNet): multinomial Naive
    // Bayes language classifier trained on the mod-5 train split,
    // classifying the held-out split. Count tables are vocab×class-
    // keyed; 9-dp ln terms + decimal sums make score AND argmax
    // engine-exact (ties break to the smaller class label).
    // NB replay: same counts, same 9-dp ln terms, same decimal sums;
    // argmax by row_number over the exact decimal score
    Query("q_naive_bayes", (s, dir) =>
      TextOps.naiveBayes(Tables.documents(s, dir), labelCol = "lang", evalMod = 5)
        .orderBy("doc_id"),
      NaiveBayesOracle),
    // Feature selection for the curation classifiers: mutual
    // information between doc-level token presence and the language
    // label (IR §13.5.1). All-count probability ratios, 9-dp ln
    // terms, decimal sums — ranking and values engine-exact; top-30
    // rides TakeOrderedAndProject.
    // token-presence × language MI: exact-count ratios, 9-dp ln
    // terms (one double division of int64 products), decimal sums
    Query("q_mi_tokens", (s, dir) =>
      TextOps.tokenLabelMi(Tables.documents(s, dir), labelCol = "lang", k = 30),
      """WITH ws AS (
        |  SELECT lang AS label,
        |         list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws
        |  FROM documents
        |), pres AS (SELECT label, unnest(ws) AS token FROM ws),
        |a AS (SELECT token, label, count(*) AS a FROM pres GROUP BY 1, 2),
        |ta AS (SELECT token, sum(a) AS ta FROM a GROUP BY 1),
        |nc AS (SELECT lang AS label, count(*) AS nc FROM documents GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |grid AS (
        |  SELECT t.token, c.label, coalesce(a.a, 0) AS a, t.ta, c.nc, n.n
        |  FROM ta t CROSS JOIN nc c CROSS JOIN n
        |  LEFT JOIN a ON a.token = t.token AND a.label = c.label
        |), terms AS (
        |  SELECT token,
        |    CASE WHEN a > 0
        |         THEN round((CAST(a AS DOUBLE) / n)
        |              * ln(CAST(a * n AS DOUBLE) / (ta * nc)), 9)
        |         ELSE 0.0 END AS t1,
        |    CASE WHEN nc - a > 0
        |         THEN round((CAST(nc - a AS DOUBLE) / n)
        |              * ln(CAST((nc - a) * n AS DOUBLE) / ((n - ta) * nc)), 9)
        |         ELSE 0.0 END AS t0
        |  FROM grid
        |)
        |SELECT token,
        |       round(CAST(sum(CAST(t1 AS DECIMAL(28,12))
        |                      + CAST(t0 AS DECIMAL(28,12))) AS DOUBLE), 6) AS mi
        |FROM terms GROUP BY token
        |ORDER BY mi DESC, token LIMIT 30""".stripMargin),
    // χ² term–label screen (Yang & Pedersen 1997) — MI's frequentist
    // sibling on the same presence table: 2×2 contingency per token
    // vs the en label, 128-bit-exact products, one IEEE division.
    // χ² replay: same 2×2 presence contingency, HUGEINT lanes
    // mirroring DECIMAL(38,0), one double division rounded 6 dp;
    // ranking key is the division's bit-identical result
    Query("q_chi2_terms", (s, dir) =>
      TextOps.chiSquaredTerms(Tables.documents(s, dir),
        col("lang") === "en", k = 30),
      """WITH d AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |         list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws
        |  FROM documents
        |), pres AS (
        |  SELECT y, unnest(ws) AS token FROM d
        |), bytok AS (
        |  SELECT token, count(*) AS ta, CAST(sum(y) AS BIGINT) AS a
        |  FROM pres GROUP BY token
        |), tot AS (
        |  SELECT count(*) AS n,
        |         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM documents
        |), sc AS (
        |  SELECT token, a, ta, n1, n,
        |         CAST(a AS HUGEINT) * (n - ta - n1 + a)
        |           - CAST(ta - a AS HUGEINT) * (n1 - a) AS diff,
        |         CAST(ta AS HUGEINT) * (n - ta) * n1 * (n - n1) AS den
        |  FROM bytok CROSS JOIN tot
        |)
        |SELECT token, a, ta, n1, n,
        |       CASE WHEN den > 0
        |            THEN round(CAST(CAST(n AS HUGEINT) * diff * diff AS DOUBLE)
        |                       / CAST(den AS DOUBLE), 6)
        |            ELSE 0.0 END AS chi2
        |FROM sc ORDER BY chi2 DESC, token LIMIT 30""".stripMargin),
    // GloVe/word2vec prep: windowed co-occurrence counts (offsets
    // 1..3, map-only zip_with pair generation — no positional
    // self-join) scored by PPMI against the pair-table marginals.
    // windowed co-occurrence + PPMI: pairs from the positional arrays
    // (offsets 1..3), marginals from the pair table itself, single
    // 9-dp ln term clamped at 0. cab is MATERIALIZED (ea3a5ce class):
    // it is referenced three times (tot, marg, final join), and DuckDB
    // inlines plain CTEs — at zipf_sf10 that re-runs the 1.5e8-row
    // positional explode + pair aggregation three times (> 900 s);
    // materialized once it is a single pass
    Query("q_cooccur", (s, dir) =>
      TextOps.windowedCooccur(Tables.documents(s, dir), window = 3, minCount = 5),
      """WITH toks AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
        |), big AS (
        |  SELECT least(ws[i], ws[i + d]) AS w1, greatest(ws[i], ws[i + d]) AS w2
        |  FROM toks,
        |       LATERAL unnest(generate_series(1, len(ws) - 1)) g(i),
        |       LATERAL unnest(generate_series(1, 3)) dd(d)
        |  WHERE i + d <= len(ws)
        |), cab AS MATERIALIZED (SELECT w1, w2, count(*) AS n_ab FROM big GROUP BY 1, 2),
        |tot AS (SELECT sum(n_ab) AS t FROM cab),
        |marg AS (
        |  SELECT w, sum(n_ab) AS m FROM (
        |    SELECT w1 AS w, n_ab FROM cab
        |    UNION ALL SELECT w2, n_ab FROM cab) GROUP BY w
        |)
        |SELECT w1, w2, n_ab,
        |       CAST(round(CAST(greatest(0.0,
        |         round(ln(CAST(n_ab * tot.t AS DOUBLE) / (m1.m * m2.m)), 9))
        |         AS DECIMAL(28,9)), 6) AS DOUBLE) AS ppmi
        |FROM cab CROSS JOIN tot
        |JOIN marg m1 ON m1.w = w1
        |JOIN marg m2 ON m2.w = w2
        |WHERE n_ab >= 5
        |ORDER BY w1, w2""".stripMargin),
    // Keyword salience: TextRank — damped weighted PageRank over the
    // same co-occurrence graph (5 rounds, 9-dp fixpoint path).
    // TextRank replay: same pair graph, exact-int edge fractions,
    // unrolled damped rounds on the 9-dp/decimal-sum path
    {
      val (window, minCount, damping, rounds) = (3, 5, 0.85, 5)
      Query("q_textrank", (s, dir) =>
        TextOps.textRank(Tables.documents(s, dir), window = window, minCount = minCount,
            damping = damping, rounds = rounds)
          .orderBy("word"),
        s"""WITH toks AS (
           |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
           |), big AS (
           |  SELECT least(ws[i], ws[i + d]) AS w1, greatest(ws[i], ws[i + d]) AS w2
           |  FROM toks,
           |       LATERAL unnest(generate_series(1, len(ws) - 1)) g(i),
           |       LATERAL unnest(generate_series(1, $window)) dd(d)
           |  WHERE i + d <= len(ws)
           |), cab AS (
           |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n FROM big GROUP BY 1, 2
           |  HAVING count(*) >= $minCount
           |), tred AS (
           |  SELECT w1 AS src, w2 AS dst, n FROM cab
           |  UNION ALL SELECT w2, w1, n FROM cab
           |), trws AS (
           |  SELECT src, CAST(sum(n) AS BIGINT) AS w_out FROM tred GROUP BY src
           |), tre AS MATERIALIZED (
           |  SELECT e.src, e.dst, CAST(e.n AS DOUBLE) / CAST(w.w_out AS DOUBLE) AS frac
           |  FROM tred e JOIN trws w ON w.src = e.src
           |), trnodes AS MATERIALIZED (SELECT src AS word, w_out FROM trws),
           |trcnt AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM trnodes),
           |tr0 AS MATERIALIZED (
           |  SELECT word,
           |    round(CAST(1 AS DOUBLE) / CAST((SELECT nn FROM trcnt) AS DOUBLE), 9) AS r
           |  FROM trnodes
           |),
           |${trRoundsSql(rounds, damping)}
           |SELECT n.word, n.w_out, round(r.r, 6) AS rank
           |FROM trnodes n JOIN tr$rounds r USING (word) ORDER BY word""".stripMargin)
    },
    // Link-graph centrality (web-crawl quality prior): PageRank with
    // damping 0.85 over a deterministic synthetic crawl graph (dense
    // doc ids, fixed out-degree 3, skewed in-degrees). Scaled-INTEGER
    // rank keeps every loop iteration BIGINT-exact — rank_scaled gates
    // the whole 5-round scatter/gather bit-for-bit; the double `rank`
    // is one final exact-int division.
    // PageRank, 5 unrolled scatter/gather rounds in scaled-integer
    // arithmetic: R_{k+1} = 9*60^k + 17*sum(in-edge R_k), R_0 = 1 —
    // rank = R_5 / (N * 60^5). Same synthetic fixed-outdeg-3 graph as
    // GraphOps.syntheticEdges; every value BIGINT until the last divide
    Query("q_pagerank", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1 // dense ids
      val nodes = docs.select(col("doc_id").as("node"))
      GraphOps.pageRank(nodes, GraphOps.syntheticEdges(nodes, n),
          outDeg = 3, iters = 5, nNodes = n)
        .select(col("node").as("doc_id"), col("rank_scaled"), col("rank"))
        .orderBy("doc_id")
    },
      """WITH p AS (SELECT count(*) AS n FROM documents),
        |e AS (
        |  SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM documents, p
        |  UNION ALL SELECT doc_id, (doc_id * 2 + 3) % n FROM documents, p
        |  UNION ALL SELECT doc_id, (doc_id * doc_id + 5) % n FROM documents, p
        |),
        |r0 AS (SELECT doc_id AS node, CAST(1 AS BIGINT) AS r FROM documents),
        |s1 AS (SELECT e.dst AS node, sum(r.r) AS s FROM e JOIN r0 r ON r.node = e.src GROUP BY e.dst),
        |r1 AS (SELECT r0.node, CAST(9 + 17 * coalesce(s1.s, 0) AS BIGINT) AS r FROM r0 LEFT JOIN s1 USING (node)),
        |s2 AS (SELECT e.dst AS node, sum(r.r) AS s FROM e JOIN r1 r ON r.node = e.src GROUP BY e.dst),
        |r2 AS (SELECT r1.node, CAST(540 + 17 * coalesce(s2.s, 0) AS BIGINT) AS r FROM r1 LEFT JOIN s2 USING (node)),
        |s3 AS (SELECT e.dst AS node, sum(r.r) AS s FROM e JOIN r2 r ON r.node = e.src GROUP BY e.dst),
        |r3 AS (SELECT r2.node, CAST(32400 + 17 * coalesce(s3.s, 0) AS BIGINT) AS r FROM r2 LEFT JOIN s3 USING (node)),
        |s4 AS (SELECT e.dst AS node, sum(r.r) AS s FROM e JOIN r3 r ON r.node = e.src GROUP BY e.dst),
        |r4 AS (SELECT r3.node, CAST(1944000 + 17 * coalesce(s4.s, 0) AS BIGINT) AS r FROM r3 LEFT JOIN s4 USING (node)),
        |s5 AS (SELECT e.dst AS node, sum(r.r) AS s FROM e JOIN r4 r ON r.node = e.src GROUP BY e.dst),
        |r5 AS (SELECT r4.node, CAST(116640000 + 17 * coalesce(s5.s, 0) AS BIGINT) AS r FROM r4 LEFT JOIN s5 USING (node))
        |SELECT r5.node AS doc_id, r5.r AS rank_scaled,
        |       round(CAST(r5.r AS DOUBLE) / (p.n * 777600000.0), 9) AS rank
        |FROM r5, p ORDER BY doc_id""".stripMargin),
    // Personalized PageRank from a 10-doc seed set (doc_id < 10) —
    // the seed-biased relevance walk behind related-docs and
    // crawl-frontier ranking. Same scaled-BIGINT trick as q_pagerank:
    // teleport mass goes only to seeds, so the whole 5-round walk
    // gates bit-for-bit; `rank` is one final exact-int division by
    // |S|·60⁵. Edge list shuffles once; rounds move the node table.
    // Personalized PageRank: same unrolled scaled-BIGINT walk, but
    // R_0 = [v ∈ S] and teleport mass lands only on the 10 seeds
    // (doc_id < 10); rank = R_5 / (|S| * 60^5)
    Query("q_ppr", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val n = docs.agg(max("doc_id")).head().getLong(0) + 1 // dense ids
      val nodes = docs.select(col("doc_id").as("node"),
        (col("doc_id") < 10).as("seed"))
      GraphOps.personalizedPageRank(nodes,
          GraphOps.syntheticEdges(nodes, n), outDeg = 3, iters = 5,
          nSeeds = 10)
        .select(col("node").as("doc_id"), col("rank_scaled"), col("rank"))
        .orderBy("doc_id")
    },
      """WITH p AS (SELECT count(*) AS n FROM documents),
        |e AS (
        |  SELECT doc_id AS src, (doc_id + 1) % n AS dst FROM documents, p
        |  UNION ALL SELECT doc_id, (doc_id * 2 + 3) % n FROM documents, p
        |  UNION ALL SELECT doc_id, (doc_id * doc_id + 5) % n FROM documents, p
        |),
        |r0 AS (SELECT doc_id AS node, CAST(CASE WHEN doc_id < 10 THEN 1 ELSE 0 END AS BIGINT) AS r FROM documents),
        |s1 AS (SELECT e.dst AS node, sum(r.r) AS s FROM e JOIN r0 r ON r.node = e.src GROUP BY e.dst),
        |r1 AS (SELECT r0.node, CAST(CASE WHEN r0.node < 10 THEN 9 ELSE 0 END + 17 * coalesce(s1.s, 0) AS BIGINT) AS r FROM r0 LEFT JOIN s1 USING (node)),
        |s2 AS (SELECT e.dst AS node, sum(r.r) AS s FROM e JOIN r1 r ON r.node = e.src GROUP BY e.dst),
        |r2 AS (SELECT r1.node, CAST(CASE WHEN r1.node < 10 THEN 540 ELSE 0 END + 17 * coalesce(s2.s, 0) AS BIGINT) AS r FROM r1 LEFT JOIN s2 USING (node)),
        |s3 AS (SELECT e.dst AS node, sum(r.r) AS s FROM e JOIN r2 r ON r.node = e.src GROUP BY e.dst),
        |r3 AS (SELECT r2.node, CAST(CASE WHEN r2.node < 10 THEN 32400 ELSE 0 END + 17 * coalesce(s3.s, 0) AS BIGINT) AS r FROM r2 LEFT JOIN s3 USING (node)),
        |s4 AS (SELECT e.dst AS node, sum(r.r) AS s FROM e JOIN r3 r ON r.node = e.src GROUP BY e.dst),
        |r4 AS (SELECT r3.node, CAST(CASE WHEN r3.node < 10 THEN 1944000 ELSE 0 END + 17 * coalesce(s4.s, 0) AS BIGINT) AS r FROM r3 LEFT JOIN s4 USING (node)),
        |s5 AS (SELECT e.dst AS node, sum(r.r) AS s FROM e JOIN r4 r ON r.node = e.src GROUP BY e.dst),
        |r5 AS (SELECT r4.node, CAST(CASE WHEN r4.node < 10 THEN 116640000 ELSE 0 END + 17 * coalesce(s5.s, 0) AS BIGINT) AS r FROM r4 LEFT JOIN s5 USING (node))
        |SELECT r5.node AS doc_id, r5.r AS rank_scaled,
        |       round(CAST(r5.r AS DOUBLE) / 7776000000.0, 9) AS rank
        |FROM r5 ORDER BY doc_id""".stripMargin),
    // Embedding conditioning: per-dimension z-score normalization
    // (stats over ALL 64 dims — one partial-aggregated dims-row
    // exchange — published slice bounded to dims < 8). z derives from
    // the PUBLISHED rounded mean/std, so every engine agrees exactly.
    // per-dim z-score: stats over all 64 dims (decMean + rounded
    // stddev_pop), z from the PUBLISHED rounded pair, slice dim < 8
    Query("q_embed_zscore", (s, dir) =>
      SimilarityOps.dimensionZScore(Tables.embeddings(s, dir), outDims = 8)
        .orderBy("vec_id", "dim"),
      """WITH ex AS (
        |  SELECT vec_id, d AS dim, CAST(embedding[d+1] AS DOUBLE) AS x
        |  FROM embeddings, range(64) r(d)
        |), st AS (
        |  SELECT dim,
        |         round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
        |               / count(*), 6) AS mean,
        |         round(stddev_pop(x), 6) AS std
        |  FROM ex GROUP BY dim
        |)
        |SELECT ex.vec_id, ex.dim, ex.x,
        |       CASE WHEN st.std > 0
        |            THEN round((ex.x - st.mean) / st.std, 4) + 0.0 END AS z
        |FROM ex JOIN st USING (dim) WHERE ex.dim < 8
        |ORDER BY vec_id, dim""".stripMargin),
    // JL Rademacher projection 64→16 + distortion certificate over
    // adjacent pairs: md5-derived ±1 signs, decimal-summed projections
    // (exact 0.25 scale), ratio ‖Δp‖²/‖Δx‖² bound-checked on BOTH
    // sides (the oracle recomputes the check, so the gate hashes the
    // claim itself). Measured range at sf0.1: [0.23, 2.34].
    // JL replay: same md5 signs, decimal sums, exact 0.25 scale;
    // the bound check recomputes on the raw ratio
    Query("q_jl_project", (s, dir) =>
      SimilarityOps.jlDistortionPairs(Tables.embeddings(s, dir),
          inDims = 64, outDims = 16, lo = 0.15, hi = 3.0)
        .orderBy("va"),
      """WITH signs AS MATERIALIZED (
        |  SELECT j, d, CASE WHEN substr(md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1) <= '7'
        |               THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END AS s
        |  FROM range(64) a(j), range(16) b(d)
        |), p AS MATERIALIZED (
        |  SELECT e.vec_id, s.d,
        |         CAST(sum(CAST(s.s * CAST(e.embedding[s.j + 1] AS DOUBLE) AS DECIMAL(38,18))) AS DOUBLE) * 0.25 AS p
        |  FROM embeddings e, signs s
        |  GROUP BY e.vec_id, s.d
        |), d2o AS (
        |  SELECT a.vec_id AS va,
        |         CAST(sum(CAST((CAST(a.embedding[i+1] AS DOUBLE) - CAST(b.embedding[i+1] AS DOUBLE))
        |              * (CAST(a.embedding[i+1] AS DOUBLE) - CAST(b.embedding[i+1] AS DOUBLE)) AS DECIMAL(38,18))) AS DOUBLE) AS d2o
        |  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1 AND a.vec_id % 2 = 0,
        |       range(64) r(i)
        |  GROUP BY a.vec_id
        |), d2p AS (
        |  SELECT pa.vec_id AS va,
        |         CAST(sum(CAST((pa.p - pb.p) * (pa.p - pb.p) AS DECIMAL(38,18))) AS DOUBLE) AS d2p
        |  FROM p pa JOIN p pb ON pb.vec_id = pa.vec_id + 1 AND pa.d = pb.d AND pa.vec_id % 2 = 0
        |  GROUP BY pa.vec_id
        |)
        |SELECT d2o.va, d2o.va + 1 AS vb, round(d2p.d2p, 6) AS d2p,
        |       round(d2o.d2o, 6) AS d2o,
        |       round(CASE WHEN d2o.d2o <> 0.0 THEN d2p.d2p / d2o.d2o END, 6) AS ratio,
        |       CASE WHEN d2o.d2o <> 0.0
        |            THEN d2p.d2p / d2o.d2o >= 0.15 AND d2p.d2p / d2o.d2o <= 3.0 END AS within_bound
        |FROM d2o JOIN d2p USING (va) ORDER BY va""".stripMargin),
    // Rolling z-score anomaly detection: each event scored against the
    // mean/std of its 6 predecessors (frame excludes self; cold-start
    // and zero-variance rows null out). One exchange + one WindowExec.
    // rolling anomaly: decimal-exact frame mean + rounded frame stddev
    // (6 PRECEDING..1 PRECEDING, total order), z from the published
    // pair, null under cold start (n_prior < 4) or zero variance
    Query("q_ts_anomaly", (s, dir) =>
      TemporalOps.rollingAnomaly(
          Tables.events(s, dir).filter(col("user_id") < 30),
          Seq("user_id"), "ts", "value", "event_id")
        .select(col("user_id"), col("event_id"), col("seq"), col("value"),
          col("n_prior"), col("base_mean"), col("base_std"), col("z"),
          col("is_anomaly"))
        .orderBy("user_id", "seq"),
      TsAnomalyOracle),
    // CUSUM mean-shift monitor per event type on the daily deci-grid
    // value stream — the sustained-small-shift detector q_ts_anomaly's
    // per-point z-score can't catch. Page's recursion via the
    // prefix-min identity; every published statistic an exact integer.
    // CUSUM replay: integer-scaled deviations dev = s·N − n·T in
    // HUGEINT lanes (DECIMAL(38,0) on the engine side), running
    // sum/min/max windows over the day grid, exact-int publication
    Query("q_cusum", (s, dir) =>
      TemporalOps.cusumShift(Tables.events(s, dir), col("event_type"),
          col("ts"), expr("CAST(floor(value * 10) AS BIGINT)"))
        .orderBy("grp", "day"),
      """WITH daily AS (
        |  SELECT event_type AS grp, epoch_us(ts) // 86400000000 AS day,
        |         sum(CAST(CAST(floor(value * 10) AS BIGINT) AS HUGEINT)) AS s,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2
        |), tot AS (
        |  SELECT grp, sum(s) AS t, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM daily GROUP BY grp
        |), dv AS (
        |  SELECT d.grp, d.day, d.cnt, d.s * t.n - d.cnt * t.t AS dev
        |  FROM daily d JOIN tot t USING (grp)
        |), cw AS (
        |  SELECT grp, day, cnt, dev,
        |         sum(dev) OVER w AS c
        |  FROM dv WINDOW w AS (PARTITION BY grp ORDER BY day
        |                       ROWS UNBOUNDED PRECEDING)
        |), x AS (
        |  SELECT grp, day, cnt, dev, c,
        |         c - min(c) OVER w AS cusum_pos,
        |         max(c) OVER w - c AS cusum_neg
        |  FROM cw WINDOW w AS (PARTITION BY grp ORDER BY day
        |                       ROWS UNBOUNDED PRECEDING)
        |)
        |SELECT grp, day, cnt AS n, CAST(dev AS BIGINT) AS dev,
        |       CAST(cusum_pos AS BIGINT) AS cusum_pos,
        |       CAST(cusum_neg AS BIGINT) AS cusum_neg,
        |       cusum_pos = max(cusum_pos) OVER (PARTITION BY grp) AS is_peak
        |FROM x ORDER BY grp, day""".stripMargin),
    // Day-of-week seasonal decomposition per event type: the weekday
    // effect profile + the day that most broke its own weekday pattern
    // — exact-int ratio arithmetic end to end.
    // seasonal replay: same day/dow aggregates, HUGEINT cross
    // products, residual ranked on the identical unrounded double
    Query("q_seasonal", (s, dir) =>
      TemporalOps.seasonalProfile(Tables.events(s, dir), col("event_type"),
          col("ts"), expr("CAST(floor(value * 10) AS BIGINT)"))
        .orderBy("grp", "dow"),
      s"""WITH daily AS (
        |  SELECT event_type AS grp, epoch_us(ts) // 86400000000 AS day,
        |         sum(CAST(CAST(floor(value * 10) AS BIGINT) AS HUGEINT)) AS s,
        |         CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2
        |), d2 AS (SELECT *, day % 7 AS dow FROM daily),
        |tot AS (
        |  SELECT grp, sum(s) AS t, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM daily GROUP BY grp
        |), bydow AS (
        |  SELECT grp, dow, sum(s) AS sw, CAST(sum(cnt) AS BIGINT) AS cw,
        |         CAST(count(*) AS BIGINT) AS n_days
        |  FROM d2 GROUP BY grp, dow
        |), prof AS (
        |  SELECT b.grp, b.dow, b.n_days, b.cw AS n,
        |         ${ratioRoundSql("b.sw * t.n - b.cw * t.t",
                    "CAST(b.cw AS HUGEINT) * t.n", 6)} + 0.0 AS eff
        |  FROM bydow b JOIN tot t USING (grp)
        |), res AS (
        |  SELECT d.grp, d.dow, d.day,
        |         d.s * b.cw - CAST(d.cnt AS HUGEINT) * b.sw AS rnum,
        |         CAST(d.cnt AS HUGEINT) * b.cw AS rden,
        |         CAST(d.s * b.cw - CAST(d.cnt AS HUGEINT) * b.sw AS DOUBLE)
        |           / CAST(CAST(d.cnt AS HUGEINT) * b.cw AS DOUBLE) AS res
        |  FROM d2 d JOIN bydow b USING (grp, dow)
        |), pk AS (
        |  SELECT grp, dow, day AS peak_day,
        |         ${ratioRoundSql("rnum", "rden", 6)} + 0.0 AS peak_res
        |  FROM (SELECT *, row_number() OVER (PARTITION BY grp, dow
        |                                     ORDER BY abs(res) DESC, day) AS rk
        |        FROM res) x
        |  WHERE rk = 1
        |)
        |SELECT p.grp, p.dow, p.n_days, p.n, p.eff, k.peak_day, k.peak_res
        |FROM prof p JOIN pk k USING (grp, dow)
        |ORDER BY grp, dow""".stripMargin),
    // Sample autocorrelation r_1..r_7 per event type over the
    // calendar-dense daily sum series — the seasonality DIAGNOSTIC
    // (q_seasonal assumes the weekly cycle; this measures it). Exact
    // mean-cleared integer rationals through ratioRound.
    // ACF replay: dense calendar grid via generate_series, one
    // 7-lag window pass, mean-cleared integer rationals in HUGEINT
    // lanes, exact half-up publication
    Query("q_acf", (s, dir) =>
      TemporalOps.acf(Tables.events(s, dir), col("event_type"),
          col("ts"), expr("CAST(floor(value * 10) AS BIGINT)"))
        .orderBy("grp", "k"),
      s"""$AcfCtes
        |SELECT p.grp, p.k, p.n_pairs,
        |       CASE WHEN n * n * q - n * t * t > 0 THEN
        |         ${ratioRoundSql(
                   "n * n * p_k - n * t * (a_k + b_k) + CAST(n_pairs AS HUGEINT) * t * t",
                   "n * n * q - n * t * t", 6)} + 0.0
        |       END AS acf
        |FROM perk p JOIN tot USING (grp)
        |ORDER BY grp, k""".stripMargin),
    // Whiteness test on the published ACF lanes: Ljung–Box Q over
    // lags 1..7 per event type — quantized-term portmanteau, one
    // IEEE dag, χ²(7) significance.
    // Ljung–Box replay: the same ACF lanes as a CTE, micro-unit
    // integers recovered by round(acf·10⁶), terms quantized by
    // hugeint half-up, the identical Q dag
    Query("q_ljung_box", (s, dir) =>
      TemporalOps.ljungBox(Tables.events(s, dir), col("event_type"),
          col("ts"), expr("CAST(floor(value * 10) AS BIGINT)"))
        .orderBy("grp"),
      s"""$AcfCtes
        |, acfr AS (
        |  SELECT p.grp, p.k, p.n_pairs,
        |       CASE WHEN n * n * q - n * t * t > 0 THEN
        |         ${ratioRoundSql(
                   "n * n * p_k - n * t * (a_k + b_k) + CAST(n_pairs AS HUGEINT) * t * t",
                   "n * n * q - n * t * t", 6)} + 0.0
        |       END AS acf
        |  FROM perk p JOIN tot USING (grp)
        |), lb AS (
        |  SELECT grp, CAST(max(n_pairs + k) AS BIGINT) AS n,
        |         CAST(count(*) AS BIGINT) AS m,
        |         CAST(count(acf) AS BIGINT) AS m_ok,
        |         sum(CASE WHEN acf IS NOT NULL THEN
        |               (2 * (CAST(CAST(round(acf * 1000000.0) AS BIGINT)
        |                          AS HUGEINT)
        |                     * CAST(round(acf * 1000000.0) AS BIGINT)
        |                     * 1000) + n_pairs)
        |                 // (2 * CAST(n_pairs AS HUGEINT))
        |             ELSE 0 END) AS st
        |  FROM acfr GROUP BY grp
        |)
        |SELECT grp, n, m,
        |  CASE WHEN m_ok = m THEN
        |    ${ratioRoundSql("CAST(n AS HUGEINT) * (n + 2) * st",
             "CAST(1000000000000000 AS HUGEINT)", 6)} + 0.0 END AS q_stat,
        |  coalesce(CASE WHEN m_ok = m THEN
        |    ${ratioRoundSql("CAST(n AS HUGEINT) * (n + 2) * st",
             "CAST(1000000000000000 AS HUGEINT)", 6)} + 0.0 END > 14.067,
        |    FALSE) AS significant
        |FROM lb ORDER BY grp""".stripMargin),
    // Nonparametric trend kit per event type: Mann–Kendall S/z
    // (exact-int S, tie-corrected variance, one IEEE z dag) +
    // Theil–Sen slope (median pairwise rational through ratioRound)
    // — q_cusum detects level SHIFTS, this detects monotone DRIFT.
    // Mann–Kendall/Theil–Sen replay: same pairwise day table, exact
    // S and tie-corrected 18·Var in HUGEINT lanes, the identical z
    // dag, slope median by (double, num, den) rank with the two
    // middle picks averaged as an exact rational
    Query("q_trend_robust", (s, dir) =>
      TemporalOps.trendRobust(Tables.events(s, dir), col("event_type"),
          col("ts"), expr("CAST(floor(value * 10) AS BIGINT)"))
        .orderBy("grp"),
      s"""WITH daily AS (
        |  SELECT event_type AS grp, epoch_us(ts) // 86400000000 AS day,
        |         sum(CAST(CAST(floor(value * 10) AS BIGINT) AS HUGEINT)) AS s
        |  FROM events GROUP BY 1, 2
        |), pairs AS (
        |  SELECT a.grp, b.s - a.s AS num, b.day - a.day AS den
        |  FROM daily a JOIN daily b ON a.grp = b.grp AND a.day < b.day
        |), mk AS (
        |  SELECT grp, CAST(sum(CASE WHEN num > 0 THEN 1
        |                            WHEN num < 0 THEN -1
        |                            ELSE 0 END) AS BIGINT) AS s_mk
        |  FROM pairs GROUP BY grp
        |), nd AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_days
        |          FROM daily GROUP BY grp),
        |tt AS (
        |  SELECT grp, sum(t * (t - 1) * (2 * t + 5)) AS tt FROM (
        |    SELECT grp, CAST(count(*) AS BIGINT) AS t
        |    FROM daily GROUP BY grp, s) GROUP BY grp
        |), v AS (
        |  SELECT nd.grp, n_days,
        |         n_days * (n_days - 1) * (2 * n_days + 5) - tt AS v18
        |  FROM nd JOIN tt USING (grp)
        |), ranked AS (
        |  SELECT grp, num, den,
        |         row_number() OVER (PARTITION BY grp
        |           ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE),
        |                    num, den) AS rn,
        |         CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS c
        |  FROM pairs
        |), picks AS (
        |  SELECT grp,
        |         max(CASE WHEN rn = (c + 1) // 2 THEN num END) AS n1,
        |         max(CASE WHEN rn = (c + 1) // 2 THEN den END) AS d1,
        |         max(CASE WHEN rn = (c + 2) // 2 THEN num END) AS n2,
        |         max(CASE WHEN rn = (c + 2) // 2 THEN den END) AS d2
        |  FROM ranked GROUP BY grp
        |)
        |SELECT v.grp, v.n_days, coalesce(m.s_mk, 0) AS s_mk,
        |       CASE WHEN v18 > 0 THEN
        |         CASE WHEN m.s_mk > 0 THEN
        |                (CAST(m.s_mk AS DOUBLE) - 1.0)
        |                  / sqrt(CAST(v18 AS DOUBLE) / 18.0)
        |              WHEN m.s_mk < 0 THEN
        |                (CAST(m.s_mk AS DOUBLE) + 1.0)
        |                  / sqrt(CAST(v18 AS DOUBLE) / 18.0)
        |              ELSE 0.0 END END AS z_mk,
        |       ${ratioRoundSql("n1 * d2 + n2 * d1",
                  "2 * CAST(d1 AS HUGEINT) * d2", 6)} + 0.0 AS sen_slope
        |FROM v LEFT JOIN mk m USING (grp) LEFT JOIN picks USING (grp)
        |ORDER BY grp""".stripMargin),
    // Semi-structured extraction: the events.props JSON column parsed
    // with a real JSON reader (from_json + schema) and aggregated on
    // the extracted field — the metadata-filtering shape every curation
    // pipeline needs (provenance tags, crawl headers). Map-only parse,
    // one partial-aggregated exchange on the (tiny) type key.
    // JSON field extraction via DuckDB's ->> operator; exact ints
    Query("q_json_props", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          from_json(col("props"), "k BIGINT", Map.empty[String, String])
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          count_distinct(col("k")).as("n_distinct_k"))
        .orderBy("event_type"),
      """SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |       min(k) AS min_k, max(k) AS max_k,
        |       count(DISTINCT k) AS n_distinct_k
        |FROM (SELECT event_type, CAST(props->>'k' AS BIGINT) AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Ordered funnel (view → click-after-view → purchase-after-click):
    // per-user first-resolution timestamps, strict step order, stage =
    // resolved prefix length. Exact epoch-micros outputs.
    // strict-order funnel: each step's first occurrence at-or-after the
    // previous step's resolution, left-chained; stage = resolved prefix
    Query("q_funnel", (s, dir) =>
      TemporalOps.funnel(Tables.events(s, dir), Seq("user_id"), "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy("user_id"),
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (SELECT user_id, min(us) AS step1_us FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.us) AS step2_us
        |       FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND e.us >= s1.step1_us
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.us) AS step3_us
        |       FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND e.us >= s2.step2_us
        |       GROUP BY e.user_id)
        |SELECT s1.user_id, s1.step1_us, s2.step2_us, s3.step3_us,
        |       1 + CASE WHEN s2.step2_us IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN s3.step3_us IS NULL THEN 0 ELSE 1 END AS stage
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        |ORDER BY s1.user_id""".stripMargin),
    // Cohort retention: 7-day epoch-anchored cohorts of first activity,
    // per-offset distinct-user comeback counts. Integer-exact period
    // arithmetic on both engines; offset 0 = cohort_size self-check.
    // 7-day epoch-anchored cohorts; integer period arithmetic (// = div)
    Query("q_cohort_retention", (s, dir) =>
      TemporalOps.cohortRetention(Tables.events(s, dir), "user_id", "ts", 7)
        .orderBy("cohort", "offset"),
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS p FROM events),
        |f AS (SELECT user_id, min(p) AS cohort FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, p FROM e),
        |r AS (SELECT f.cohort, a.p - f.cohort AS "offset", count(*) AS n_active
        |      FROM f JOIN a USING (user_id) GROUP BY 1, 2),
        |cs AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY cohort)
        |SELECT r.cohort, r."offset", cs.cohort_size, r.n_active
        |FROM r JOIN cs USING (cohort) ORDER BY 1, 2""".stripMargin),
    // Sketch tier, distinct counts: HLL++ next to the exact distinct,
    // certificate = relative error within 3x the requested rsd. Oracle
    // emits literal TRUE -> hash equality proves the bound.
    // AMS tug-of-war F2 sketch vs the exact self-join size of
    // user_id — 9 portable ±1-hash counters in ONE pass, median of
    // means, exact int64 arithmetic through to the published
    // ratioRound estimate and relative error.
    // sketch certificates: the oracle contributes the exact side and a
    // literal TRUE -- hash equality proves the published error bound
    // AMS replay: the identical 48 ±1 counters — parity of the
    // per-estimator Horner cubic mod the shared prime (4-wise family;
    // see SketchOps.amsF2 on why a multiplicative-hash bit is NOT
    // usable here), integer median-of-means identity, exact half-up
    // publication
    Query("q_ams_f2", (s, dir) =>
      SketchOps.amsF2(Tables.events(s, dir), "user_id"), {
      val p = SketchOps.AmsPrime
      val cols = 16
      val sums = (0 until 3 * cols).map { i =>
        val Seq(a3, a2, a1, a0) = SketchOps.AmsSalts.map(s => (s * (i + 1)) % p)
        s"sum(CASE WHEN (((($a3 * (user_id % $p) + $a2) % $p)" +
          s" * (user_id % $p) + $a1) % $p * (user_id % $p) + $a0)" +
          s" % $p % 2 = 0 THEN 1 ELSE -1 END) AS s$i"
      }.mkString(",\n         ")
      val ms = (0 until 3).map(g =>
        (0 until cols).map(c => { val i = g * cols + c; s"s$i * s$i" })
          .mkString("(", " + ", s") AS m$g")).mkString(", ")
      s"""WITH sums AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         $sums
        |  FROM events
        |), means AS (
        |  SELECT n, $ms FROM sums
        |), est AS (
        |  SELECT n, m0 + m1 + m2 - greatest(m0, m1, m2)
        |           - least(m0, m1, m2) AS med_num
        |  FROM means
        |), exact AS (
        |  SELECT CAST(sum(f * f) AS BIGINT) AS exact_f2 FROM (
        |    SELECT CAST(count(*) AS BIGINT) AS f FROM events
        |    GROUP BY user_id)
        |)
        |SELECT n, exact_f2,
        |       ${ratioRoundSql("med_num", s"$cols", 6)} + 0.0 AS est_f2,
        |       ${ratioRoundSql(
                 s"abs(CAST(med_num AS HUGEINT) - $cols * CAST(exact_f2 AS HUGEINT))",
                 s"$cols * CAST(exact_f2 AS HUGEINT)", 6)} + 0.0 AS rel_err
        |FROM est CROSS JOIN exact""".stripMargin
    }),
    Query("q_approx_distinct", (s, dir) =>
      SketchOps.distinctCountCertificate(Tables.events(s, dir),
          Seq("event_type"), "user_id", rsd = 0.05, errBound = 0.15)
        .orderBy("event_type"),
      """SELECT event_type, count(DISTINCT user_id) AS exact_n,
        |       TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // Sketch tier, quantiles: percentile_approx rank-error certificate
    // (returned element's rank interval must hit q*n +/- n/accuracy).
    Query("q_approx_quantile", (s, dir) =>
      SketchOps.quantileCertificate(Tables.events(s, dir),
          Seq("event_type"), "value", Seq(0.5, 0.9, 0.99), accuracy = 1000)
        .orderBy("event_type", "q_idx"),
      """WITH g AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type)
        |SELECT g.event_type, q.q_idx, g.n, TRUE AS within_bound
        |FROM g CROSS JOIN (VALUES (0), (1), (2)) AS q(q_idx)
        |ORDER BY event_type, q_idx""".stripMargin),
    // Record linkage: PASS-JOIN segment-blocked edit-distance pairs on
    // a 16-char prefix key, dist <= 3. Oracle is UNBLOCKED all-pairs
    // Levenshtein -- equality proves the pigeonhole blocking misses
    // nothing.
    // UNBLOCKED all-pairs Levenshtein: equality = blocking completeness
    Query("q_editdist_pairs", (s, dir) =>
      DedupOps.editDistancePairs(Tables.documents(s, dir), maxDist = 3,
          keyLen = 16)
        .orderBy("id_a", "id_b"),
      """WITH k AS (SELECT doc_id, substr(text, 1, 16) AS k FROM documents)
        |SELECT least(a.doc_id, b.doc_id) AS id_a,
        |       greatest(a.doc_id, b.doc_id) AS id_b,
        |       CAST(levenshtein(a.k, b.k) AS INTEGER) AS dist
        |FROM k a JOIN k b ON a.doc_id < b.doc_id
        |WHERE levenshtein(a.k, b.k) <= 3
        |ORDER BY id_a, id_b""".stripMargin),
    // Arbitrary GROUPING SETS (dimension marginals -- not a rollup/cube
    // prefix chain): per-type, per-user-bucket, and grand-total rows in
    // one pass; aggregated-out dims coalesce to sentinels.
    // dimension marginals via GROUPING SETS; sentinels for rolled-up dims
    Query("q_grouping_sets", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ub", pmod(col("user_id"), lit(4L)))
      ev.groupingSets(
          Seq(Seq(col("event_type")), Seq(col("ub")), Seq.empty),
          col("event_type"), col("ub"))
        .agg(count(lit(1)).as("n"), decMean(col("value")).as("mean_value"))
        .select(coalesce(col("event_type"), lit("ALL")).as("dim_type"),
          coalesce(col("ub"), lit(-1L)).as("dim_bucket"),
          col("n"), col("mean_value"))
        .orderBy("dim_type", "dim_bucket")
    },
      s"""SELECT coalesce(event_type, 'ALL') AS dim_type,
         |       coalesce(ub, -1) AS dim_bucket, count(*) AS n,
         |       ${decMeanSql("value")} AS mean_value
         |FROM (SELECT event_type, user_id % 4 AS ub, value FROM events)
         |GROUP BY GROUPING SETS ((event_type), (ub), ())
         |ORDER BY dim_type, dim_bucket""".stripMargin),
    // Winsorized per-group stats: exact p05/p95 clip, raw vs clipped
    // decimal-summed means, clip counts. The exact-percentile tier for
    // bounded group cardinality (the sketch tier covers the rest).
    // exact p05/p95 winsorized stats; quantile_cont = Spark percentile
    Query("q_winsorize", (s, dir) =>
      RelationalOps.winsorizedStats(Tables.events(s, dir), "event_type",
          "value", lo = 0.05, hi = 0.95, mean = decMean)
        .orderBy("event_type"),
      s"""WITH b AS (SELECT event_type,
         |             quantile_cont(value, 0.05) AS lo,
         |             quantile_cont(value, 0.95) AS hi
         |           FROM events GROUP BY event_type)
         |SELECT e.event_type, count(*) AS n,
         |       CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
         |       CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
         |       ${decMeanSql("value")} AS raw_mean,
         |       ${decMeanSql("least(greatest(value, lo), hi)")} AS wins_mean
         |FROM events e JOIN b USING (event_type)
         |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin),
    // Robust per-row outlier score (modified z, median/MAD, 3.5 rule);
    // flag derives from the published rounded score.
    // modified z (LOWER median/MAD — exact elements, so the whole chain
    // is deterministic IEEE arithmetic and the score publishes RAW:
    // round()ing is what diverges here — quantized inputs put the exact
    // ratio ON x.xxxx5 boundaries where the engines' rounding paths
    // disagree); flag from the published score vs the exact 3.5
    Query("q_robust_z", (s, dir) =>
      RelationalOps.robustZScores(Tables.events(s, dir), "event_type",
          "value")
        .select(col("event_id"), col("event_type"), col("z"),
          col("is_outlier"))
        .orderBy("event_id"),
      """WITH r AS (SELECT event_type, value,
        |             row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n
        |           FROM events),
        |m AS (SELECT event_type, value AS med FROM r WHERE rn = (n + 1) // 2),
        |r2 AS (SELECT e.event_type, abs(e.value - m.med) AS dev,
        |         row_number() OVER (PARTITION BY e.event_type
        |                            ORDER BY abs(e.value - m.med)) AS rn,
        |         count(*) OVER (PARTITION BY e.event_type) AS n
        |       FROM events e JOIN m USING (event_type)),
        |d0 AS (SELECT event_type, dev AS mad FROM r2 WHERE rn = (n + 1) // 2),
        |d AS (SELECT m.event_type, m.med, d0.mad FROM m JOIN d0 USING (event_type))
        |SELECT e.event_id, e.event_type,
        |       0.6745 * (e.value - d.med)
        |         / CASE WHEN d.mad > 0 THEN d.mad END AS z,
        |       abs(0.6745 * (e.value - d.med)
        |         / CASE WHEN d.mad > 0 THEN d.mad END) > 3.5 AS is_outlier
        |FROM events e JOIN d USING (event_type)
        |ORDER BY e.event_id""".stripMargin),
    // Top principal component by 5-round power iteration; every
    // cross-row sum is decimal-protected, round(,6) absorbs the
    // engines' decimal-cast tie divergence (PageRank's unrolled-
    // recurrence oracle pattern, applied to a covariance matvec).
    // power-iteration PCA replayed as unrolled CTEs; full-double compare
    {
      val iters = 5
      Query("q_pca_top", (s, dir) =>
        SimilarityOps.powerIterationPC(Tables.embeddings(s, dir), iters = iters)
          .orderBy("dim"),
        pcaOracleSql(dims = 64, iters = iters))
    },
    // Top-2 PCA via Hotelling deflation: the second component's rounds
    // iterate Cv − λ₁u₁(u₁ᵀv) — still one corpus pass per round, the
    // deflation term is driver-side dims-vector arithmetic mirrored in
    // the oracle CTE dag term for term.
    {
      val iters = 5
      Query("q_pca_top2", (s, dir) =>
        SimilarityOps.powerIterationPC2(Tables.embeddings(s, dir), iters = iters)
          .orderBy("dim"),
        pca2OracleSql(dims = 64, iters = iters))
    },
    // Leakage-free 80/10/10 split by user: per-split sizes plus a
    // computed (not literal) group-integrity certificate.
    // group-integrity split: same md5 draw, IEEE-identical thresholds
    // (bounds written as unfolded sums), computed leak certificate
    Query("q_group_split", (s, dir) => {
      val sp = RelationalOps.groupSplit(Tables.events(s, dir), "user_id",
        Seq(0.8, 0.1, 0.1), "split5")
      val leak = sp.groupBy("user_id")
        .agg(count_distinct(col("split")).as("ns"))
        .agg(max(col("ns")).as("mx"))
      sp.groupBy("split")
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("user_id")).as("n_users"))
        .crossJoin(broadcast(leak))
        .select(col("split"), col("n_rows"), col("n_users"),
          (col("mx") === 1L).as("leak_free"))
        .orderBy("split")
    },
      """WITH s AS (
        |  SELECT user_id,
        |    CASE WHEN u < 0.8 THEN 0
        |         WHEN u < (0.8 + 0.1) THEN 1 ELSE 2 END AS split
        |  FROM (SELECT user_id,
        |          ('0x' || substring(md5(CAST(user_id AS VARCHAR) || '|split5'), 1, 6))::BIGINT
        |          / 16777216.0 AS u
        |        FROM events) t),
        |leak AS (SELECT max(ns) AS mx FROM (
        |  SELECT user_id, count(DISTINCT split) AS ns FROM s GROUP BY user_id) q)
        |SELECT split, count(*) AS n_rows, count(DISTINCT user_id) AS n_users,
        |       (SELECT mx FROM leak) = 1 AS leak_free
        |FROM s GROUP BY split ORDER BY split""".stripMargin),
    // Per-doc unigram entropy — the information-theoretic quality
    // feature (low = dominated by one token). One (doc,word) aggregate,
    // then one doc-keyed exchange shared by the total window and the
    // final aggregate. Normalized form derives from the published value.
    // unigram entropy: same tokenizer, (c/n)·ln(n/c) terms rounded 9,
    // decimal-summed; normalized form from the published entropy
    Query("q_token_entropy", (s, dir) =>
      TextAnalysisOps.tokenEntropy(Tables.documents(s, dir))
        .orderBy("doc_id"),
      """WITH counts AS (
        |  SELECT doc_id, w, count(*) AS c
        |  FROM (SELECT doc_id,
        |               unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |        FROM documents)
        |  GROUP BY doc_id, w
        |), t AS (
        |  SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM counts
        |), terms AS (
        |  SELECT doc_id, n,
        |         round(CAST(c AS DOUBLE) / n * ln(CAST(n AS DOUBLE) / c), 9) AS term
        |  FROM t
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_types, CAST(max(n) AS BIGINT) AS n_tokens,
        |         CAST(round(sum(CAST(term AS DECIMAL(28,12))), 6) AS DOUBLE) AS entropy
        |  FROM terms GROUP BY doc_id
        |)
        |SELECT doc_id, n_types, n_tokens, entropy,
        |       CASE WHEN n_types > 1
        |            THEN round(entropy / ln(CAST(n_types AS DOUBLE)), 6)
        |       END AS entropy_norm
        |FROM agg ORDER BY doc_id""".stripMargin),
    // Z-order (Morton) layout: interleave (user_id, event_id%2^16) and
    // bucket by the high z-bits — the gate proves every bucket covers a
    // bounded RECTANGLE in both dims (min/max per bucket), i.e. the
    // locality property that makes lakehouse ZORDER prune scans.
    // Morton interleave mirrored bit by bit (sum over range(16) of the
    // even/odd-position bit contributions), then the same bucket aggs
    Query("q_zorder", (s, dir) => {
      val pts = Tables.events(s, dir).select(col("event_id"), col("user_id"),
        pmod(col("event_id"), lit(65536L)).as("e16"))
      pts.withColumn("z",
          graft.PlanUtils.zValue(col("user_id"), col("e16"), 16))
        .groupBy(shiftright(col("z"), 16).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("user_id").as("u_min"), max("user_id").as("u_max"),
          min("e16").as("e_min"), max("e16").as("e_max"))
        .orderBy("bucket")
    },
      """WITH pts AS (
        |  SELECT event_id, user_id, event_id % 65536 AS e16 FROM events
        |), zz AS (
        |  SELECT user_id, e16,
        |         CAST(sum((((user_id >> d) & 1) << (2*d))
        |                  + (((e16 >> d) & 1) << (2*d+1))) AS BIGINT) AS z
        |  FROM pts, range(16) r(d)
        |  GROUP BY event_id, user_id, e16
        |)
        |SELECT z >> 16 AS bucket, count(*) AS n,
        |       min(user_id) AS u_min, max(user_id) AS u_max,
        |       min(e16) AS e_min, max(e16) AS e_max
        |FROM zz GROUP BY 1 ORDER BY 1""".stripMargin),
    // Trigram LM with stupid backoff (Brants et al. 2007) on a held-out
    // split: train on doc_id%5!=0, score doc_id%5==0 — unseen eval
    // trigrams genuinely walk the backoff chain (per-branch counts are
    // part of the gate). The distributed-LM scoring shape: vocab-keyed
    // count tables + four shuffle joins.
    // stupid-backoff trigram LM on the mod-5 held-out split; branch
    // selection on exact integers, NLL literal shape mirrored from
    // TextOps.trigramBackoffNll term for term (0.4 parses to the same
    // double in both engines; left-to-right association preserved)
    Query("q_lm_backoff", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.trigramBackoffNll(
        docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(5L)) === 0))
        .orderBy("doc_id")
    },
      """WITH tr AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        |  FROM documents WHERE doc_id % 5 <> 0
        |), ev AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        |  FROM documents WHERE doc_id % 5 = 0
        |), c3 AS (
        |  SELECT ws[i+1] AS w1, ws[i+2] AS w2, ws[i+3] AS w3, count(*) AS c3
        |  FROM tr JOIN range(2000) t(i) ON i + 3 <= len(ws)
        |  GROUP BY 1, 2, 3
        |), c2 AS (
        |  SELECT ws[i+1] AS wa, ws[i+2] AS wb, count(*) AS c2
        |  FROM tr JOIN range(2000) t(i) ON i + 2 <= len(ws)
        |  GROUP BY 1, 2
        |), c1 AS (
        |  SELECT w, count(*) AS c1 FROM (SELECT unnest(ws) AS w FROM tr)
        |  GROUP BY w
        |), tv AS (
        |  SELECT count(*) AS t, count(DISTINCT w) AS v
        |  FROM (SELECT unnest(ws) AS w FROM tr)
        |), tri AS (
        |  SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2, ws[i+3] AS w3
        |  FROM ev JOIN range(2000) t(i) ON i + 3 <= len(ws)
        |), scored AS (
        |  SELECT tri.doc_id,
        |         CASE WHEN coalesce(c3.c3, 0) > 0 AND coalesce(h.c2, 0) > 0 THEN 3
        |              WHEN coalesce(b.c2, 0) > 0 AND coalesce(u2.c1, 0) > 0 THEN 2
        |              ELSE 1 END AS branch,
        |         CASE WHEN coalesce(c3.c3, 0) > 0 AND coalesce(h.c2, 0) > 0
        |              THEN round(-ln(CAST(c3.c3 AS DOUBLE) / h.c2), 9)
        |              WHEN coalesce(b.c2, 0) > 0 AND coalesce(u2.c1, 0) > 0
        |              THEN round(-ln(0.4 * b.c2 / u2.c1), 9)
        |              ELSE round(-ln(0.4 * 0.4 * (coalesce(u3.c1, 0) + 1)
        |                            / (tv.t + tv.v)), 9) END AS nll
        |  FROM tri
        |  LEFT JOIN c3 ON c3.w1 = tri.w1 AND c3.w2 = tri.w2 AND c3.w3 = tri.w3
        |  LEFT JOIN c2 h ON h.wa = tri.w1 AND h.wb = tri.w2
        |  LEFT JOIN c2 b ON b.wa = tri.w2 AND b.wb = tri.w3
        |  LEFT JOIN c1 u2 ON u2.w = tri.w2
        |  LEFT JOIN c1 u3 ON u3.w = tri.w3
        |  CROSS JOIN tv
        |)
        |SELECT doc_id, count(*) AS n_trigrams,
        |       CAST(sum(CASE WHEN branch = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_hits,
        |       CAST(sum(CASE WHEN branch = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi_hits,
        |       CAST(sum(CASE WHEN branch = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni_hits,
        |       round(CAST(sum(CAST(nll AS DECIMAL(28,12))) AS DOUBLE)
        |             / count(*), 6) AS avg_nll
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // Streaming mirror of q_ts_anomaly through flatMapGroupsWithState
    // (ring-buffer state, ≤ 6 doubles + a counter per key) — gated by
    // THE SAME oracle as the batch window form: streaming/batch parity.
    // Streaming last-touch attribution: the q_attribution semantics
    // through a real AvailableNow stream — per-user state is ONE
    // touch struct; gated by the SAME oracle as the batch form
    // (streaming/batch parity is the tested property).
    // streaming/batch parity: the SAME oracle gates the stream form
    Query("q_stream_attribution", (s, dir) => {
      import s.implicits._
      val stream = Tables.eventsStream(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"))
        .as[(Long, Long, Long, String)]
      val attributed = graft.streaming.StreamingOps.attributionByKey(
        stream, "purchase", Set("click", "view", "signup"),
        24L * 3600 * 1000000)
      // append mode + DATA-SIZED output (one row per conversion, ∝
      // purchase events): parquet file sink, never a driver collect —
      // the StreamingSinkContractSpec classification
      fileSinkRun(attributed.toDF(), "sattr")
        .select("user_id", "conv_event_id", "conv_ts_us", "touch_type",
          "touch_event_id", "mins_since_touch")
        .orderBy("user_id", "conv_event_id")
    }, AttributionOracle),
    // same oracle: streaming-vs-batch parity is the tested property
    Query("q_stream_anomaly", (s, dir) => {
      import s.implicits._
      val stream = Tables.eventsStream(s, dir)
        .filter(col("user_id") < 30)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
      val scored = graft.streaming.StreamingOps.rollingAnomalyByKey(stream)
      // append mode + DATA-SIZED output (one scored row per input event
      // of the keyed slice — on a Zipf corpus the hot keys make that ∝
      // corpus): parquet file sink, never a driver collect
      fileSinkRun(scored.toDF(), "sanom")
        .select("user_id", "event_id", "seq", "value", "n_prior",
          "base_mean", "base_std", "z", "is_anomaly")
        .orderBy("user_id", "seq")
    }, TsAnomalyOracle),
    // Data mixing: per-domain sampling weights against a fixed target
    // mixture (the skewed-by-construction mixTargets map), then the
    // deterministic hash-thresholded resample that realizes it. The
    // oracle recomputes the same weights/copy counts from the same
    // integer formulas, so the gate proves the whole chain — mass agg,
    // window total, weight arithmetic, per-doc copy realization.
    // Two-way corpus rebalance: survey raking (IPF) of the lang ×
    // source cell table to uniform margins — 3 alternating half-step
    // rounds in exact scale-9 integer weight lanes, zero floats.
    // data mixing: targets recomputed from the domain name ((1 + N%4)/50
    // for srcN, N < 20 — mirrors SparkEntry.mixTargets), weights with the
    // same left-to-right association as the engine, and the resample's
    // copy counts from the same Knuth hash threshold
    // Raking replay: identical half-up integer half-steps unrolled
    // as MATERIALIZED CTE pairs (row margin, then column margin)
    Query("q_rake", (s, dir) =>
      MixtureOps.rakeWeights(Tables.documents(s, dir))
        .orderBy("lang", "source"), {
      val rounds = (1 to 3).map { t =>
        val p = if (t == 1) "w0" else s"w${t - 1}"
        s"""a$t AS MATERIALIZED (
           |  SELECT $p.r, $p.c, $p.n,
           |    CASE WHEN s.s > 0 THEN (2 * $p.w * tr.t + s.s) // (2 * s.s)
           |         ELSE 0 END AS w
           |  FROM $p JOIN (SELECT r, sum(w) AS s FROM $p GROUP BY r) s
           |    USING (r) CROSS JOIN tr),
           |w$t AS MATERIALIZED (
           |  SELECT a$t.r, a$t.c, a$t.n,
           |    CASE WHEN s.s > 0 THEN (2 * a$t.w * tc.t + s.s) // (2 * s.s)
           |         ELSE 0 END AS w
           |  FROM a$t JOIN (SELECT c, sum(w) AS s FROM a$t GROUP BY c) s
           |    USING (c) CROSS JOIN tc)""".stripMargin
      }.mkString(",\n")
      s"""WITH cells AS (
        |  SELECT lang AS r, source AS c, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2
        |), tg AS (
        |  SELECT CAST(sum(n) AS HUGEINT) AS nn,
        |         CAST(count(DISTINCT r) AS HUGEINT) AS lr,
        |         CAST(count(DISTINCT c) AS HUGEINT) AS lc
        |  FROM cells
        |), tr AS (SELECT (2 * nn * 1000000000 + lr) // (2 * lr) AS t FROM tg),
        |tc AS (SELECT (2 * nn * 1000000000 + lc) // (2 * lc) AS t FROM tg),
        |w0 AS MATERIALIZED (
        |  SELECT r, c, n, CAST(n AS HUGEINT) * 1000000000 AS w FROM cells
        |),
        |$rounds
        |SELECT r AS lang, c AS source, n, CAST(w AS BIGINT) AS w_micro9,
        |       CAST(CAST(w AS BIGINT) AS DOUBLE) / 1e9 AS w
        |FROM w3 ORDER BY lang, source""".stripMargin
    }),
    Query("q_mixture_weights", (s, dir) =>
      MixtureOps.mixtureWeights(Tables.documents(s, dir), mixTargets)
        .select(col("domain"), col("n_docs"), col("mass"),
          round(col("actual_frac"), 6).as("actual_frac"),
          round(col("target_frac"), 6).as("target_frac"),
          round(col("weight"), 6).as("weight"))
        .orderBy("domain"),
      """WITH pd AS (
        |  SELECT source AS domain, count(*) AS n_docs, sum(n_chars) AS mass
        |  FROM documents GROUP BY source
        |), t AS (
        |  SELECT domain, n_docs, mass, sum(mass) OVER () AS total FROM pd
        |)
        |SELECT domain, n_docs, CAST(mass AS BIGINT) AS mass,
        |       round(CAST(mass AS DOUBLE) / total, 6) AS actual_frac,
        |       round(CASE WHEN CAST(substring(domain, 4) AS INTEGER) < 20
        |                  THEN (1.0 + (CAST(substring(domain, 4) AS INTEGER) % 4)) / 50.0
        |                  ELSE 0.0 END, 6) AS target_frac,
        |       round(CASE WHEN CAST(substring(domain, 4) AS INTEGER) < 20
        |                  THEN (1.0 + (CAST(substring(domain, 4) AS INTEGER) % 4)) / 50.0
        |                  ELSE 0.0 END * total / mass, 6) AS weight
        |FROM t ORDER BY domain""".stripMargin),
    Query("q_mixture_resample", (s, dir) =>
      MixtureOps.mixtureResample(Tables.documents(s, dir), mixTargets)
        .orderBy("doc_id", "copy_no"),
      """WITH pd AS (
        |  SELECT source AS domain, sum(n_chars) AS mass FROM documents GROUP BY source
        |), t AS (
        |  SELECT domain, mass, sum(mass) OVER () AS total FROM pd
        |), w AS (
        |  SELECT domain,
        |         CASE WHEN CAST(substring(domain, 4) AS INTEGER) < 20
        |              THEN (1.0 + (CAST(substring(domain, 4) AS INTEGER) % 4)) / 50.0
        |              ELSE 0.0 END * total / mass AS weight
        |  FROM t
        |), d AS (
        |  SELECT doc_id, w.domain,
        |         CAST(floor(weight) AS BIGINT) +
        |         (CASE WHEN (doc_id * 2654435761) % 4294967296 / 4294967296.0
        |                    < weight - floor(weight) THEN 1 ELSE 0 END) AS n_copies
        |  FROM documents JOIN w ON w.domain = documents.source
        |)
        |SELECT doc_id, domain, c + 1 AS copy_no
        |FROM d JOIN range(8) t(c) ON c < n_copies
        |ORDER BY doc_id, copy_no""".stripMargin),
    // Decontamination again, through the Bloom-prefilter scale shape
    // (eval side modeled as too big to broadcast: one distributed bloom
    // build, map-side prefilter, shuffled confirm join). Different
    // slice (mod-5) and threshold than q_decontaminate so the two gates
    // are independent; EXACT output — bloom has no false negatives and
    // the confirm join removes the false positives — so the same
    // oracle construction applies unchanged.
    // identical construction to q_decontaminate (the bloom prefilter is
    // exact by design, so the oracle is the plain containment query) on
    // the mod-5 slice at threshold 0.25
    Query("q_bloom_decontaminate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.bloomContaminatedPairs(
        docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(5L)) === 0), minFrac = 0.25)
        .select(col("train_id"), col("eval_id"), round(col("frac"), 6).as("frac"))
        .orderBy("train_id", "eval_id")
    },
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
        |  FROM toks JOIN range(2000) t(i) ON i + 3 <= len(ws)
        |), sz AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |), co AS (
        |  SELECT a.doc_id AS train_id, b.doc_id AS eval_id, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT co.train_id, co.eval_id,
        |       round(CAST(inter AS DOUBLE) / x.n, 6) AS frac
        |FROM co JOIN sz x ON x.doc_id = co.train_id
        |WHERE CAST(inter AS DOUBLE) / x.n >= 0.25
        |ORDER BY train_id, eval_id""".stripMargin),
    // The stop-shingle-capped variant (evalDfCap — SCALE.md's fix for
    // the one superlinear decade reading): shingles in more than ONE
    // eval doc stop certifying; frac counts only informative shingles
    // over the FULL train size, a conservative lower bound. The cap is
    // SQL-expressible, so this path gets its own oracle (an eval-df
    // CTE + join filter) — the scale mitigation is driver-gated, not
    // just spec-gated. cap=1 + minFrac=0.1 VISIBLY bites at sf0.01
    // (2 pairs dropped, 15 fracs lowered vs uncapped), so the gate
    // certifies the cap arithmetic, not a no-op.
    // capped variant: the eval-df CTE drops stop shingles (df > 1 on
    // the EVAL side) from the intersection; sizes stay full — frac is
    // the conservative lower bound the engine publishes
    Query("q_decontam_capped", (s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.bloomContaminatedPairs(
        docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(5L)) === 0), minFrac = 0.1,
        evalDfCap = 1L)
        .select(col("train_id"), col("eval_id"), round(col("frac"), 6).as("frac"))
        .orderBy("train_id", "eval_id")
    },
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
        |  FROM toks JOIN range(2000) t(i) ON i + 3 <= len(ws)
        |), keep AS (
        |  SELECT s FROM sh WHERE doc_id % 5 = 0 GROUP BY s HAVING count(*) <= 1
        |), sz AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |), co AS (
        |  SELECT a.doc_id AS train_id, b.doc_id AS eval_id, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
        |  JOIN keep k ON k.s = a.s
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT co.train_id, co.eval_id,
        |       round(CAST(inter AS DOUBLE) / x.n, 6) AS frac
        |FROM co JOIN sz x ON x.doc_id = co.train_id
        |WHERE CAST(inter AS DOUBLE) / x.n >= 0.1
        |ORDER BY train_id, eval_id""".stripMargin),
    // Interpolated Kneser–Ney bigram smoothing (Kneser & Ney 1995,
    // Chen & Goodman 1998): published for the 50 most frequent
    // bigrams — discounted ML term + continuation-probability backoff,
    // every statistic an exact int64 count, p_kn one mirrored IEEE dag.
    // Kneser–Ney bigram: counts exact BIGINT, p_kn mirrors the engine's
    // IEEE dag term for term ((c2-0.75)/c1h + 0.75*n_follow/c1h*(n_prec/
    // n_types) — left-assoc preserved); top-50 by count with (w1,w2)
    // tiebreak so libm never decides membership
    Query("q_kneser_ney", (s, dir) =>
      TextOps.kneserNeyBigrams(Tables.documents(s, dir), k = 50),
      """WITH t AS (
        |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        |  FROM documents
        |), c2 AS MATERIALIZED (
        |  SELECT ws[i+1] AS w1, ws[i+2] AS w2, count(*) AS c2
        |  FROM t JOIN range(2000) r(i) ON i + 2 <= len(ws)
        |  GROUP BY 1, 2
        |), byw1 AS MATERIALIZED (
        |  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1h, count(*) AS n_follow
        |  FROM c2 GROUP BY w1
        |), byw2 AS MATERIALIZED (
        |  SELECT w2, count(*) AS n_prec FROM c2 GROUP BY w2
        |), ty AS (SELECT count(*) AS n_types FROM c2)
        |SELECT c2.w1, c2.w2, c2.c2, b1.c1h, b1.n_follow, b2.n_prec,
        |       ty.n_types,
        |       round((CAST(c2.c2 AS DOUBLE) - 0.75) / b1.c1h
        |             + 0.75 * b1.n_follow / b1.c1h
        |             * (CAST(b2.n_prec AS DOUBLE) / ty.n_types), 9) AS p_kn
        |FROM c2 JOIN byw1 b1 USING (w1) JOIN byw2 b2 USING (w2) CROSS JOIN ty
        |ORDER BY c2.c2 DESC, c2.w1, c2.w2 LIMIT 50""".stripMargin),
    // Good–Turing count-of-counts: N_r spectrum for r ≤ 10 with
    // Turing-adjusted r* and the N₁/T unseen-mass estimate — the
    // frequency-spectrum health check (and KN's discount statistic).
    Query("q_good_turing", (s, dir) =>
      TextOps.goodTuring(Tables.documents(s, dir), maxR = 10),
      """WITH t AS (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |  FROM documents
        |), wc AS (SELECT w, count(*) AS c FROM t GROUP BY w),
        |cof AS (SELECT c AS r, count(*) AS n_r FROM wc GROUP BY c),
        |tot AS (
        |  SELECT CAST(sum(r * n_r) AS BIGINT) AS t_toks,
        |         CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT) AS n1
        |  FROM cof
        |)
        |SELECT a.r, a.n_r, coalesce(b.n_r, 0) AS n_next,
        |       round((a.r + 1) * CAST(coalesce(b.n_r, 0) AS DOUBLE) / a.n_r, 9)
        |         AS r_star,
        |       round(CAST(n1 AS DOUBLE) / t_toks, 9) AS p_unseen
        |FROM cof a LEFT JOIN cof b ON b.r = a.r + 1 CROSS JOIN tot
        |ORDER BY a.r LIMIT 10""".stripMargin),
    // Vocabulary-coverage planning: Chao1 richness per language —
    // GT's unseen-mass sibling estimating the unseen TYPE count from
    // singletons/doubletons; one exact rational over exact counts.
    // Good–Turing replay: word counts → count-of-counts; r* and
    // p_unseen each one double division of exact BIGINTs, 9 dp
    // Chao1 replay: same tokenizer, (lang, token) counts, frequency-
    // class counters, bias-corrected correction as one hugeint
    // half-up rational added to the exact V
    Query("q_chao1", (s, dir) =>
      TextOps.chao1Richness(Tables.documents(s, dir)).orderBy("lang"),
      s"""WITH t AS (
        |  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |  FROM documents
        |), wc AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
        |          FROM t GROUP BY lang, w),
        |agg AS (
        |  SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
        |         CAST(count(*) AS BIGINT) AS v_obs,
        |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |         CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |  FROM wc GROUP BY lang
        |)
        |SELECT lang, n_tokens, v_obs, f1, f2,
        |       v_obs + (${ratioRoundSql("f1 * (f1 - 1)", "2 * (f2 + 1)", 6)}
        |                + 0.0) AS chao1
        |FROM agg ORDER BY lang""".stripMargin),
    // Jensen–Shannon divergence between the en and non-en token
    // distributions — symmetric bounded vocabulary-drift measure,
    // finite on one-sided (open-vocab) tokens where KL diverges.
    // JS replay: full-outer token-count merge; each KL term's ln
    // argument is one double division of HUGEINT products (mirroring
    // DECIMAL(38,0)), 9-dp terms, decimal sums, 6-dp publication
    Query("q_js_divergence", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.jsDivergence(
        docs.filter(col("lang") === "en"),
        docs.filter(col("lang") =!= "en"))
    },
      """WITH ca AS (
        |  SELECT w, count(*) AS c_a FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |    FROM documents WHERE lang = 'en') GROUP BY w
        |), cb AS (
        |  SELECT w, count(*) AS c_b FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
        |    FROM documents WHERE lang <> 'en') GROUP BY w
        |), m AS (
        |  SELECT coalesce(ca.c_a, 0) AS c_a, coalesce(cb.c_b, 0) AS c_b
        |  FROM ca FULL JOIN cb USING (w)
        |), tot AS (
        |  SELECT CAST(sum(c_a) AS BIGINT) AS na, CAST(sum(c_b) AS BIGINT) AS nb,
        |         CAST(sum(CASE WHEN c_a > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_types_a,
        |         CAST(sum(CASE WHEN c_b > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_types_b
        |  FROM m
        |), terms AS (
        |  SELECT n_types_a, n_types_b,
        |    CASE WHEN c_a > 0
        |         THEN round((CAST(c_a AS DOUBLE) / na)
        |              * ln(CAST(2 * CAST(c_a AS HUGEINT) * nb AS DOUBLE)
        |                   / CAST(CAST(c_a AS HUGEINT) * nb
        |                          + CAST(c_b AS HUGEINT) * na AS DOUBLE)), 9)
        |         ELSE 0.0 END AS ta,
        |    CASE WHEN c_b > 0
        |         THEN round((CAST(c_b AS DOUBLE) / nb)
        |              * ln(CAST(2 * CAST(c_b AS HUGEINT) * na AS DOUBLE)
        |                   / CAST(CAST(c_a AS HUGEINT) * nb
        |                          + CAST(c_b AS HUGEINT) * na AS DOUBLE)), 9)
        |         ELSE 0.0 END AS tb
        |  FROM m CROSS JOIN tot
        |)
        |SELECT n_types_a, n_types_b,
        |       round(CAST(sum(CAST(ta AS DECIMAL(38,12))) AS DOUBLE), 6)
        |         AS kl_a_to_m,
        |       round(CAST(sum(CAST(tb AS DECIMAL(38,12))) AS DOUBLE), 6)
        |         AS kl_b_to_m,
        |       round(CAST(sum(CAST(ta AS DECIMAL(38,12)))
        |                  + sum(CAST(tb AS DECIMAL(38,12))) AS DOUBLE) / 2, 6)
        |         AS jsd
        |FROM terms GROUP BY n_types_a, n_types_b""".stripMargin),
  )
}
