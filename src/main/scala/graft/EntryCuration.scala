package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.WelfordAgg
import graft.operators._
import graft.EntryHelpers._

/** text quality, tokenization-count, chunking, PII, curation sampling, quantize, decontamination.
  *
  * One registry slice of [[SparkEntry]]: `queries` declares each gated
  * Spark pipeline once, as a [[Query]] beside the DuckDB replay the
  * driver hash-compares it against.
  */
private[graft] object EntryCuration {

  val queries: Seq[Query] = Seq(
    // Text analysis: marker-based language ID (argmax + und fallback).
    Query("q_lang_id", (s, dir) =>
      TextAnalysisOps.langId(Tables.documents(s, dir)).orderBy("doc_id"),
      s"""WITH $LangCtes
         |SELECT d.doc_id, coalesce(b.lang, 'und') AS lang_pred,
         |       coalesce(b.hits, 0) AS hits
         |FROM documents d LEFT JOIN best b USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    // Quality features + pure-arithmetic composite score.
    Query("q_quality", (s, dir) =>
      TextAnalysisOps.qualityScore(Tables.documents(s, dir))
        .select(col("doc_id"), col("n_tokens"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("stop_ratio"), 6).as("stop_ratio"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id"),
      s"""WITH $QualityCte
         |SELECT doc_id, n_tokens, round(punct_ratio, 6) AS punct_ratio,
         |       round(stop_ratio, 6) AS stop_ratio, round(score, 6) AS score
         |FROM qf ORDER BY doc_id""".stripMargin),
    // Gopher structural quality rules: exact-int rule flags + keep.
    // Thresholds chosen so every rule visibly bites on this corpus
    // (word count [30,80], mean word length [4.0,5.0] tenths).
    // rule replay: same exact-int cross-multiplied flags, same
    // exact-int IEEE division ratios rounded 6dp
    Query("q_gopher_rules", (s, dir) =>
      TextAnalysisOps.gopherRules(Tables.documents(s, dir),
          minWords = 30, maxWords = 80,
          minMeanLenTenths = 40, maxMeanLenTenths = 50)
        .orderBy("doc_id"),
      """WITH w AS (
        |  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        |  FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS nw,
        |    CAST(list_aggregate(list_transform(ws, x -> length(x)), 'sum') AS BIGINT) AS sc,
        |    CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS na,
        |    CAST(len(list_filter(ws, x -> x IN ('the','a','of','to','and'))) AS BIGINT) AS nstop,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(text) - length(regexp_replace(text, '[^a-z0-9\s]', '', 'g')) AS BIGINT) AS nsym
        |  FROM w WHERE len(ws) > 0
        |)
        |SELECT doc_id, nw AS n_words,
        |       round(CAST(sc AS DOUBLE) / nw, 6) AS mean_word_len,
        |       round(CAST(nsym AS DOUBLE) / nc, 6) AS symbol_frac,
        |       round(CAST(na AS DOUBLE) / nw, 6) AS alpha_frac,
        |       nstop AS n_stop,
        |       nw >= 30 AND nw <= 80 AS wc_ok,
        |       sc * 10 >= 40 * nw AND sc * 10 <= 50 * nw AS len_ok,
        |       nsym * 10 <= nc AS sym_ok,
        |       na * 5 >= nw * 4 AS alpha_ok,
        |       nstop >= 2 AS stop_ok,
        |       (nw >= 30 AND nw <= 80)
        |         AND (sc * 10 >= 40 * nw AND sc * 10 <= 50 * nw)
        |         AND nsym * 10 <= nc AND na * 5 >= nw * 4 AND nstop >= 2 AS keep
        |FROM f ORDER BY doc_id""".stripMargin),
    // DSIR importance resampling (Xie et al. 2023): hashed-ngram
    // log-likelihood-ratio weights against the English slice as the
    // target domain, Gumbel-top-k selection. Raw-double w/sel_key
    // (deterministic decimal-sum chains — bit-identical both engines).
    // DSIR replay: same md5 bucket hash, add-one bucket multinomials,
    // per-ln round-9 (libm parity), decimal(28,9) term sums, and the
    // doc-seeded Gumbel chain. w/sel_key published RAW (deterministic
    // chains are bit-identical; rounding could land on a half-boundary).
    Query("q_dsir", (s, dir) =>
      TextAnalysisOps.dsirSelect(Tables.documents(s, dir),
        isTarget = col("lang") === "en", nBuckets = 256, k = 100),
      """WITH base AS (
        |  SELECT doc_id, lang = 'en' AS t,
        |         regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
        |  FROM documents
        |), unis AS (
        |  SELECT doc_id, t, unnest(ws) AS f FROM base
        |), bis AS (
        |  SELECT doc_id, t, ws[i] || ' ' || ws[i+1] AS f
        |  FROM base, unnest(generate_series(1, len(ws) - 1)) AS g(i)
        |  WHERE len(ws) >= 2
        |), feats AS (
        |  SELECT * FROM unis UNION ALL SELECT * FROM bis
        |), db AS (
        |  SELECT doc_id, t,
        |         ('0x' || substring(md5(f || '|ds'), 1, 6))::BIGINT % 256
        |           AS bucket,
        |         count(*) AS c
        |  FROM feats GROUP BY 1, 2, 3
        |), fit AS (
        |  SELECT bucket,
        |         sum(CASE WHEN t THEN c ELSE 0 END) AS cp,
        |         sum(c) AS cq
        |  FROM db GROUP BY bucket
        |), tots AS (SELECT CAST(sum(cp) AS BIGINT) AS tp,
        |                   CAST(sum(cq) AS BIGINT) AS tq FROM fit),
        |lr AS (
        |  SELECT bucket,
        |         round(ln(CAST(cp + 1 AS DOUBLE) / CAST(tp + 256 AS DOUBLE)), 9)
        |       - round(ln(CAST(cq + 1 AS DOUBLE) / CAST(tq + 256 AS DOUBLE)), 9)
        |           AS lr
        |  FROM fit CROSS JOIN tots
        |), w AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feat,
        |         CAST(sum(CAST(round(CAST(c AS DOUBLE) * lr, 9)
        |                       AS DECIMAL(28,9))) AS DOUBLE) AS w
        |  FROM db JOIN lr USING (bucket) GROUP BY doc_id
        |), gu AS (
        |  SELECT doc_id, n_feat, w,
        |         round(-ln(-round(ln(
        |           (('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|dsg'),
        |             1, 6))::BIGINT + 0.5) / 16777216.0), 9)), 9) AS gumbel
        |  FROM w
        |)
        |SELECT doc_id, n_feat, w, gumbel, w + gumbel AS sel_key
        |FROM gu
        |ORDER BY sel_key DESC, doc_id LIMIT 100""".stripMargin),
    // Annotation QA: Cohen's kappa between the langId labeler and the
    // gold lang column — multi-class 'ALL' row + one-vs-rest rows.
    // kappa replay: confusion counts + marginal products are exact
    // int64; po/pe exact-int divisions; one IEEE dag for kappa
    Query("q_kappa", (s, dir) => {
      val docs = Tables.documents(s, dir)
      EvalOps.cohenKappa(
          TextAnalysisOps.langId(docs)
            .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")),
          col("lang_pred"), col("lang"))
        .orderBy("label")
    },
      s"""WITH $LangCtes,
         |lab AS (
         |  SELECT d.doc_id, coalesce(b.lang, 'und') AS pa, d.lang AS pb
         |  FROM documents d LEFT JOIN best b USING (doc_id)
         |), cm AS (
         |  SELECT pa, pb, CAST(count(*) AS BIGINT) AS c FROM lab GROUP BY 1, 2
         |), tot AS (
         |  SELECT CAST(sum(c) AS BIGINT) AS n,
         |         CAST(sum(CASE WHEN pa = pb THEN c ELSE 0 END) AS BIGINT) AS diag
         |  FROM cm
         |), ra AS (SELECT pa AS label, CAST(sum(c) AS BIGINT) AS ca FROM cm GROUP BY 1),
         |rb AS (SELECT pb AS label, CAST(sum(c) AS BIGINT) AS cb FROM cm GROUP BY 1),
         |labs AS (SELECT label FROM ra UNION SELECT label FROM rb),
         |marg AS (
         |  SELECT l.label, coalesce(ra.ca, 0) AS ca, coalesce(rb.cb, 0) AS cb
         |  FROM labs l LEFT JOIN ra USING (label) LEFT JOIN rb USING (label)
         |), tp AS (SELECT pa AS label, c AS tp FROM cm WHERE pa = pb),
         |per AS (
         |  SELECT m.label, t.n,
         |    CAST(coalesce(p.tp, 0) + (t.n - m.ca - m.cb + coalesce(p.tp, 0)) AS DOUBLE)
         |      / t.n AS po,
         |    CAST(m.ca * m.cb + (t.n - m.ca) * (t.n - m.cb) AS DOUBLE)
         |      / (t.n * t.n) AS pe
         |  FROM marg m CROSS JOIN tot t LEFT JOIN tp p USING (label)
         |), allr AS (
         |  SELECT 'ALL' AS label, t.n,
         |    CAST(t.diag AS DOUBLE) / t.n AS po,
         |    CAST(CAST((SELECT sum(ca * cb) FROM marg) AS BIGINT) AS DOUBLE)
         |      / (t.n * t.n) AS pe
         |  FROM tot t
         |), u AS (SELECT * FROM per UNION ALL SELECT * FROM allr)
         |SELECT label, n, round(po, 6) AS po, round(pe, 6) AS pe,
         |       CASE WHEN pe < 1.0
         |            THEN round((po - pe) / (1.0 - pe), 6) + 0.0 END AS kappa
         |FROM u ORDER BY label""".stripMargin),
    // Whitespace + BPE-ish token counting.
    Query("q_token_counts", (s, dir) =>
      TextAnalysisOps.tokenCounts(Tables.documents(s, dir))
        .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"),
          round(col("chars_per_token"), 6).as("chars_per_token"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        |       len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
        |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens,
        |       round(CAST(length(text) AS DOUBLE)
        |             / greatest(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')), 1), 6)
        |         AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin),
    // Document chunking: 32-token windows with 8-token overlap — the
    // pre-embedding split; map-only, no shuffle.
    Query("q_chunk", (s, dir) =>
      TextAnalysisOps.chunks(Tables.documents(s, dir), 32, 8)
        .orderBy("doc_id", "chunk_no"),
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
        |), ok AS (
        |  SELECT doc_id, ws, len(ws) AS n FROM toks WHERE len(ws) > 0
        |), st AS (
        |  SELECT doc_id, ws, n, s, CAST(s / 24 AS BIGINT) AS chunk_no
        |  FROM ok JOIN range(2000) t(s) ON s % 24 = 0 AND s <= n - 1
        |  WHERE s = 0 OR n - s > 8
        |)
        |SELECT doc_id, CAST(chunk_no AS INTEGER) AS chunk_no,
        |       least(32, n - s) AS n_chunk_tokens,
        |       array_to_string(ws[s+1:s+32], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_no""".stripMargin),
    // Sequence packing: the corpus as ONE virtual token stream split
    // into 256-token training sequences, one row per (sequence,
    // doc-span). The distributed two-phase prefix sum must reproduce
    // the oracle's single global window cumsum exactly.
    // chunk starts step by 24 (= 32 − 8); a trailing start whose
    // remainder fits inside the previous window (n − s <= 8) is dropped
    // single global-window cumsum (fine at oracle scale; the ENGINE
    // must never plan one — that's the two-phase scan's whole point);
    // range(8192) bounds chunks at tested scales (~1600 at sf0.1)
    Query("q_pack_sequences", (s, dir) =>
      TextAnalysisOps.packSequences(Tables.documents(s, dir), 256)
        .orderBy("chunk_id", "doc_id"),
      """WITH t AS (
        |  SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS dl
        |  FROM documents
        |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0
        |), offs AS (
        |  SELECT doc_id, dl,
        |         CAST(sum(dl) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
        |  FROM t
        |), spans AS (
        |  SELECT doc_id, e - dl AS s, e FROM offs
        |), ch AS (
        |  SELECT doc_id, s, e,
        |         unnest(generate_series(s // 256, (e - 1) // 256)) AS c
        |  FROM spans
        |)
        |SELECT c AS chunk_id, doc_id,
        |       greatest(s, c * 256) - c * 256 AS start_in_chunk,
        |       least(e, (c + 1) * 256) - greatest(s, c * 256) AS n_toks
        |FROM ch ORDER BY chunk_id, doc_id""".stripMargin),
    // PII redaction over an inline corpus with planted identifiers (the
    // synthetic docs carry no PII; the literal table is the reference's
    // S4 source shape). Redacted text + per-kind counts, both oracled.
    Query("q_pii_redact", (s, dir) => {
      import s.implicits._
      TextAnalysisOps.redactPii(PiiRows.toDF("doc_id", "text"))
        .orderBy("doc_id")
    },
      """WITH pii(doc_id, text) AS (VALUES
        |  (1, 'contact me at alice@example.com or 555-123-4567'),
        |  (2, 'server at 192.168.0.1 responded to 10.0.0.255 fine'),
        |  (3, 'no identifiers in this row at all'),
        |  (4, 'bob@test.org cc carol.smith@mail.example.co same ip 8.8.8.8'),
        |  (5, 'call 555-000-1111 then 555-000-2222 about alice@example.com'))
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS clean_text,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones,
        |  len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ips
        |FROM pii ORDER BY doc_id""".stripMargin),
    // Winnowing-style min-hash fingerprint over word 4-gram shingles.
    Query("q_fingerprint", (s, dir) =>
      TextAnalysisOps.fingerprints(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |         ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS s
        |  FROM toks JOIN range(2000) t(i) ON i + 4 <= len(ws)
        |)
        |SELECT doc_id, min(('0x' || substring(md5(s), 1, 15))::BIGINT) AS fingerprint,
        |       count(*) AS n_shingles
        |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ),
    // Flagship training-data curation pipeline: exact-dedup to group
    // representatives → drop the higher id of every verified near-dup
    // pair → quality-score floor → language tag. One composed plan of
    // the dedup/quality/language operators, oracle-checked end to end.
    Query("q_curation", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val reps = DedupOps.exactDedup(docs).select(col("rep_doc_id").as("doc_id"))
      val nd = DedupOps.verifiedNearDups(docs)
        .select(col("db").as("doc_id")).distinct()
      val q = TextAnalysisOps.qualityScore(docs)
        .select(col("doc_id"), col("score"))
      val l = TextAnalysisOps.langId(docs).select("doc_id", "lang_pred")
      docs.select("doc_id")
        .join(reps, "doc_id")
        .join(nd, Seq("doc_id"), "left_anti")
        .join(q, "doc_id").filter(col("score") >= 0.5)
        .join(l, "doc_id")
        .select(col("doc_id"), round(col("score"), 6).as("score"), col("lang_pred"))
        .orderBy("doc_id")
    },
      s"""WITH ${ShingleCte("documents")},
         |nd AS (
         |  SELECT DISTINCT co.db AS doc_id
         |  FROM co JOIN sz x ON x.doc_id = co.da JOIN sz y ON y.doc_id = co.db
         |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
         |), reps AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |), $QualityCte,
         |$LangCtes
         |SELECT d.doc_id, round(qf.score, 6) AS score,
         |       coalesce(b.lang, 'und') AS lang_pred
         |FROM documents d
         |JOIN reps USING (doc_id)
         |LEFT JOIN nd ON nd.doc_id = d.doc_id
         |JOIN qf ON qf.doc_id = d.doc_id
         |LEFT JOIN best b ON b.doc_id = d.doc_id
         |WHERE nd.doc_id IS NULL AND qf.score >= 0.5
         |ORDER BY d.doc_id""".stripMargin),
    // Curation pipeline capstone #2: the training-set DRAW — a seeded,
    // engine-portable exact-size sample of the curation survivors
    // (every real pipeline ends with "give me k curated docs").
    Query("q_curation_sample", (s, dir) => {
      val survivors = SparkEntry.queries("q_curation")(s, dir)
        .select("doc_id", "score", "lang_pred")
      RelationalOps.uniformSampleExact(survivors, col("doc_id"), 100, "train")
        .orderBy("doc_id")
    },
      s"""WITH ${ShingleCte("documents")},
         |nd AS (
         |  SELECT DISTINCT co.db AS doc_id
         |  FROM co JOIN sz x ON x.doc_id = co.da JOIN sz y ON y.doc_id = co.db
         |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
         |), reps AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
         |), $QualityCte,
         |$LangCtes,
         |survivors AS (
         |  SELECT d.doc_id, round(qf.score, 6) AS score,
         |         coalesce(b.lang, 'und') AS lang_pred
         |  FROM documents d
         |  JOIN reps USING (doc_id)
         |  LEFT JOIN nd ON nd.doc_id = d.doc_id
         |  JOIN qf ON qf.doc_id = d.doc_id
         |  LEFT JOIN best b ON b.doc_id = d.doc_id
         |  WHERE nd.doc_id IS NULL AND qf.score >= 0.5
         |)
         |SELECT doc_id, score, lang_pred FROM (
         |  SELECT * FROM survivors
         |  ORDER BY md5(CAST(doc_id AS VARCHAR) || '|train') LIMIT 100
         |) t ORDER BY doc_id""".stripMargin),
    // Training-mixture draw: WEIGHTED sample without replacement
    // (Efraimidis–Spirakis), weights = doc length — the length-
    // proportional / source-reweighted draw every mixture pipeline
    // runs. Planned as TakeOrderedAndProject like q_uniform_sample.
    // A-ES weighted sample: identical log-space sort key, identical
    // open-interval uniform (hash24 + 0.5), identical rounding/tiebreak
    Query("q_weighted_sample", (s, dir) =>
      RelationalOps.weightedSampleExact(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        col("doc_id"), col("n_chars"), 30, "mix")
        .orderBy("doc_id"),
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT * FROM documents
        |  ORDER BY round(ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|mix'), 1, 6))::BIGINT + 0.5)
        |                    / 16777216.0) / n_chars, 9) DESC, doc_id
        |  LIMIT 30
        |) t ORDER BY doc_id""".stripMargin),
    // Balanced AND weighted: exactly 20 docs per language, each drawn
    // length-proportionally (A-ES within group via the native
    // TopKPerKey operator).
    Query("q_stratified_weighted", (s, dir) =>
      RelationalOps.stratifiedWeightedSampleExact(
        Tables.documents(s, dir).select("doc_id", "lang", "source", "n_chars"),
        Seq("lang"), col("doc_id"), col("n_chars"), 20, "mixstrat")
        .orderBy("lang", "doc_id"),
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY round(ln((('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '|mixstrat'), 1, 6))::BIGINT + 0.5)
        |                      / 16777216.0) / n_chars, 9) DESC, doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 20 ORDER BY lang, doc_id""".stripMargin),
    // Embedding storage path: symmetric int8 quantization + per-vector
    // dequantization-error certificate (bounded by scale/254).
    // floor(x + 0.5) half-up on both engines — no banker's-rounding
    // divergence; sum cast back to BIGINT (DuckDB sums BIGINT→HUGEINT)
    Query("q_quantize", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qz = SimilarityOps.quantizeInt8(emb)
      SimilarityOps.dequantError(qz, emb)
        .join(qz.select(col("vec_id"),
          aggregate(col("q"), lit(0L), (a, x) => a + x.cast("long")).as("sum_q")),
          "vec_id")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"), col("sum_q"),
          round(col("max_abs_err"), 6).as("max_abs_err"))
        .orderBy("vec_id")
    },
      """WITH v AS (SELECT vec_id, embedding FROM embeddings),
        |el AS (
        |  SELECT vec_id, d, CAST(embedding[d+1] AS DOUBLE) AS x
        |  FROM v, range(64) r(d)
        |), sc AS (
        |  SELECT vec_id, max(abs(x)) AS scale FROM el GROUP BY vec_id
        |), qq AS (
        |  SELECT el.vec_id, sc.scale, x,
        |         CASE WHEN sc.scale = 0 THEN 0
        |              ELSE CAST(floor(x * 127.0 / sc.scale + 0.5) AS BIGINT) END AS q
        |  FROM el JOIN sc USING (vec_id)
        |)
        |SELECT vec_id, round(scale, 6) AS scale,
        |       CAST(sum(q) AS BIGINT) AS sum_q,
        |       round(max(abs(q * scale / 127.0 - x)), 6) AS max_abs_err
        |FROM qq GROUP BY vec_id, scale ORDER BY vec_id""".stripMargin),
    // Gopher-style repetition quality rules: top-token dominance +
    // duplicated-2-gram fraction per doc, with a keep flag on the
    // unrounded values.
    Query("q_repetition", (s, dir) =>
      TextAnalysisOps.repetitionStats(Tables.documents(s, dir)).orderBy("doc_id"),
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents
        |), ok AS (
        |  SELECT doc_id, ws FROM toks WHERE len(ws) >= 2
        |), tc AS (
        |  SELECT doc_id, w, count(*) AS c
        |  FROM (SELECT doc_id, unnest(ws) AS w FROM ok) x GROUP BY doc_id, w
        |), top AS (
        |  SELECT doc_id, max(c) AS top_c FROM tc GROUP BY doc_id
        |), tg AS (
        |  SELECT doc_id, any_value(len(ws)) AS n_tokens,
        |         count(DISTINCT ws[i+1] || ' ' || ws[i+2]) AS d2
        |  FROM ok JOIN range(2000) t(i) ON i + 2 <= len(ws)
        |  GROUP BY doc_id
        |)
        |SELECT g.doc_id, g.n_tokens,
        |       round(top_c * 1.0 / n_tokens, 6) AS top_token_frac,
        |       round(1.0 - d2 * 1.0 / (n_tokens - 1), 6) AS dup_2gram_frac,
        |       (top_c * 1.0 / n_tokens <= 0.12
        |        AND 1.0 - d2 * 1.0 / (n_tokens - 1) <= 0.06) AS keep
        |FROM tg g JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin),
    // Test-set decontamination: train docs (doc_id % 7 != 0) sharing
    // ≥ 30% of their 3-gram shingles with any doc of the eval slice
    // (doc_id % 7 == 0). The eval posting list broadcasts — the scale
    // shape of checking a petabyte corpus against benchmark suites.
    Query("q_decontaminate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.contaminatedPairs(
        docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(7L)) === 0), minFrac = 0.3)
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
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT co.train_id, co.eval_id,
        |       round(CAST(inter AS DOUBLE) / x.n, 6) AS frac
        |FROM co JOIN sz x ON x.doc_id = co.train_id
        |WHERE CAST(inter AS DOUBLE) / x.n >= 0.3
        |ORDER BY train_id, eval_id""".stripMargin),
  )
}
