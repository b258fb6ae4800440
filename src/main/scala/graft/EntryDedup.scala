package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.EntryHelpers._

/** exact/minhash/simhash dedup, clustering, canonicalization.
  *
  * One registry slice of [[SparkEntry]]: `queries` declares each gated
  * Spark pipeline once, as a [[Query]] beside the DuckDB replay the
  * driver hash-compares it against.
  */
private[graft] object EntryDedup {

  val queries: Seq[Query] = Seq(
    // Training-data pipeline: exact dedup keep-list.
    Query("q_exact_dedup", (s, dir) =>
      DedupOps.exactDedup(Tables.documents(s, dir)).orderBy("rep_doc_id"),
      """SELECT min(doc_id) AS rep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY rep_doc_id""".stripMargin),
    // Part_2 Q3b/Q4 + near-dup: MinHash+LSH candidates, exact-verify ≥0.8.
    // Oracle is the exact all-pairs answer — equality IS the recall test.
    Query("q_neardup_minhash", (s, dir) =>
      DedupOps.verifiedNearDups(Tables.documents(s, dir))
        .select(col("da"), col("db"), round(col("jac"), 6).as("jac"))
        .orderBy("da", "db"),
      s"""WITH ${ShingleCte("documents")}
         |SELECT co.da, co.db,
         |       round(CAST(inter AS DOUBLE) / (x.n + y.n - inter), 6) AS jac
         |FROM co JOIN sz x ON x.doc_id = co.da JOIN sz y ON y.doc_id = co.db
         |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
         |ORDER BY co.da, co.db""".stripMargin),
    // chooseBanding fed END-TO-END: the data-driven (r, bands) chooser
    // (DedupOps.chooseBanding — one bounded 2048-doc signature sample)
    // picks the ladder rung, verifiedNearDups runs it, and the gate
    // hash-compares against the SAME exact all-pairs oracle as
    // q_neardup_minhash (byte-identical SQL, so the check tooling's
    // want-cache covers both with one DuckDB run). On the driver corpus
    // the chooser keeps the default (4,32) — spec-pinned — so equality
    // doubles as a chooser-doesn't-misfire pin; the saturated-corpus
    // escalation branch (8,16) is recall-pinned in DedupOpsSpec.
    // byte-identical to q_neardup_minhash's oracle BY DESIGN: the
    // chooser-selected ladder must reproduce the exact all-pairs answer
    Query("q_neardup_auto", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val (r, b) = DedupOps.chooseBanding(docs)
      DedupOps.verifiedNearDups(docs, r = r, bands = b)
        .select(col("da"), col("db"), round(col("jac"), 6).as("jac"))
        .orderBy("da", "db")
    },
      s"""WITH ${ShingleCte("documents")}
         |SELECT co.da, co.db,
         |       round(CAST(inter AS DOUBLE) / (x.n + y.n - inter), 6) AS jac
         |FROM co JOIN sz x ON x.doc_id = co.da JOIN sz y ON y.doc_id = co.db
         |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
         |ORDER BY co.da, co.db""".stripMargin),
    // Incremental ingest dedup: near-dup pairs touching the mod-7
    // "new batch" only — batch bands broadcast against the corpus
    // band table, never a corpus self-join. Oracle = the exact
    // all-pairs answer filtered to pairs with a new side (equality =
    // recall proof, the q_neardup_minhash construction).
    // the exact ≥0.8 pair set restricted to pairs touching the mod-7
    // new batch — LSH equality on the gate corpora is the recall proof
    Query("q_incr_neardup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.incrementalNearDups(
          docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(7L)) === 0))
        .select(col("da"), col("db"), round(col("jac"), 6).as("jac"))
        .orderBy("da", "db")
    },
      s"""WITH ${ShingleCte("documents")}
         |SELECT co.da, co.db,
         |       round(CAST(inter AS DOUBLE) / (x.n + y.n - inter), 6) AS jac
         |FROM co JOIN sz x ON x.doc_id = co.da JOIN sz y ON y.doc_id = co.db
         |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
         |  AND (co.da % 7 = 0 OR co.db % 7 = 0)
         |ORDER BY co.da, co.db""".stripMargin),
    // STREAMING incremental near-dup: the mod-7 batch arrives as a
    // real file stream, minhashed in-flight, banded against the
    // static corpus band table (stateless stream-static join),
    // cross-band candidates deduped in state, verified exact. Oracle =
    // exact cross (new×old) pairs — equality is the recall proof.
    // exact new×old cross pairs (XOR on the mod-7 membership): the
    // streaming path's scope excludes new-new by design
    Query("q_stream_incr_neardup", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val isNew = pmod(col("doc_id"), lit(7L)) === 0
      val pairs = graft.streaming.StreamingOps.streamingNearDups(
        Tables.documentsStream(s, dir).filter(isNew), docs.filter(!isNew))
      // append mode + DATA-SIZED output (verified pair set grows with
      // the corpus): parquet file sink, never a driver collect
      fileSinkRun(pairs, "sincrnd")
        .select(col("da"), col("db"), round(col("jac"), 6).as("jac"))
        .orderBy("da", "db")
    },
      s"""WITH ${ShingleCte("documents")}
         |SELECT co.da, co.db,
         |       round(CAST(inter AS DOUBLE) / (x.n + y.n - inter), 6) AS jac
         |FROM co JOIN sz x ON x.doc_id = co.da JOIN sz y ON y.doc_id = co.db
         |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
         |  AND ((co.da % 7 = 0) <> (co.db % 7 = 0))
         |ORDER BY co.da, co.db""".stripMargin),
    // Incremental cluster MAINTENANCE: old assignments (clustered
    // without the mod-7 batch) + the batch's pairs folded in through
    // the batch-bounded supernode CC. Oracle = from-scratch clustering
    // of the full corpus — hash equality proves maintenance ≡
    // recompute (the q_incr_agg construction).
    // identical by construction to q_neardup_clusters' oracle: the
    // incremental maintenance path must reproduce the from-scratch
    // clustering bit for bit
    Query("q_incr_clusters", (s, dir) => CacheScope.pinned { p =>
      val docs = Tables.documents(s, dir)
      val isNew = pmod(col("doc_id"), lit(7L)) === 0
      val old = docs.filter(!isNew)
      // ONE corpus tokenize→shingle→minhash pass shared by BOTH pair
      // passes (the old-corpus self-pairs and the incremental batch
      // pairs each recomputed it from scratch — guide §6, fewer corpus
      // scans). Both CC loops run their label-sum actions while this
      // query is built; the pin outlives them and, since the returned
      // frame reads only their materialized labels, releases at return.
      val base = p(DedupOps.minhashSignatures(
        DedupOps.hashedShingled(docs, 3), 128, "hs"))
      val oldClusters = DedupOps.nearDupClusters(
        DedupOps.verifiedNearDups(old, sigBase = Some(base.filter(!isNew))))
      val incr = DedupOps.incrementalNearDups(old, docs.filter(isNew),
        sigBase = Some(base))
      DedupOps.incrementalClusters(oldClusters, incr.select("da", "db"))
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE ${ShingleCte("documents")},
         |pr AS (
         |  SELECT co.da, co.db
         |  FROM co JOIN sz x ON x.doc_id = co.da JOIN sz y ON y.doc_id = co.db
         |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
         |), ed AS (
         |  SELECT da AS src, db AS dst FROM pr
         |  UNION ALL
         |  SELECT db, da FROM pr
         |), reach(node, label) AS (
         |  SELECT src, src FROM ed
         |  UNION
         |  SELECT e.src, r.label FROM ed e JOIN reach r ON r.node = e.dst
         |)
         |SELECT node AS doc_id, min(label) AS cluster
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin),
    // The reference's PUBLISHED banding design point (`Part_2.pdf` p.5-6
    // Q4b): ~500-hash signatures banded r=18 × b=28 for the t≈0.9
    // S-curve (sigLen 504 = the exact r·b multiple). Same exact
    // all-pairs oracle shape as q_neardup_minhash — equality proves the
    // published parameterization's recall on this corpus ABOVE its own
    // design threshold: minJac 0.92 > t ≈ (1/28)^(1/18) ≈ 0.83 puts
    // every gated pair where the curve's per-pair miss probability is
    // ≤ (1−0.92¹⁸)²⁸ ≈ 6·10⁻⁴ (and the deterministic signatures make
    // the outcome a testable fact, not a draw). Gating at 0.85 instead
    // FAILS at sf0.1 — two jac=8/9 pairs land in the soft zone below
    // t≈0.9 and are probabilistically dropped, which is the published
    // trade-off working as specified, not a recall bug; the threshold
    // choice encodes exactly that boundary. Corpus pair values are
    // small-fraction rationals (…11/12, 12/13…), so 0.92 cannot sit on
    // a boundary.
    // exact all-pairs at the q_neardup_ref threshold — recall gate for
    // the published r=18/b=28 banding
    Query("q_neardup_ref", (s, dir) =>
      DedupOps.verifiedNearDups(Tables.documents(s, dir),
          sigLen = 504, r = 18, bands = 28, minJac = 0.92)
        .select(col("da"), col("db"), round(col("jac"), 6).as("jac"))
        .orderBy("da", "db"),
      s"""WITH ${ShingleCte("documents")}
         |SELECT co.da, co.db,
         |       round(CAST(inter AS DOUBLE) / (x.n + y.n - inter), 6) AS jac
         |FROM co JOIN sz x ON x.doc_id = co.da JOIN sz y ON y.doc_id = co.db
         |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.92
         |ORDER BY co.da, co.db""".stripMargin),
    // Near-dup CLUSTERS: connected components over the verified pair
    // graph — transitive closure into (doc, cluster-representative)
    // rows, the form a dedup pipeline actually consumes. The oracle
    // recomputes components from the exact all-pairs graph with a
    // recursive CTE, so both the pair recall AND the closure must match.
    // transitive closure of the exact ≥0.8 pair graph via recursive CTE
    // (min reachable id per node = component representative)
    Query("q_neardup_clusters", (s, dir) =>
      DedupOps.nearDupClusters(
          DedupOps.verifiedNearDups(Tables.documents(s, dir)))
        .orderBy("doc_id"),
      s"""WITH RECURSIVE ${ShingleCte("documents")},
         |pr AS (
         |  SELECT co.da, co.db
         |  FROM co JOIN sz x ON x.doc_id = co.da JOIN sz y ON y.doc_id = co.db
         |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
         |), ed AS (
         |  SELECT da AS src, db AS dst FROM pr
         |  UNION ALL
         |  SELECT db, da FROM pr
         |), reach(node, label) AS (
         |  SELECT src, src FROM ed
         |  UNION
         |  SELECT e.src, r.label FROM ed e JOIN reach r ON r.node = e.dst
         |)
         |SELECT node AS doc_id, min(label) AS cluster
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin),
    // Canonical-doc manifest: the dedup pipeline's KEEP step — one
    // longest-member representative per near-dup cluster (tie: lowest
    // doc_id), singletons keep themselves. The oracle replays the
    // full chain: exact pairs → recursive closure → rank → union.
    // PRODUCTION SHAPE: this gate recomputes the whole LSH pipeline
    // (minhash → banding → verify → propagation) inline because the
    // harness requires each query be a pure function of the source
    // tables. A real pipeline materializes the cluster assignment ONCE
    // (write nearDupClusters' output as a keyed table / Delta snapshot)
    // and every consumer — canonical selection, filtering, dedup joins —
    // reads that table; at 100 TB the clustering is a run-once batch
    // job, never a per-consumer recomputation.
    // canonical docs: closure + keep-longest rank + singleton union —
    // the engine's three gated stages replayed as one oracle chain.
    // The pair table is the PREFIX-FILTERED variant (ShinglePrefixCte:
    // ppjoin-complete for jac >= 0.8) — the naive shared-shingle
    // self-join OOM'd DuckDB at 48 GB on zipf_sf10's hot trigrams
    Query("q_canonical_docs", (s, dir) => {
      val docs = Tables.documents(s, dir)
      DedupOps.canonicalDocs(docs,
          DedupOps.nearDupClusters(DedupOps.verifiedNearDups(docs)))
        .orderBy("doc_id")
    },
      s"""WITH RECURSIVE ${ShinglePrefixCte("documents", 0.8)},
         |pr AS (
         |  SELECT co.da, co.db
         |  FROM co JOIN sz x ON x.doc_id = co.da JOIN sz y ON y.doc_id = co.db
         |  WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.8
         |), ed AS (
         |  SELECT da AS src, db AS dst FROM pr
         |  UNION ALL
         |  SELECT db, da FROM pr
         |), reach(node, label) AS (
         |  SELECT src, src FROM ed
         |  UNION
         |  SELECT e.src, r.label FROM ed e JOIN reach r ON r.node = e.dst
         |), cl AS (
         |  SELECT node AS doc_id, min(label) AS cluster
         |  FROM reach GROUP BY node
         |), tl AS (
         |  SELECT doc_id,
         |         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens
         |  FROM documents
         |), rk AS (
         |  SELECT cl.doc_id, cl.cluster,
         |         row_number() OVER (PARTITION BY cluster
         |                            ORDER BY n_tokens DESC, cl.doc_id) AS rk,
         |         count(*) OVER (PARTITION BY cluster) AS n_members
         |  FROM cl JOIN tl ON tl.doc_id = cl.doc_id
         |)
         |SELECT doc_id, cluster, n_members FROM rk WHERE rk = 1
         |UNION ALL
         |SELECT d.doc_id, d.doc_id, 1 FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM cl)
         |ORDER BY doc_id""".stripMargin),
    // Exact n-gram Jaccard pairs (inverted index) — the brute-force
    // baseline the LSH path approximates.
    // mirrors the engine's df cap (maxShingleDf = 1000): shingles shared
    // by more docs are dropped from the INTERSECTION (not the set sizes)
    // on both sides — the cap never binds at the driver gate SFs (their
    // corpora stay under df 1000) and binds hard on closed-vocab
    // saturated corpora (sf1 audit: most shingles exceed it)
    Query("q_ngram_jaccard", (s, dir) =>
      DedupOps.ngramJaccardPairs(Tables.documents(s, dir), minJac = 0.5)
        .select(col("da"), col("db"), round(col("jac"), 6).as("jac"))
        .orderBy("da", "db"),
      s"""WITH ${ShingleCte("documents")},
         |dfc AS (
         |  SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000
         |), coc AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
         |  FROM sh a JOIN dfc USING (s) JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |)
         |SELECT coc.da, coc.db,
         |       round(CAST(inter AS DOUBLE) / (x.n + y.n - inter), 6) AS jac
         |FROM coc JOIN sz x ON x.doc_id = coc.da JOIN sz y ON y.doc_id = coc.db
         |WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= 0.5
         |ORDER BY coc.da, coc.db""".stripMargin),
    // Overlap-coefficient (containment) pairs — the dedup criterion
    // Jaccard misses: a short doc embedded verbatim in a long one has
    // containment 1 but Jaccard → 0. Same inverted-index plan, scored
    // inter / min(|A|,|B|).
    // same inverted index, overlap-coefficient score; mirrors the
    // engine's df cap exactly as q_ngram_jaccard does
    Query("q_overlap_pairs", (s, dir) =>
      DedupOps.overlapPairs(Tables.documents(s, dir), minOverlap = 0.8)
        .select(col("da"), col("db"), round(col("ovl"), 6).as("ovl"))
        .orderBy("da", "db"),
      s"""WITH ${ShingleCte("documents")},
         |dfc AS (
         |  SELECT s FROM sh GROUP BY s HAVING count(*) <= 1000
         |), coc AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
         |  FROM sh a JOIN dfc USING (s) JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |)
         |SELECT coc.da, coc.db,
         |       round(CAST(inter AS DOUBLE) / least(x.n, y.n), 6) AS ovl
         |FROM coc JOIN sz x ON x.doc_id = coc.da JOIN sz y ON y.doc_id = coc.db
         |WHERE CAST(inter AS DOUBLE) / least(x.n, y.n) >= 0.8
         |ORDER BY coc.da, coc.db""".stripMargin),
    // SimHash 60-bit fingerprints (engine-portable md5 bit construction).
    Query("q_simhash", (s, dir) =>
      DedupOps.simhash(Tables.documents(s, dir)).orderBy("doc_id"),
      SimhashOracle),
    // SimHash near-dup PAIRS via pigeonhole blocking (Manku WWW'07):
    // Hamming ≤ 3 forces agreement on one of four 15-bit blocks, so
    // candidates come from a (block, value) equality self-join — never
    // all-pairs. Hash equality is a structural recall proof.
    // Oracle: banded rewrite of the all-pairs theta join — LOSSLESS by
    // pigeonhole: the 60-bit signature splits into 4 disjoint 15-bit
    // bands, and hamming(a,b) <= 3 means the (at most 3) differing
    // bits touch at most 3 bands, so at least one band is bit-equal —
    // every qualifying pair survives the band equi-join, and the
    // explicit hamming predicate re-verifies each candidate. The naive
    // a.doc_id < b.doc_id form is 1.25e11 comparisons at zipf_sf10
    // (> 900 s in DuckDB); banding makes the oracle O(pairs-per-
    // bucket), the standard Hamming-join dual of the engine's own
    // banded plan. sigsm is MATERIALIZED (three references).
    Query("q_simhash_pairs", (s, dir) =>
      DedupOps.simhashPairs(Tables.documents(s, dir), maxHamming = 3)
        .orderBy("id_a", "id_b"),
      s"""WITH $SimhashSigsCte,
         |sigsm AS MATERIALIZED (SELECT doc_id, sig FROM sigs),
         |bands AS (
         |  SELECT doc_id, i AS band,
         |         (sig >> CAST(15 * i AS INTEGER)) & 32767 AS bv
         |  FROM sigsm, range(4) r(i)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
         |)
         |SELECT c.id_a, c.id_b, bit_count(xor(x.sig, y.sig)) AS hamming
         |FROM cand c
         |JOIN sigsm x ON x.doc_id = c.id_a
         |JOIN sigsm y ON y.doc_id = c.id_b
         |WHERE bit_count(xor(x.sig, y.sig)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),
    // The SAME simhash computed through the pure-SQL surface: the
    // md5_simhash kernel registered by GraftExtensions, called from
    // spark.sql over a temp view — proves a SQL-only user (JDBC, SQL
    // files) gets the identical native expression the DataFrame API
    // uses. Hash-matches q_simhash's oracle.
    // identical by construction: the SQL-registered kernel must agree
    // with the DataFrame path bit for bit
    Query("q_sql_simhash", (s, dir) => {
      GraftExtensions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("graft_documents")
      s.sql("""
        SELECT doc_id,
               md5_simhash(regexp_extract_all(lower(text), '[a-z0-9]+', 0), 60) AS sig
        FROM graft_documents
        WHERE size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) > 0
        ORDER BY doc_id""")
    }, SimhashOracle),
    // Unicode canonicalization (native NfcNormalize kernel): every
    // doc's text with a deliberately DECOMPOSED suffix (e + U+0301)
    // and a singleton compat point (U+212B → U+00C5) pushed through
    // NFC; md5 of the normalized bytes gates exact byte equality, the
    // octet counts prove bytes really moved (n_norm < n_raw). Map-only.
    // NFC parity: DuckDB's nfc_normalize replays the JDK normalizer;
    // byte counts via strlen (bytes on both engines — character-length
    // functions disagree on combining sequences)
    Query("q_normalize_text", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"), lit(" cafe\u0301 \u212B")).as("raw"))
        .select(col("doc_id"),
          octet_length(col("raw")).as("n_raw_bytes"),
          octet_length(graft.functions.NfcNormalize(col("raw")))
            .as("n_norm_bytes"),
          md5(graft.functions.NfcNormalize(col("raw")).cast("binary"))
            .as("norm_md5"))
        .orderBy("doc_id"),
      """WITH t AS (
        |  SELECT doc_id, text || ' cafe' || chr(769) || ' ' || chr(8491) AS raw
        |  FROM documents
        |)
        |SELECT doc_id,
        |       strlen(raw) AS n_raw_bytes,
        |       strlen(nfc_normalize(raw)) AS n_norm_bytes,
        |       md5(nfc_normalize(raw)) AS norm_md5
        |FROM t ORDER BY doc_id""".stripMargin),
    // Record linkage: Jaro–Winkler fuzzy match over the corpus's
    // string entities (document vocabulary ∪ product names), blocked
    // on (census-chosen prefix, length band) with the canonical-band
    // join — the native codegen'd JW kernel against DuckDB's builtin,
    // raw-double published (bit-parity is the pinned compute-order
    // contract, JaroWinkler.scala).
    // JW linkage replay: identical blocking (census-chosen prefix +
    // length band via unnest), DuckDB's builtin
    // jaro_winkler_similarity — the raw-double publication IS the
    // bit-parity assertion for the native kernel's pinned compute
    // order. The census CTE replays adaptiveJaroPrefix exactly:
    // integer-exact blocked pair counts per ladder rung, smallest
    // rung under the 1e9 budget, steepest as fallback.
    Query("q_jaro_winkler", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(DedupOps.words(col("text"))).as("s"))
      val names = Tables.part(s, dir).select(col("p_name").as("s"))
      // minJw 0.90 is the scale-honest gate threshold: on id-shaped
      // vocabularies (the zipf corpus renders words as w<rank>) the
      // 0.75..0.9 score bracket admits multi-digit-substitution pairs
      // whose TRUE count is quadratic in block population (~80M pairs
      // at zipf_sf0.1); >= 0.9 keeps single-edit/transposition
      // neighbors — an output near-LINEAR in the vocabulary — so the
      // gate stays comparable at every audit SF. The operator's own
      // default remains 0.75 for natural-text entity tables.
      //
      // The blocking prefix is DATA-CHOSEN (adaptiveJaroPrefix: the
      // smallest rung of {2,3,4} whose exact blocked pair count fits
      // 1e9 — prefix-2 on every driver corpus and on zipf to sf0.1,
      // prefix-4 on zipf_sf10 where the saturated rank decade makes
      // prefix-2 a 3.6e10-candidate block set); the oracle replays
      // the identical census and CASE ladder in SQL, so the choice
      // itself is hash-gated.
      val strs = toks.unionByName(names)
      val p = DedupOps.adaptiveJaroPrefix(strs)
      DedupOps.jaroLinkage(strs, "s", 0.90, 1, prefixLen = p)
        .orderBy(desc("jw"), col("s1"), col("s2"))
    },
      """WITH strs AS (
        |  SELECT DISTINCT s FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS s
        |    FROM documents
        |    UNION ALL SELECT p_name FROM part)
        |  WHERE len(s) > 0
        |), banded AS MATERIALIZED (
        |  SELECT s, len(s) AS l, unnest([len(s), len(s) + 1]) AS band
        |  FROM strs
        |), chosen AS (
        |  SELECT CASE
        |    WHEN (SELECT coalesce(sum((n * (n - 1)) // 2), 0)
        |          FROM (SELECT count(*) AS n FROM banded
        |                GROUP BY substr(s, 1, 2), band)) <= 1000000000 THEN 2
        |    WHEN (SELECT coalesce(sum((n * (n - 1)) // 2), 0)
        |          FROM (SELECT count(*) AS n FROM banded
        |                GROUP BY substr(s, 1, 3), band)) <= 1000000000 THEN 3
        |    ELSE 4 END AS p
        |), keyed AS MATERIALIZED (
        |  SELECT s, substr(s, 1, (SELECT p FROM chosen)) AS c, l, band
        |  FROM banded
        |), cand AS (
        |  SELECT a.s AS s1, b.s AS s2, a.l AS l1, b.l AS l2
        |  FROM keyed a JOIN keyed b
        |    ON a.c = b.c AND a.band = b.band AND a.s < b.s
        |   AND a.band = greatest(a.l, b.l)
        |  WHERE abs(a.l - b.l) <= 1
        |)
        |SELECT s1, s2, l1, l2, jaro_winkler_similarity(s1, s2) AS jw
        |FROM cand WHERE jaro_winkler_similarity(s1, s2) >= 0.9
        |ORDER BY jw DESC, s1, s2""".stripMargin),
  )
}
