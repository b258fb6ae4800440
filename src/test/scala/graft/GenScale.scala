package graft

import org.apache.spark.sql.SaveMode

/** Scaling-study data generator (test-scope tooling, not shipped).
  *
  * Reproduces the driver testdata's SCHEMA and distribution SHAPE
  * (TESTDATA.md; ratios measured across sf0.001/0.01/0.1: lineitem =
  * 6M·sf rows, parts = li/30, orders = li/4, customers = orders/10,
  * events = li/6, users = events/66, docs = max(500, 50k·sf),
  * embeddings = max(500, 20k·sf)) at ARBITRARY scale factors, so the
  * bench can measure one extra decade (sf1) that the driver does not
  * provide. Every value is a pure function of the row id (per-row
  * seeded PRNG) — deterministic under any partitioning, regenerable
  * bit-identically, no driver-side data.
  *
  * Usage: GenScale <sf> <outDir>
  */
object GenScale {

  private val Vocab: Array[String] = Array(
    "join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "key", "agg", "slow", "fast", "table", "value", "part",
    "a", "the", "merge", "window", "spark", "order", "data", "small",
    "line", "query", "sort", "group", "index", "shuffle", "cache", "disk")

  /** Write as ONE parquet FILE named like the driver's layout
    * (`<out>/<name>.parquet` is a file, not a directory — the streaming
    * readers' `pathGlobFilter` depends on that). repartition(1) keeps
    * generation parallel; only the write is single-threaded.
    */
  private def writeSingle(df: org.apache.spark.sql.DataFrame, out: String,
      name: String): Unit = {
    import java.nio.file.{Files, Paths}
    val tmp = s"$out/__tmp_$name"
    df.repartition(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .find(p => p.endsWith(".parquet") && p.contains("part-"))
      .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
    Files.createDirectories(Paths.get(out))
    Files.move(Paths.get(part), Paths.get(s"$out/$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the scaffold dir
    Files.walk(Paths.get(tmp)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))
  }

  /** Open-vocabulary Zipf word-id space for `zipf` mode. */
  private val OpenVocab = 1000000L
  private val LnV = math.log(OpenVocab.toDouble + 1.0)

  /** Zipf(s≈1) rank over [0, n): inverse-CDF of the truncated 1/x
    * density (log-uniform) — P(k) ≈ 1/((k+1)·ln n). The head rank
    * collects ~1/ln n of all draws (≈8–10% for the key spaces here),
    * the tail is hapax-rich — the rank-frequency shape of real review
    * corpora (Amazon Books, the reference's Assignment-3 dataset) that
    * the uniform driver corpus lacks.
    */
  private def zipfDraw(r: java.util.Random, n: Long): Long =
    math.min(n - 1, (math.exp(r.nextDouble() * math.log(n.toDouble)) - 1.0).toLong)

  private def genRng(id: Long, salt: Long) =
    new java.util.Random(id * 6364136223846793005L + salt)

  /** "clustered" mode's base vector for row `id`: one of 32 unit-norm
    * Gaussian centers (Zipf-skewed populations) + sigma = 0.125 per-dim
    * member noise. Object-level (not a main-local def) so the Dataset
    * closure stays serializable.
    */
  private def clusteredBase(id: Long): (Array[Double], Int) = {
    val cl = zipfDraw(genRng(id, 101L), 32L).toInt
    val rc = genRng(cl.toLong, 103L)
    val dir = Array.fill(64)(rc.nextGaussian())
    val nrm = math.sqrt(dir.map(d => d * d).sum)
    val rn = genRng(id, 107L)
    (dir.map(c => c / nrm + rn.nextGaussian() * 0.125), cl)
  }

  def main(args: Array[String]): Unit = {
    val sf = args(0).toDouble
    val out = args(1)
    // mode: "driver" (default) mirrors the driver testdata's UNIFORM
    // key draws and closed 31-word vocab; "zipf" keeps the same schema,
    // row counts and seeds but draws documents from an OPEN 1M-word-id
    // Zipf vocabulary and the fact-table foreign keys (o_custkey,
    // l_partkey, events.user_id) from Zipf-headed rank distributions —
    // the realistic-corpus variant the scale studies run on (VERDICT r7
    // missing #1: closed vocab manufactured shingle/banding/simhash
    // saturation, uniform keys drained CF co-rating density at sf ≥ 1);
    // "clustered" keeps driver-mode tables but replaces the EMBEDDINGS
    // with a realistic clustered geometry (below) — the zipf lane's
    // embeddings are zipf-invariant, so the embedding family
    // (semdedup/ANN/kmeans/cosine-neardup/isotropy/MMD) had no
    // adversarial corpus until this mode (VERDICT r10 missing #2).
    val mode = if (args.length > 2) args(2) else "driver"
    val zipf = mode == "zipf"
    val clustered = mode == "clustered"
    val spark = GraftSession.local(32)
    import spark.implicits._

    val nLi = (6000000L * sf).toLong
    val nOrders = nLi / 4
    val nCust = nOrders / 10
    val nParts = nLi / 30
    val nSupp = math.max(10L, nLi / 600)
    val nEvents = nLi / 6
    val nUsers = math.max(15L, nEvents / 66)
    val nDocs = math.max(500L, (50000 * sf).toLong)
    val nEmb = math.max(500L, (20000 * sf).toLong)
    val parts = math.max(8, math.min(256, (nLi / 50000L).toInt))

    def rng(id: Long, salt: Long) = new java.util.Random(id * 6364136223846793005L + salt)

    // documents: Zipf-ish draws over the fixed vocab; every 10th doc is
    // a near-duplicate of its predecessor (same seed, 3 extra words) so
    // the dedup pipeline has real work at every scale
    spark.range(0, nDocs, 1, parts).as[Long].map { id =>
      val seed = if (id % 10 == 9) id - 1 else id
      val r = rng(seed, 17L)
      val n = 8 + r.nextInt(83)
      val sb = new StringBuilder
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(' ')
        if (zipf) {
          // open vocab: log-uniform rank 1..1M — Zipf head ("w1" ≈ 5%
          // of tokens) with a hapax-rich tail; corpus vocabulary grows
          // with sf instead of saturating at 31 types
          sb.append('w').append(
            math.min(OpenVocab, math.exp(r.nextDouble() * LnV).toLong))
        } else {
          // Zipf-ish: square the uniform so low ranks dominate
          val u = r.nextDouble()
          sb.append(Vocab((u * u * Vocab.length).toInt.min(Vocab.length - 1)))
        }
        i += 1
      }
      if (id % 10 == 9) {
        val r2 = rng(id, 19L)
        var j = 0
        while (j < 3) {
          sb.append(' ')
          if (zipf) sb.append('w').append(
            math.min(OpenVocab, math.exp(r2.nextDouble() * LnV).toLong))
          else sb.append(Vocab(r2.nextInt(Vocab.length)))
          j += 1
        }
      }
      val text = sb.toString
      val rl = rng(id, 23L)
      val lang = { val u = rl.nextDouble()
        if (u < 0.44) "en" else if (u < 0.58) "zh"
        else if (u < 0.72) "es" else if (u < 0.86) "de" else "fr" }
      (id, text, lang, s"src${id % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .transform { df => writeSingle(df, out, "documents"); df }

    // embeddings, driver/zipf modes: 10 Gaussian clusters in 64-d
    // (center scale 0.2, noise 0.1) mirroring the driver corpus's
    // label structure.
    //
    // "clustered" mode: mixture-of-Gaussians with the three properties
    // the isotropic corpus can't probe —
    //  - 32 UNIT-NORM centers with Zipf-skewed populations (zipfDraw
    //    over 32: the head cluster takes ~29% of the corpus), so
    //    cluster-bucketed operators see real population skew;
    //  - per-dim member noise sigma = 0.125 → cos(member, center)
    //    ≈ 1/sqrt(1 + 64·sigma²) ≈ 0.71 and within-cluster pair cosine
    //    ≈ 0.5 — plenty of structure above the 0.4 gate thresholds;
    //  - PLANTED near-duplicates at a known tau margin: every id ≡ 4
    //    (mod 5) is its block's base row + eps·g with eps = 0.02 →
    //    cos(parent, dup) ≈ 1/sqrt(1 + 64·eps²/‖parent‖²) ≈ 0.99,
    //    comfortably separated from the ~0.5 non-dup shoulder, so
    //    SemDeDup/ANN/cosine recall has something real to find and
    //    miss. Parents are the 4 preceding ids of the same 5-block
    //    (always base rows — no dup chains), keeping every vector a
    //    pure function of its id.
    spark.range(0, nEmb, 1, parts).as[Long].map { id =>
      if (clustered) {
        val (vec, cl) =
          if (id % 5 == 4) {
            val parent = id - 1 - genRng(id, 109L).nextInt(4)
            val (base, c) = clusteredBase(parent)
            val rd = genRng(id, 113L)
            (base.map(v => v + rd.nextGaussian() * 0.02), c)
          } else clusteredBase(id)
        (id, vec.map(_.toFloat), cl % 10)
      } else {
        val label = (id % 10).toInt
        val rc = rng(label.toLong, 29L)
        val center = Array.fill(64)(rc.nextGaussian() * 0.2)
        val rn = rng(id, 31L)
        val vec = center.map(c => (c + rn.nextGaussian() * 0.1).toFloat)
        (id, vec, label)
      }
    }.toDF("vec_id", "embedding", "label")
      .transform { df => writeSingle(df, out, "embeddings"); df }

    // events: ~30 days of traffic, sequential timestamps with jitter
    val spanUs = 30L * 86400L * 1000000L
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    spark.range(0, nEvents, 1, parts).as[Long].map { id =>
      val r = rng(id, 37L)
      val ts = t0 + id * (spanUs / math.max(nEvents, 1L)) + (r.nextDouble() * 6e7).toLong
      val types = Array("click", "view", "purchase", "signup", "error")
      val value = BigDecimal(math.min(500.0, math.exp(r.nextGaussian() * 1.0 + 3.54)))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      // full microsecond fidelity: the millis constructor truncates to ms,
      // so restore the sub-second part from the micros value via setNanos
      // (driver testdata carries µs jitter; interval joins/sessionize are
      // ts-distinctness-sensitive)
      val tstamp = new java.sql.Timestamp(ts / 1000L)
      tstamp.setNanos(((ts % 1000000L) * 1000L).toInt)
      val user = if (zipf) zipfDraw(r, nUsers) else r.nextInt(nUsers.toInt).toLong
      (id, tstamp, user,
        types(r.nextInt(types.length)), value, s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .transform { df => writeSingle(df, out, "events"); df }

    // orders + lineitem: TPC-H-ish keys and magnitudes
    spark.range(0, nOrders, 1, parts).as[Long].map { id =>
      val r = rng(id, 41L)
      val statuses = Array("P", "O", "F")
      val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val price = BigDecimal(1000.0 + r.nextDouble() * 450000.0)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      val day = r.nextInt(2500)
      val cust = if (zipf) zipfDraw(r, nCust) else r.nextInt(nCust.toInt).toLong
      (id, cust, statuses(r.nextInt(3)), price,
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(1992, 1, 1)
          .plusDays(day).atStartOfDay()),
        prios(r.nextInt(5)))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .transform { df => writeSingle(df, out, "orders"); df }

    spark.range(0, nLi, 1, parts).as[Long].map { id =>
      val r = rng(id, 43L)
      val qty = (1 + r.nextInt(50)).toDouble
      val price = BigDecimal(qty * (900.0 + r.nextDouble() * 1000.0))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      val okey = r.nextInt(nOrders.toInt).toLong // drawn first: keeps the
      // driver-mode RNG stream bit-identical to prior rounds' corpora
      val pkey = if (zipf) zipfDraw(r, nParts) else r.nextInt(nParts.toInt).toLong
      (okey, pkey,
        r.nextInt(nSupp.toInt).toLong, 1 + r.nextInt(7), qty, price,
        BigDecimal(r.nextDouble() * 0.1).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(r.nextDouble() * 0.08).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(1992, 1, 1)
          .plusDays(r.nextInt(2500)).atStartOfDay()))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .transform { df => writeSingle(df, out, "lineitem"); df }

    spark.range(0, nCust, 1, parts).as[Long].map { id =>
      val r = rng(id, 47L)
      val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      (id, s"Customer#$id", r.nextInt(25),
        BigDecimal(-999.0 + r.nextDouble() * 10000.0)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        segs(r.nextInt(5)))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .transform { df => writeSingle(df, out, "customer"); df }

    // region/nation: fixed-size dimension tables (driver shape: 5 / 25 rows
    // at every sf — names and keys mirror the driver's layout exactly)
    val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    regions.zipWithIndex.map { case (nm, i) => (i, nm) }.toSeq
      .toDF("r_regionkey", "r_name")
      .transform { df => writeSingle(df, out, "region"); df }
    (0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF(
        "n_nationkey", "n_name", "n_regionkey")
      .transform { df => writeSingle(df, out, "nation"); df }

    // part: adjective+noun names, Brand#1..25, 6 types, size 1..50,
    // retailprice 900 + (id % 1000)/10 (driver shape)
    val adjs = Array("small", "red", "blue", "hot", "old", "large", "green", "new")
    val nouns = Array("ring", "widget", "bolt", "gear", "gizmo", "plate", "cog", "pin")
    val ptypes = Array("ECONOMY", "STANDARD", "LARGE", "MEDIUM", "SMALL", "PROMO")
    spark.range(0, nParts, 1, parts).as[Long].map { id =>
      val r = rng(id, 53L)
      (id, s"${adjs(r.nextInt(adjs.length))} ${nouns(r.nextInt(nouns.length))}",
        s"Brand#${1 + r.nextInt(25)}", ptypes(r.nextInt(ptypes.length)),
        1 + r.nextInt(50),
        BigDecimal(900.0 + (id % 1000) / 10.0)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .transform { df => writeSingle(df, out, "part"); df }

    // supplier: zero-padded names, nationkey 0..24, acctbal -1000..10000
    spark.range(0, nSupp, 1, parts).as[Long].map { id =>
      val r = rng(id, 59L)
      (id, f"Supplier#$id%09d", r.nextInt(25),
        BigDecimal(-1000.0 + r.nextDouble() * 11000.0)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .transform { df => writeSingle(df, out, "supplier"); df }

    println(s"generated sf=$sf mode=${if (zipf) "zipf" else "driver"} at $out: li=$nLi orders=$nOrders events=$nEvents docs=$nDocs emb=$nEmb parts=$nParts supp=$nSupp")
    spark.stop()
  }
}
