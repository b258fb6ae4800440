package graft

import graft.operators.SimilarityOps
import org.apache.spark.sql.functions._

/** Recall certificates behind the q_ann_lsh / q_cosine_neardup oracles:
  * at the driver's correctness scale (sf0.01) the LSH candidate sets
  * provably contain the exact answers, so the DuckDB oracles can demand
  * full equality with the brute-force result. If a parameter change
  * breaks these, the driver's hash gate breaks with it — fail here first.
  */
class AnnExactRecallSpec extends SparkSpec {
  import spark.implicits._

  test("annTopK equals brute-force top-10 exactly at sf0.01") {
    val emb = Tables.embeddings(spark, sf001)
    val brute = SimilarityOps.bruteForceTopK(emb, col("vec_id") < 10, 10)
      .select("q_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ann = SimilarityOps.annTopK(emb, col("vec_id") < 10, 10)
      .select("q_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(brute == ann)
  }

  test("ivfTopK at nProbe = nCells equals brute-force top-10 at sf0.01 and sf0.001") {
    // full cell coverage is the provable-containment point (the corpus
    // is near-orthogonal — a pruned probe set cannot contain every
    // exact neighbor; see the q_ann_ivf query comment). Equality here
    // certifies the fit→assign→probe→rank pipeline loses nothing,
    // which is exactly what the q_ann_ivf DuckDB oracle re-proves.
    for (dir <- Seq(sf001, sf0)) {
      val emb = Tables.embeddings(spark, dir)
      val brute = SimilarityOps.bruteForceTopK(emb, col("vec_id") < 10, 10)
        .select("q_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
      val ivf = SimilarityOps.ivfTopK(emb, col("vec_id") < 10, 10,
        nCells = 8, nProbe = 8)
        .select("q_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
      assert(brute == ivf, s"mismatch at $dir")
    }
  }

  test("cosineNearDupsLsh equals brute-force all-pairs at sf0.01 and sf0.001") {
    // sf0.001 is the corpus that caught a miss at 8 tables — keep both
    for (dir <- Seq(sf001, sf0)) {
      val emb = Tables.embeddings(spark, dir)
      val brute = SimilarityOps.cosineNearDups(emb, 0.4)
        .select("va", "vb").as[(Long, Long)].collect().toSet
      val lsh = SimilarityOps.cosineNearDupsLsh(emb, 0.4)
        .select("va", "vb").as[(Long, Long)].collect().toSet
      assert(brute == lsh, s"mismatch at $dir")
    }
  }

  test("pq exact-verifier boundary margins dominate the double-path noise") {
    // The q_ann_pq verifier accumulates dist2 in double (qq − 2·q·n + nn
    // via ArrayDot, ~1-ulp-per-op error) while the DuckDB oracle folds
    // DECIMAL(38,12). round(…,6) protects the published VALUES, but
    // top-k/rank-1 MEMBERSHIP rides the unrounded ordering — a flip is
    // only possible if two corpus distances sit closer than the double
    // noise. Prove they never do on the gated corpora: the exact
    // (unlimited-precision BigDecimal) rank-1→2 and k→k+1 gaps must
    // exceed twice the MEASURED |double-path − exact| worst case.
    // (Same fixed-fact pattern as q_pca_top's boundary-margin audit.)
    val k = 10
    for (dir <- Seq(sf001, sf0)) {
      val emb = Tables.embeddings(spark, dir)
      val vecs = emb.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      val enginePath = emb
        .select(col("vec_id").as("nn_id"), col("embedding").as("emb_n"),
          SimilarityOps.dot(col("embedding"), col("embedding")).as("nn"))
        .crossJoin(broadcast(emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("emb_q"),
            SimilarityOps.dot(col("embedding"), col("embedding")).as("qq"))))
        .filter(col("q_id") =!= col("nn_id"))
        .select(col("q_id"), col("nn_id"),
          (col("qq") - lit(2.0) * SimilarityOps.dot(col("emb_q"), col("emb_n"))
            + col("nn")).as("dist2"))
        .as[(Long, Long, Double)].collect()
      def exact(a: Array[Float], b: Array[Float]): java.math.BigDecimal = {
        var s = java.math.BigDecimal.ZERO
        var i = 0
        while (i < a.length) {
          val d = new java.math.BigDecimal(a(i).toDouble)
            .subtract(new java.math.BigDecimal(b(i).toDouble))
          s = s.add(d.multiply(d)) // exact: no MathContext anywhere
          i += 1
        }
        s
      }
      val byId = vecs.toMap
      val exactD = enginePath.map { case (q, n, _) =>
        ((q, n), exact(byId(q), byId(n)))
      }.toMap
      val noise = enginePath.map { case (q, n, d) =>
        math.abs(d - exactD((q, n)).doubleValue)
      }.max
      val minGap = (0L until 10L).map { q =>
        val ds = exactD.collect { case ((`q`, n), e) => (e, n) }.toArray
          .sortWith((x, y) => { val c = x._1.compareTo(y._1)
            c < 0 || (c == 0 && x._2 < y._2) })
        math.min(ds(1)._1.subtract(ds(0)._1).doubleValue,
          ds(k)._1.subtract(ds(k - 1)._1).doubleValue)
      }.min
      assert(minGap > 2 * noise,
        s"$dir: boundary gap $minGap within noise $noise — ordering not provably stable")
    }
  }

  test("pqTopK with shortlist >= corpus equals the exact L2 top-10") {
    // full-shortlist is PQ's provable-containment point (the IVF
    // full-probe trick): ADC order stops mattering and the exact
    // re-rank must reproduce brute force bit-for-bit — certifying the
    // fit→encode→ADC→shortlist→re-rank machinery loses nothing.
    val emb = Tables.embeddings(spark, sf0)
    val n = emb.count().toInt
    val pq = SimilarityOps.pqTopK(emb, col("vec_id") < 10, 10, shortlist = n)
      .select("q_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    val vecs = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    val d2 = aggregate(zip_with(col("eq"), col("en"),
      (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)
    val ex = vecs.select(col("vec_id").as("q_id"), col("e").as("eq"))
      .filter(col("q_id") < 10)
      .crossJoin(vecs.select(col("vec_id").as("nn_id"), col("e").as("en")))
      .filter(col("q_id") =!= col("nn_id"))
      .withColumn("d2", d2)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("d2").asc, col("nn_id").asc)))
      .filter(col("rank") <= 10)
      .select("q_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(pq == ex)
  }
}
