package graft

import graft.functions.{ArrayDot, LshBandHashes, Md5SimHash, MinHashSignature, SrpCodes, WordShingles}
import graft.operators.DedupOps
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The native expressions ship BOTH an interpreted eval and a
  * doGenCode body; the two must agree bit-for-bit (a silent divergence
  * would poison dedup/similarity results only in codegen'd stages —
  * i.e. only in production).
  */
class CodegenParitySpec extends SparkSpec {
  import spark.implicits._

  private def floats(xs: Float*) =
    Literal.create(xs, ArrayType(FloatType, containsNull = false))

  test("ArrayDot: interpreted eval equals the codegen'd DataFrame path") {
    val xs = Seq(0.5f, -1.25f, 3.0f, 1e-7f, 42.0f)
    val interp = ArrayDot(floats(xs: _*), floats(xs: _*)).eval(null)
      .asInstanceOf[Double]
    val viaDf = Seq(xs).toDF("a").repartition(1)
      .select(ArrayDot($"a", $"a").as("d")).head().getDouble(0)
    assert(interp == viaDf)
  }

  test("MinHashSignature: interpreted equals codegen for string and long elements") {
    val strs = Literal.create(Seq("alpha", "beta", "gamma"),
      ArrayType(StringType, containsNull = false))
    val interpS = MinHashSignature(strs, 8).eval(null)
      .asInstanceOf[ArrayData].toLongArray().toSeq
    val viaDfS = Seq(Seq("alpha", "beta", "gamma")).toDF("a").repartition(1)
      .select(MinHashSignature($"a", 8).as("s")).head()
      .getSeq[Long](0)
    assert(interpS == viaDfS.toSeq)

    val longs = Literal.create(Seq(11L, -7L, 123456789L),
      ArrayType(LongType, containsNull = false))
    val interpL = MinHashSignature(longs, 8).eval(null)
      .asInstanceOf[ArrayData].toLongArray().toSeq
    val viaDfL = Seq(Seq(11L, -7L, 123456789L)).toDF("a").repartition(1)
      .select(MinHashSignature($"a", 8).as("s")).head()
      .getSeq[Long](0)
    assert(interpL == viaDfL.toSeq)
  }

  test("Md5SimHash: interpreted equals codegen, and equals the SQL bit construction") {
    val toks = Seq("the", "quick", "brown", "fox", "the", "the")
    val tokLit = Literal.create(toks, ArrayType(StringType, containsNull = false))
    val interp = Md5SimHash(tokLit, 60).eval(null).asInstanceOf[Long]
    val viaDf = Seq(toks).toDF("a").repartition(1)
      .select(Md5SimHash($"a", 60).as("s")).head().getLong(0)
    assert(interp == viaDf)
    // portable-SQL reference: tf-weighted per-bit vote over
    // conv(substring(md5(token),1,15),16,10), as the DuckDB oracle does
    val sqlRef = Seq(toks).toDF("a").repartition(1)
      .select(explode($"a").as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
      .withColumn("h", conv(substring(md5($"t".cast("binary")), 1, 15), 16, 10).cast("long"))
      .withColumn("i", explode(sequence(lit(0), lit(59))))
      .withColumn("pm", when(expr("(h >> i) & 1") === 1, $"cnt").otherwise(-$"cnt"))
      .groupBy("i").agg(sum($"pm").as("w"))
      .agg(sum(when($"w" > 0, expr("shiftleft(CAST(1 AS BIGINT), i)")).otherwise(lit(0L))).as("sig"))
      .head().getLong(0)
    assert(interp == sqlRef)
  }

  test("JaroWinkler: interpreted equals codegen; DuckDB-builtin pinned doubles") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.JaroWinkler
    // Pins are the oracle builtin's EXACT doubles (DuckDB probe, this
    // repo's bit-parity contract): transposition, window clipping,
    // prefix boost + cap, sub-0.7 no-boost, differing-first-char
    // no-boost, identity, disjoint, empty convention.
    val pinned = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("duane", "dwayne", 0.8400000000000001),
      ("aaaaaaaa", "aaaaaaab", 0.95), // prefix cap at 4
      ("crate", "trace", 0.7333333333333334), // jaro>0.7 but p=0
      ("zyx", "xyz", 0.5555555555555555), // below boost threshold
      ("abcd", "abcd", 1.0),
      ("a", "b", 0.0),
      ("", "x", 0.0), ("x", "", 0.0), ("", "", 0.0)) // empty → 0, incl. both
    pinned.foreach { case (a, b, want) =>
      val interp = JaroWinkler.compute(
        UTF8String.fromString(a), UTF8String.fromString(b))
      assert(interp == want, s"interp ($a, $b)")
      val viaDf = Seq((a, b)).toDF("a", "b").repartition(1)
        .select(JaroWinkler($"a", $"b").as("jw")).head().getDouble(0)
      assert(viaDf == want, s"codegen ($a, $b)")
    }
    // symmetry on asymmetric-length inputs (window derives from max)
    assert(JaroWinkler.compute(UTF8String.fromString("dixon"),
        UTF8String.fromString("dicksonx")) ==
      JaroWinkler.compute(UTF8String.fromString("dicksonx"),
        UTF8String.fromString("dixon")))
  }

  test("SrpCodes: interpreted equals codegen on testdata vectors") {
    val emb = Tables.embeddings(spark, sf0).limit(20).collect()
      .map(_.getSeq[Float](1))
    emb.foreach { v =>
      val interp = SrpCodes(floats(v: _*), 4, 6).eval(null)
        .asInstanceOf[ArrayData].toLongArray().toSeq
      val viaDf = Seq(v).toDF("a").repartition(1)
        .select(SrpCodes($"a", 4, 6).as("c")).head().getSeq[Long](0)
      assert(interp == viaDf.toSeq)
    }
  }

  // ---- the corpus-text kernels vs the higher-order-function forms they
  // replaced. The references below are the exact expressions DedupOps
  // used before the kernels existed; they run interpreted (ArrayTransform
  // is a CodegenFallback), so they are an independent oracle.

  /** Distinct word n-grams, the portable form of [[WordShingles]]. */
  private def hofShingles(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      array_distinct(transform(sequence(lit(0), size(ws) - n),
        i => array_join(slice(ws, i + lit(1), lit(n)), " "))))
      .otherwise(array().cast("array<string>"))

  private def hofShingleHashes(ws: Column, n: Int): Column =
    transform(hofShingles(ws, n), s => xxhash64(s))

  /** LSH band hashes of the column `sig`, the portable form of [[LshBandHashes]]. */
  private def hofBands(r: Int, b: Int): Column =
    expr(s"transform(sequence(0, ${b - 1}), bi -> xxhash64(bi, slice(sig, bi*$r + 1, $r)))")

  private val corpora = Seq(sf001, "fixtures/zipf_sf0.01", "fixtures/clustered_sf0.01")

  /** For every row of the one-column frame `in`: the kernel's generated
    * code, its interpreted eval and the reference column give the same
    * value, and the kernel's output type and nullability equal the
    * reference's (so swapping one for the other changes no schema).
    */
  private def assertParity(in: DataFrame, kernel: Expression => Expression,
      reference: Column, label: String): Unit = {
    val attr = in.queryExecution.analyzed.output.head
    val k = kernel(attr)
    val ref = in.select(reference.as("v")).schema.head
    assert((k.dataType, k.nullable) == ((ref.dataType, ref.nullable)), s"$label: type")
    val bound = BindReferences.bindReference(k, Seq(attr))
    val generated = GenerateUnsafeProjection.generate(Seq(bound))
    val toUnsafe = UnsafeProjection.create(Array(attr.dataType))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(attr.dataType)
    val toScala = CatalystTypeConverters.createToScalaConverter(k.dataType)
    val rows = in.select(col(attr.name), reference).collect()
    assert(rows.nonEmpty, label)
    rows.foreach { case Row(a, want) =>
      val row = toUnsafe(InternalRow(toCatalyst(a)))
      val interp = toScala(bound.eval(row))
      val codegen = toScala(generated(row).getArray(0))
      assert(interp == want, s"$label: interpreted on $a")
      assert(codegen == want, s"$label: codegen on $a")
    }
  }

  private def assertShingleParity(ws: DataFrame, label: String): Unit =
    for (n <- 1 to 5; hashed <- Seq(false, true)) {
      val ref = if (hashed) hofShingleHashes(col("ws"), n) else hofShingles(col("ws"), n)
      assertParity(ws, WordShingles(_, n, hashed), ref, s"$label n=$n hashed=$hashed")
    }

  test("WordShingles: interpreted = codegen = the transform form, corpora n = 1..5") {
    corpora.foreach { dir =>
      val ws = Tables.documents(spark, dir).select(DedupOps.words(col("text")).as("ws"))
      assertShingleParity(ws, dir)
    }
  }

  test("WordShingles: edge table — nulls, empty, short docs, repeats, non-ASCII") {
    val texts = Seq[String](null, "", "one", "one two", "The the THE the",
      "a b a b a b c", "Ünïcödé straße — naïve café")
    assertShingleParity(texts.toDF("text").select(DedupOps.words(col("text")).as("ws")),
      "texts")
    val arrays = Seq[Seq[String]](null, Seq(), Seq("a"), Seq("a", null, "b", "c"),
      Seq(null, null, "x"), Seq("", "b", "", ""), Seq("a", "b", "a", "b", "a", "b", "c"),
      Seq("naïve", "café", "日本語", "🙂", "café", "日本語"))
    assertShingleParity(arrays.toDF("ws"), "arrays")
    // first-occurrence order, and array_join's null skipping, pinned
    def shingles(ws: Seq[String], n: Int) =
      WordShingles.compute(ArrayData.toArrayData(
        ws.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray), n, hashed = false)
        .toSeq[AnyRef](StringType).map(_.toString)
    assert(shingles(Seq("a", "b", "a", "b", "a", "b", "c"), 2) == Seq("a b", "b a", "b c"))
    assert(shingles(Seq("a", null, "b", "c"), 2) == Seq("a", "b", "b c"))
    assert(shingles(Seq("a", "b"), 3).isEmpty)
  }

  test("LshBandHashes: interpreted = codegen = the transform form, incl. b*r > sig length") {
    val grid = Seq((4, 32), (8, 16), (5, 30), (3, 50), (1, 1), (16, 10), (7, 20), (128, 1), (200, 2))
    corpora.foreach { dir =>
      val sigs = DedupOps.minhashSignatures(
          DedupOps.hashedShingled(Tables.documents(spark, dir), 3), 128, "hs")
        .select(col("sig"))
      grid.foreach { case (r, b) =>
        assertParity(sigs, LshBandHashes(_, r, b), hofBands(r, b), s"$dir r=$r b=$b")
      }
    }
    val schema = StructType(Seq(StructField("sig", ArrayType(LongType, containsNull = true))))
    val edges = spark.createDataFrame(java.util.Arrays.asList(Row(null), Row(Seq()),
      Row(Seq(7L)), Row(Seq(1L, null, 3L, -4L, Long.MaxValue))), schema)
    Seq((1, 1), (2, 3), (4, 32)).foreach { case (r, b) =>
      assertParity(edges, LshBandHashes(_, r, b), hofBands(r, b), s"edges r=$r b=$b")
    }
  }
}
