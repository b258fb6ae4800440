package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** MinHash signature of a string- or long-array column as a native
  * Catalyst expression: sig[j] = min over elements e of xxhash64(h0(e),
  * seed = j) — k INDEPENDENTLY SEEDED hash rows over a per-element
  * pre-hash h0 (long input IS the pre-hash, the hashed-shingle fast
  * path of [[graft.operators.DedupOps.hashedShingled]], whose longs
  * come from the [[WordShingles]] kernel with the same seed-42
  * xxhash64; string input is pre-hashed once with seed 42). Cf.
  * Broder's minwise hashing; row independence is what the banding
  * recall math assumes. Upstream ([[WordShingles]]) and downstream
  * ([[LshBandHashes]]) of this expression are native kernels too, so
  * no step of the shingle → signature → band path runs interpreted.
  *
  * Why not Kirsch–Mitzenmacher double hashing (sig[j] = min of
  * h1 + j·h2, the construction this expression used through round 8):
  * KM's pairwise guarantee is fine for Bloom MEMBERSHIP but ruinous
  * for minwise ARGMIN — each element's row values form a LINE in j,
  * so for a subset pair A ⊂ B the rows where an extra element of B
  * undercuts the lower envelope of A's lines come in long contiguous
  * spans. Measured on the zipf_sf10 corpus (docs 255508/255509, true
  * Jaccard 0.925): 37/128 rows agreed (expected ~118) and 0/32 bands,
  * a full-recall miss whose probability under independent rows is
  * ~5e-19 — the same silent weak-independence failure class as the
  * round-8 AMS sign-hash collapse. One seeded hash per (element, row)
  * restores the independence the S-curve math prices; MissScratch
  * (git show 89f0515:src/test/scala/graft/MissScratch.scala) replays the
  * diagnosis.
  *
  * Why an Expression and not `transform(sequence(0,k-1), s ->
  * array_min(transform(set, e -> xxhash64(e, s))))`: nested
  * higher-order functions evaluate interpreted, one closure call per
  * (element × seed) — measured ~600 s for 5000 docs × 128 seeds at
  * sf0.1. This loop runs one 8-byte xxhash64 round (~10 ALU ops) per
  * (element, row) inside a single codegen'd eval: no boxing, no
  * closures, and the signature stage stays inside whole-stage codegen.
  *
  * Null elements are skipped; a null input array yields null.
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    child.dataType match {
      case ArrayType(StringType, _) | ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_sig expects array<string> or array<long>, got $other")
    }
  }

  private lazy val elemIsLong: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == LongType

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h0 =
          if (elemIsLong) arr.getLong(i)
          else {
            val s = arr.getUTF8String(i)
            XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
          }
        var j = 0
        while (j < k) {
          val h = XXH64.hashLong(h0, j.toLong)
          if (h < sig(j)) sig(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Whole-stage-codegen body: the same independently-seeded row loop
    * emitted as straight-line Java (no per-row boxing, no interpreted
    * eval) so the signature computation stays inside the generated
    * stage.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val xxh = classOf[XXH64].getName
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val h = ctx.freshName("h")
      val h0 = ctx.freshName("h0")
      val preHash =
        if (elemIsLong)
          s"long $h0 = $c.getLong($i);"
        else {
          val s = ctx.freshName("s")
          s"""org.apache.spark.unsafe.types.UTF8String $s = $c.getUTF8String($i);
             |long $h0 = $xxh.hashUnsafeBytes($s.getBaseObject(), $s.getBaseOffset(), $s.numBytes(), 42L);""".stripMargin
        }
      s"""long[] $sig = new long[$k];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |int $n = $c.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$c.isNullAt($i)) {
         |    $preHash
         |    for (int $j = 0; $j < $k; $j++) {
         |      long $h = $xxh.hashLong($h0, (long) $j);
         |      if ($h < $sig[$j]) $sig[$j] = $h;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

object MinHashSignature {
  /** Column-level entry point: `minhashSig($"shingles", 128)`. */
  def apply(c: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(c), k))
  }
}
