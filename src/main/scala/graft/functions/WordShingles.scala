package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The distinct word n-grams of a token array, in first-occurrence
  * order — the shingling kernel of every near-dup op
  * ([[graft.operators.DedupOps.shingled]]). With `hashed`, each
  * distinct n-gram is replaced by its `xxhash64` (seed 42); the dedup
  * runs on the strings first, so two n-grams that collide on the hash
  * still yield two elements.
  *
  * Value-identical to the portable construction
  * `array_distinct(transform(sequence(0, size(ws) - n), i ->
  * array_join(slice(ws, i + 1, n), ' ')))` (empty when `size(ws) < n`,
  * and for a null array), followed by `transform(…, s -> xxhash64(s))`
  * when hashed. Null tokens are skipped inside an n-gram, exactly as
  * `array_join` skips them. That formulation runs interpreted — Spark's
  * `ArrayTransform` is a `CodegenFallback` — building one lambda
  * evaluation and one sliced array per SHINGLE; this is one loop per
  * DOC inside the generated stage. The result is never null; `nullable`
  * and `dataType` mirror the portable form so no schema changes.
  */
case class WordShingles(child: Expression, n: Int, hashed: Boolean)
    extends UnaryExpression {

  override def dataType: DataType =
    if (hashed) ArrayType(LongType, containsNull = false)
    else ArrayType(StringType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _ if n < 1 => TypeCheckResult.TypeCheckFailure(
        s"word_shingles needs n >= 1, got $n")
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"word_shingles expects array<string>, got $other")
    }

  override def eval(input: InternalRow): Any =
    WordShingles.compute(child.eval(input).asInstanceOf[ArrayData], n, hashed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${c.code}
      |${classOf[ArrayData].getName} ${ev.value} = graft.functions.WordShingles.compute(
      |  ${c.isNull} ? null : ${c.value}, $n, $hashed);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

object WordShingles {

  /** `toks[from, from + n)` joined by single spaces, nulls skipped (as
    * `array_join` does), into a fresh byte array: the n-gram owns its
    * bytes, never the input row's.
    */
  private def join(toks: Array[UTF8String], from: Int, n: Int): UTF8String = {
    var bytes = -1
    var j = from
    while (j < from + n) {
      if (toks(j) != null) bytes += toks(j).numBytes + 1
      j += 1
    }
    if (bytes < 0) return UTF8String.EMPTY_UTF8
    val out = new Array[Byte](bytes)
    var pos = -1
    j = from
    while (j < from + n) {
      val t = toks(j)
      if (t != null) {
        if (pos >= 0) out(pos) = ' '
        t.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET + pos + 1)
        pos += t.numBytes + 1
      }
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Called from both interpreted eval and generated code. */
  def compute(ws: ArrayData, n: Int, hashed: Boolean): ArrayData = {
    val len = if (ws == null) 0 else ws.numElements()
    if (len < n) {
      return if (hashed) UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
        else new GenericArrayData(Array.empty[Any])
    }
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) {
      if (!ws.isNullAt(i)) toks(i) = ws.getUTF8String(i)
      i += 1
    }
    val seen = new java.util.HashSet[UTF8String](2 * (len - n + 1))
    val grams = new Array[UTF8String](len - n + 1)
    var m = 0
    i = 0
    while (i <= len - n) {
      val g = join(toks, i, n)
      if (seen.add(g)) { grams(m) = g; m += 1 }
      i += 1
    }
    if (hashed) {
      val hs = new Array[Long](m)
      var k = 0
      while (k < m) {
        val g = grams(k)
        hs(k) = XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, 42L)
        k += 1
      }
      UnsafeArrayData.fromPrimitiveArray(hs)
    } else {
      val out = new Array[Any](m)
      System.arraycopy(grams, 0, out, 0, m)
      new GenericArrayData(out)
    }
  }

  /** Column-level entry point: `WordShingles(DedupOps.words($"text"), 3)`. */
  def apply(ws: Column, n: Int, hashed: Boolean = false): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(WordShingles(ColumnBridge.expression(ws), n, hashed))
  }
}
