package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** LSH band hashes of a MinHash signature: element `bi` (0 ≤ bi < b)
  * is the `xxhash64` of the band index and the band's `r` signature
  * values — the bucket key [[graft.operators.DedupOps.lshBands]] joins
  * on.
  *
  * Value-identical to the portable construction
  * `transform(sequence(0, b - 1), bi -> xxhash64(bi, slice(sig, bi*r + 1, r)))`,
  * including its edge cases: a band that runs past the end of the
  * signature hashes only the values it covers (none when b·r exceeds
  * the length), null values are skipped, and a null signature hashes
  * every band as empty. That formulation runs interpreted (Spark's
  * `ArrayTransform` is a `CodegenFallback`), one lambda evaluation and
  * one sliced array per BAND; this is one loop per signature inside the
  * generated stage.
  */
case class LshBandHashes(child: Expression, r: Int, b: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _ if r < 1 || b < 1 => TypeCheckResult.TypeCheckFailure(
        s"lsh_band_hashes needs r >= 1 and b >= 1, got r = $r, b = $b")
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"lsh_band_hashes expects array<bigint>, got $other")
    }

  override def eval(input: InternalRow): Any =
    LshBandHashes.compute(child.eval(input).asInstanceOf[ArrayData], r, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${c.code}
      |${classOf[ArrayData].getName} ${ev.value} = graft.functions.LshBandHashes.compute(
      |  ${c.isNull} ? null : ${c.value}, $r, $b);""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBandHashes =
    copy(child = newChild)

  override def prettyName: String = "lsh_band_hashes"
}

object LshBandHashes {

  /** Called from both interpreted eval and generated code. */
  def compute(sig: ArrayData, r: Int, b: Int): ArrayData = {
    val len = if (sig == null) 0L else sig.numElements().toLong
    val out = new Array[Long](b)
    var bi = 0
    while (bi < b) {
      var h = XXH64.hashInt(bi, 42L)
      var j = bi.toLong * r
      val end = math.min(j + r, len)
      while (j < end) {
        if (!sig.isNullAt(j.toInt)) h = XXH64.hashLong(sig.getLong(j.toInt), h)
        j += 1
      }
      out(bi) = h
      bi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Column-level entry point: `LshBandHashes($"sig", 4, 32)`. */
  def apply(sig: Column, r: Int, b: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(LshBandHashes(ColumnBridge.expression(sig), r, b))
  }
}
