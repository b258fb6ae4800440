package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** min over a string array of the first 60 bits of each element's MD5 —
  * the winnowing-style fingerprint kernel
  * ([[graft.operators.TextAnalysisOps.fingerprints]]).
  *
  * Value-identical to the portable SQL construction
  * `min(('0x' || substring(md5(s), 1, 15))::BIGINT)` (15 hex chars =
  * the digest's first 60 bits), but computed in one per-row loop: the
  * `transform(..., s -> conv(substring(md5(...))))` formulation builds
  * an interpreted five-node expression tree per SHINGLE (~500 k trees
  * at sf0.1); this is one tight loop per DOC. Its input, the shingle
  * array, comes from the native [[WordShingles]] kernel, so the
  * fingerprint's whole per-row path runs in generated code. Empty
  * arrays yield null.
  */
case class Md5MinShingle(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"md5_min_shingle expects array<string>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null else Md5MinShingle.compute(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""if ($c.numElements() == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.Md5MinShingle.compute($c);
         |}""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Md5MinShingle =
    copy(child = newChild)

  override def prettyName: String = "md5_min_shingle"
}

object Md5MinShingle {

  private val mdPool =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Called from both interpreted eval and generated code. */
  def compute(arr: ArrayData): Long = {
    val md = mdPool.get()
    var min = Long.MaxValue
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        val h = md.digest()
        // first 16 hex chars big-endian, then drop the 16th (low nibble
        // of byte 7) → the leading 60 bits, always non-negative
        var be = 0L
        var k = 0
        while (k < 8) { be = (be << 8) | (h(k) & 0xffL); k += 1 }
        val v = be >>> 4
        if (v < min) min = v
      }
      i += 1
    }
    min
  }

  def apply(c: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(Md5MinShingle(ColumnBridge.expression(c)))
  }
}
