package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Integer dot product over two `array<long>` columns.
  *
  * The PQ family scores QUANTIZED subvectors (already-floored longs)
  * against integer codewords; the portable HOF formulation
  * (`aggregate(zip_with(a, b, (x, y) -> x * y), 0L, ...)`) runs its
  * lambdas INTERPRETED with a per-pair allocation — measured as the
  * dominant cost of the codebook-assignment passes (10M+ evaluations at
  * the benched scale). This native kernel is one tight primitive loop
  * inside whole-stage codegen, same pattern as [[QuantizedDotExpression]]
  * (which quantizes FLOAT inputs; this one takes longs as-is).
  *
  * Null semantics mirror the HOF exactly: NULL when the arrays differ in
  * length or any element is null (zip_with pads with null and a null
  * product poisons the aggregate) — parity is spec-asserted.
  */
object LDot {
  def compute(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    s
  }
}

/** `graft_ldot(array<long>, array<long>) -> long` — see [[LDot]]. */
case class LongDotExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<bigint> arguments, got $other")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = GraftFunctions.LDotName

  override protected def nullSafeEval(a: Any, b: Any): Any =
    LDot.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // ctx.freshName, NOT a fixed local: two graft_ldot calls can land in
    // ONE codegen scope (non-nullable array inputs skip the nullSafeExec
    // brace scope), and a duplicate declaration is a Janino compile error
    // that silently drops the whole stage to interpreted execution —
    // defeating the kernel's purpose.
    val v = nullSafeCodeGen(ctx, ev, (a, b) => {
      val ldr = ctx.freshName("ldr")
      s"""java.lang.Long $ldr = graft.functions.LDot.compute($a, $b);
         |if ($ldr == null) { ${ev.isNull} = true; } else { ${ev.value} = $ldr.longValue(); }
         |""".stripMargin
    })
    v
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
