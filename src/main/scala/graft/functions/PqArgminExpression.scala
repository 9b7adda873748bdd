package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Nearest-codeword argmin for the PQ assignment passes.
  *
  * The join-explode formulation scores every (subvector, codeword) pair
  * as its own row — n·m·ks rows through a broadcast join, an ldot each,
  * then a min-struct aggregate to keep one of every ks. This kernel
  * collapses that to ONE row per (vector, subspace): the subspace's
  * codebook rides the broadcast join as a flattened `array<long>` (ks·d
  * components, ascending-cid blocks) plus its cid list, and the argmin
  * runs as a tight two-level loop inside whole-stage codegen — the same
  * arithmetic (`ssq(c) − 2·⟨v,c⟩`, argmin- and tie-equivalent to plain
  * integer L2 because `ssq(v)` is constant per row), 1/ks of the rows,
  * zero post-join aggregate.
  *
  * Tie rule: ascending-cid iteration with strict `<` keeps the SMALLEST
  * cid — identical to the min-struct form. Codewords may be
  * non-contiguous (Lloyd drop-outs), hence the explicit cid list.
  *
  * NULL when: the flat length is not a multiple of the cid count, the
  * subvector length differs from the derived d, the cid list is empty,
  * or any element is null — the poisoned-row semantics of the HOF
  * family ([[LDot]]).
  */
object PqArgmin {
  def compute(vq: ArrayData, flat: ArrayData, cids: ArrayData): java.lang.Long = {
    val ks = cids.numElements()
    if (ks == 0) return null
    val total = flat.numElements()
    if (total % ks != 0) return null
    val d = total / ks
    if (vq.numElements() != d) return null
    var j = 0
    while (j < d) { if (vq.isNullAt(j)) return null; j += 1 }
    var best = Long.MaxValue
    var bestCid: java.lang.Long = null
    var c = 0
    while (c < ks) {
      if (cids.isNullAt(c)) return null
      var ssq = 0L
      var dot = 0L
      var k = 0
      val base = c * d
      while (k < d) {
        if (flat.isNullAt(base + k)) return null
        val cv = flat.getLong(base + k)
        ssq += cv * cv
        dot += vq.getLong(k) * cv
        k += 1
      }
      val dist = ssq - 2L * dot
      if (dist < best) { best = dist; bestCid = cids.getLong(c) }
      c += 1
    }
    bestCid
  }
}

/** `graft_pq_argmin(vq: array<long>, flat_codebook: array<long>,
  * cids: array<long>) -> long` — see [[PqArgmin]].
  */
case class PqArgminExpression(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires three array<bigint> arguments, got $other")
    }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = GraftFunctions.PqArgminName

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    PqArgmin.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = nullSafeCodeGen(ctx, ev, (a, b, c) => {
      val r = ctx.freshName("pqam")
      s"""java.lang.Long $r = graft.functions.PqArgmin.compute($a, $b, $c);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
         |""".stripMargin
    })
    v
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
