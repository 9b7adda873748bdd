package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined chunking (CDC) cut positions.
  *
  * Fixed-offset chunking (every N chars) breaks under INSERTION: one
  * added character early in a page shifts every later boundary, so no
  * downstream chunk hash matches its previous crawl — the failure mode
  * that makes fixed n-gram/offset dedup miss re-crawled pages with an
  * injected ad or timestamp. CDC (the rsync/LBFS/restic family) derives
  * boundaries from CONTENT: position `i` is a cut iff the rolling hash
  * of the last `w` code points satisfies `hash % divisor == 0`, so a
  * local edit only perturbs boundaries within ~w code points of the
  * edit and every other chunk re-aligns bit-identically — the
  * shift-robustness that makes chunk-level dedup work across crawls.
  *
  * Hash: polynomial `h = Σ c_j·B^(w-1-j) mod M` over the window's code
  * points, with `B = 257` and `M = 1\,000\,000\,007` — every
  * intermediate ≤ (M−1)·257 + c < 2^63, so plain long arithmetic is
  * exact and a SQL engine replays it verbatim (DuckDB:
  * `list_reduce(cs[i−w+1:i], (h, c) -> (h·257 + c) % M)`; the fold
  * seeded by the first element equals the fold from 0, since
  * `0·257 + c0 = c0`). Computed ROLLING in one O(n) pass: the outgoing
  * code point is subtracted via the precomputed `B^(w-1) mod M` before
  * the incoming one shifts in — bit-identical to per-window recompute,
  * proven by the spec against the naive form.
  *
  * Returns the 1-based code-point positions `i ∈ [w, n]` (cut = after
  * the i-th code point) as `array<int>`, empty for `n < w`, null for
  * null input. Positions are CODE POINTS (not UTF-16 units, not bytes)
  * on both engines — `UTF8String` iterates code points natively, DuckDB
  * splits per character.
  */
object CdcCuts {
  val B: Long = 257L
  val M: Long = 1000000007L

  def compute(s: UTF8String, w: Int, divisor: Int): ArrayData = {
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    if (n < w) return new GenericArrayData(Array.empty[Int])
    // pw = B^(w-1) mod M — the outgoing code point's coefficient
    var pw = 1L
    var k = 1
    while (k < w) { pw = pw * B % M; k += 1 }
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val codes = new Array[Long](w) // ring buffer of the window's points
    var h = 0L
    var i = 0      // code-point index of the incoming char (0-based)
    var ci = 0     // UTF-16 index
    while (ci < str.length) {
      val cp = str.codePointAt(ci)
      if (i >= w) {
        val out = codes(i % w)
        h = ((h - out * pw % M) % M + M) % M
      }
      h = (h * B + cp) % M
      codes(i % w) = cp
      i += 1
      if (i >= w && h % divisor == 0) cuts += i
      ci += Character.charCount(cp)
    }
    new GenericArrayData(cuts.toArray)
  }
}

/** Native codegen'd CDC cuts: `graft_cdc_cuts(text, w, divisor)`.
  * `w` and `divisor` must be foldable plan-time literals (window shape
  * is an operator parameter, not data). Stays inside whole-stage
  * codegen as one static call, same pattern as [[NfcExpression]].
  */
case class CdcCutsExpression(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType) =>
        if (!second.foldable || !third.foldable)
          TypeCheckResult.TypeCheckFailure(s"$prettyName w and divisor must be literals")
        else if (second.eval() == null || third.eval() == null)
          // a NULL literal is foldable and IntegerType — reject it here
          // or .intValue() NPEs out of the analyzer
          TypeCheckResult.TypeCheckFailure(s"$prettyName w and divisor must be non-null literals")
        else {
          val w = second.eval().asInstanceOf[Number].intValue()
          val d = third.eval().asInstanceOf[Number].intValue()
          if (w < 2 || w > 4096)
            TypeCheckResult.TypeCheckFailure(s"$prettyName w must be in [2, 4096], got $w")
          else if (d < 2)
            TypeCheckResult.TypeCheckFailure(s"$prettyName divisor must be >= 2, got $d")
          else TypeCheckResult.TypeCheckSuccess
        }
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (string, int, int), got $other")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = GraftFunctions.CdcCutsName

  override protected def nullSafeEval(s: Any, w: Any, d: Any): Any =
    CdcCuts.compute(s.asInstanceOf[UTF8String],
      w.asInstanceOf[Int], d.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, w, d) =>
      s"graft.functions.CdcCuts.compute($s, $w, $d)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
