package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

/** Integer random-hyperplane LSH signature kernel.
  *
  * Plane weights are pure INTEGER arithmetic on (plane, component) — no RNG
  * state, no floating point: `w(p,j) = ((p·1315423911 + j·2654435761
  * + 97531) mod 1000003) − 500001` (a Weyl-style mixed congruential scheme
  * over a prime modulus, weights uniform in ±500001). The signature sets
  * bit p iff `Σ_j floor(e_j·1000)·w(p,j) > 0`. Everything is Long
  * arithmetic on quantized components, so the signature is bit-exact across
  * engines (DuckDB oracle SQL reproduces it verbatim) and across
  * parallelism — the property the driver's hash gate needs and a float
  * hyperplane dot could only approximate (summation-order sensitivity at
  * the sign boundary).
  *
  * `planeOffset` selects a disjoint plane range, giving independent
  * signatures for multi-table LSH banding (table t uses offset t·b) — the
  * cosine analog of MinHash bands (cf. [[graft.dedup.Dedup.lshBands]]).
  */
object LshSig {
  val Scale = 1000

  def weight(p: Long, j: Long): Long =
    ((p * 1315423911L + j * 2654435761L + 97531L) % 1000003L) - 500001L

  /** Valid plane-count range: the signature packs one bit per plane into a
    * Long, and `1L << p` wraps silently past 63 (bits would reuse positions
    * 0..63) — a registered SQL function must reject that loudly, not alias.
    */
  val MaxPlanes = 63

  def validate(numPlanes: Int, planeOffset: Int): Unit = {
    require(numPlanes >= 1 && numPlanes <= MaxPlanes,
      s"graft_lshsig numPlanes must be in [1, $MaxPlanes], got $numPlanes")
    require(planeOffset >= 0, s"graft_lshsig planeOffset must be >= 0, got $planeOffset")
  }

  /** Boxed so NULL propagates when any element is null (matching the
    * HOF formulation in [[graft.sim.Similarity.lshSignatureInt]]).
    */
  def compute(e: ArrayData, numPlanes: Int, planeOffset: Int): java.lang.Long = {
    validate(numPlanes, planeOffset)
    val n = e.numElements()
    val q = new Array[Long](n)
    var j = 0
    while (j < n) {
      if (e.isNullAt(j)) return null
      q(j) = math.floor(e.getFloat(j).toDouble * Scale).toLong
      j += 1
    }
    var sig = 0L
    var p = 0
    while (p < numPlanes) {
      var s = 0L
      var jj = 0
      while (jj < n) {
        s += q(jj) * weight((planeOffset + p).toLong, jj.toLong)
        jj += 1
      }
      if (s > 0) sig |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(sig)
  }
}

/** Native codegen'd LSH signature:
  * `graft_lshsig(array<float>, numPlanes, planeOffset)`.
  *
  * The HOF formulation evaluates interpreted (planes × dim lambda frames
  * per row); this stays inside whole-stage codegen as a single static call
  * — same pattern as [[SimHash64Expression]]/[[QuantizedDotExpression]].
  */
case class LshSigExpression(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = first.dataType match {
    case ArrayType(FloatType, _)
        if second.dataType == IntegerType && third.dataType == IntegerType =>
      // arbitrary user SQL reaches this builder: reject out-of-range plane
      // args at ANALYSIS time when they are foldable (the common case —
      // literals); non-foldable args hit the same runtime require in
      // LshSig.compute, so no value sneaks through either way
      def foldedInt(e: Expression): Option[Int] =
        if (e.foldable) Option(e.eval(null)).map(_.asInstanceOf[Int]) else None
      val planesBad = foldedInt(second).exists(p => p < 1 || p > LshSig.MaxPlanes)
      val offsetBad = foldedInt(third).exists(_ < 0)
      if (planesBad)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName numPlanes must be in [1, ${LshSig.MaxPlanes}]")
      else if (offsetBad)
        TypeCheckResult.TypeCheckFailure(s"$prettyName planeOffset must be >= 0")
      else TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, int, int) arguments")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true // null element → NULL
  override def prettyName: String = GraftFunctions.LshSigName

  override protected def nullSafeEval(e: Any, planes: Any, offset: Any): Any =
    LshSig.compute(e.asInstanceOf[ArrayData], planes.asInstanceOf[Int], offset.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, p, o) => s"""
      java.lang.Long ${ev.value}Boxed = graft.functions.LshSig.compute($e, $p, $o);
      if (${ev.value}Boxed == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = ${ev.value}Boxed.longValue();
      }""")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
