package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Binary search membership over a SORTED `array<string>`.
  *
  * The vocabulary-coverage probe ([[graft.text.TextAnalytics.oovStats]])
  * tests every token of every document against a broadcast vocabulary
  * literal. `array_contains` is a linear scan — O(|vocab|) comparisons per
  * token, which melts at a production 32k-entry vocabulary (32768
  * comparisons × every token of 10^12 documents). Binary search makes the
  * probe O(log |vocab|) (15 comparisons at 32k) behind the SAME map-only
  * shape: the sorted vocabulary is still one broadcast-able literal, the
  * probe still runs inside whole-stage codegen next to the scan.
  *
  * CONTRACT: the array must be sorted ascending in UTF8String (UTF-8
  * byte) order — use [[SortedContains.sorted]] to build it; Java
  * `String.compareTo` (UTF-16 code units) DISAGREES with UTF-8 byte order
  * for supplementary characters, so a `scala.collection`-sorted vocabulary
  * would silently miss entries. Null elements sort first (matching
  * `sort_array` nulls-first) and never match a non-null probe key.
  *
  * Null semantics: NULL if either argument is NULL (BinaryExpression
  * default); an unsorted array is a caller bug — membership then degrades
  * to "whatever the search path saw", same class of contract as feeding
  * unsorted input to any binary search.
  */
object SortedContains {
  def compute(arr: ArrayData, key: UTF8String): Boolean = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val e = arr.getUTF8String(mid)
      // null elements sort first (sort_array convention): treat as smaller
      val c = if (e == null) -1 else e.binaryCompare(key)
      if (c == 0) return true
      else if (c < 0) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  /** The canonical sort for the probe's contract: ascending UTF8String
    * (UTF-8 byte) order — NOT Java String order.
    */
  def sorted(vocab: Seq[String]): Array[String] =
    vocab.toArray.sortWith((a, b) =>
      UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b)) < 0)
}

/** `graft_sorted_contains(array<string> sorted, string) -> boolean` — see
  * [[SortedContains]].
  */
case class SortedContainsExpression(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<string>, string) arguments, got $other")
    }

  override def dataType: DataType = BooleanType
  override def prettyName: String = GraftFunctions.SortedContainsName

  override protected def nullSafeEval(a: Any, b: Any): Any =
    SortedContains.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SortedContains.compute($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
