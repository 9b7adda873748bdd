package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization kernel.
  *
  * Corpus text arrives in mixed normalization forms (crawled pages emit
  * both precomposed `é` and decomposed `e`+U+0301); every byte-level
  * operator downstream — fingerprints, shingles, exact dedup, span
  * byte-identity — treats those as different documents. SURVEY §7.4 names
  * NFC handling a hard part of the extraction contract; this is the
  * corpus-cleaning operator that settles it: canonical composition
  * (java.text.Normalizer NFC — the Unicode-mandated algorithm, identical
  * to DuckDB's `nfc_normalize`, which is what lets the driver gate this
  * with a value-exact oracle).
  *
  * Fast paths, in order: pure-ASCII strings (UTF-8 byte count == char
  * count) return the INPUT object — no copy, no transcode — and already-
  * normalized non-ASCII strings (the overwhelming majority of real text)
  * pay only the `isNormalized` quick-check scan, not an allocation.
  */
object Nfc {
  def compute(s: UTF8String): UTF8String = {
    if (s.numBytes == s.numChars) return s // ASCII ⇒ NFC fixed point
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}

/** Native codegen'd NFC normalization: `graft_nfc(string)`.
  *
  * A Scala UDF would deserialize and re-box every row and fence off
  * whole-stage codegen; this stays inside the generated stage as a single
  * static call — same pattern as [[SimHash64Expression]].
  */
case class NfcExpression(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${other.simpleString(10)}")
  }

  override def dataType: DataType = StringType
  override def prettyName: String = GraftFunctions.NfcName

  override protected def nullSafeEval(s: Any): Any =
    Nfc.compute(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Nfc.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
