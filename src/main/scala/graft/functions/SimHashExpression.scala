package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash kernel shared by interpreted eval and generated code.
  *
  * Semantics are BIT-EXACT with the portable SQL formulation in
  * [[graft.dedup.Dedup.simhash64]]: SQL `trim` (ASCII space only) →
  * `split('\s+')` (Java regex, limit -1) → per-token `xxhash64` (seed 42,
  * Spark's XXH64) → per-bit ±1 votes → positive votes set the bit.
  */
object SimHash {
  def compute(s: UTF8String): Long = {
    val trimmed = s.trim() // UTF8String.trim removes ASCII space only — SQL trim semantics
    val tokens = trimmed.toString.split("\\s+", -1)
    val votes = new Array[Int](64)
    var t = 0
    while (t < tokens.length) {
      val h = XXH64.hashUTF8String(UTF8String.fromString(tokens(t)), 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Native Catalyst expression for SimHash: `graft_simhash64(text)`.
  *
  * The higher-order-function formulation (`aggregate(transform(...)))`)
  * evaluates interpreted — outside whole-stage codegen, re-walking 64×words
  * lambda frames per row. This expression stays inside codegen: the
  * generated code is a single static call, so the surrounding stage keeps
  * one WholeStageCodegen span (the same pattern Spark's own hash
  * expressions use). ~7× faster on the bench corpus.
  */
case class SimHash64Expression(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Function registration: imperatively on any existing session (used by the
  * driver-contract queries, which receive a session we didn't build), or
  * declaratively via `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {
  val SimHashName = "graft_simhash64"
  val QDotName = "graft_qdot"
  val LshSigName = "graft_lshsig"

  private val simhashInfo = new ExpressionInfo(classOf[SimHash64Expression].getName, SimHashName)
  private val qdotInfo = new ExpressionInfo(classOf[QuantizedDotExpression].getName, QDotName)
  private val lshsigInfo = new ExpressionInfo(classOf[LshSigExpression].getName, LshSigName)

  /** Shared by the imperative and spark.sql.extensions paths — both must
    * reject wrong arity at analysis time, not silently drop arguments.
    */
  val simhashBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 1, s"$SimHashName takes exactly 1 argument, got ${children.length}")
    SimHash64Expression(children.head)
  }

  val qdotBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, s"$QDotName takes exactly 2 arguments, got ${children.length}")
    QuantizedDotExpression(children.head, children(1))
  }

  val lshsigBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, s"$LshSigName takes exactly 3 arguments, got ${children.length}")
    LshSigExpression(children.head, children(1), children(2))
  }

  val NfcName = "graft_nfc"
  private val nfcInfo = new ExpressionInfo(classOf[NfcExpression].getName, NfcName)

  val nfcBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 1, s"$NfcName takes exactly 1 argument, got ${children.length}")
    NfcExpression(children.head)
  }

  /** KMV distinct-sketch aggregate (the analyzer wraps the returned
    * AggregateFunction into an AggregateExpression, same as built-in
    * aggregates). Second argument must be a foldable int — the sketch
    * width is a plan-time parameter, not a per-row value.
    */
  val TextStatsName = "graft_text_stats"
  private val textStatsInfo = new ExpressionInfo(classOf[TextStatsExpression].getName, TextStatsName)

  val textStatsBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 1, s"$TextStatsName takes exactly 1 argument, got ${children.length}")
    TextStatsExpression(children.head)
  }

  val LangSignalsName = "graft_lang_signals"
  private val langSignalsInfo = new ExpressionInfo(classOf[LangSignalsExpression].getName, LangSignalsName)

  val langSignalsBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 1, s"$LangSignalsName takes exactly 1 argument, got ${children.length}")
    LangSignalsExpression(children.head)
  }

  val KmvName = "graft_kmv_mink"
  private val kmvInfo = new ExpressionInfo(classOf[KmvMinK].getName, KmvName)

  val kmvBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, s"$KmvName takes exactly 2 arguments, got ${children.length}")
    require(children(1).foldable, s"$KmvName k must be a literal")
    val k = children(1).eval().asInstanceOf[Number].intValue()
    KmvMinK(children.head, k)
  }

  val BottomKName = "graft_bottomk_sample"
  private val bottomkInfo = new ExpressionInfo(classOf[BottomKSample].getName, BottomKName)

  val bottomkBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, s"$BottomKName takes exactly 3 arguments, got ${children.length}")
    require(children(2).foldable, s"$BottomKName k must be a literal")
    val k = children(2).eval().asInstanceOf[Number].intValue()
    BottomKSample(children.head, children(1), k)
  }

  val FixMojibakeName = "graft_fix_mojibake"
  private val fixMojibakeInfo =
    new ExpressionInfo(classOf[FixMojibakeExpression].getName, FixMojibakeName)
  val fixMojibakeBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 1,
      s"$FixMojibakeName takes exactly 1 argument, got ${children.length}")
    FixMojibakeExpression(children.head)
  }

  val MojibakeName = "graft_mojibake"
  private val mojibakeInfo =
    new ExpressionInfo(classOf[CorruptMojibakeExpression].getName, MojibakeName)
  val mojibakeBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 1,
      s"$MojibakeName takes exactly 1 argument, got ${children.length}")
    CorruptMojibakeExpression(children.head)
  }

  val LDotName = "graft_ldot"
  private val ldotInfo = new ExpressionInfo(classOf[LongDotExpression].getName, LDotName)

  val ldotBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, s"$LDotName takes exactly 2 arguments, got ${children.length}")
    LongDotExpression(children.head, children(1))
  }

  val CdcCutsName = "graft_cdc_cuts"
  private val cdcCutsInfo = new ExpressionInfo(classOf[CdcCutsExpression].getName, CdcCutsName)

  val cdcCutsBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, s"$CdcCutsName takes exactly 3 arguments, got ${children.length}")
    CdcCutsExpression(children.head, children(1), children(2))
  }

  val PqArgminName = "graft_pq_argmin"
  private val pqArgminInfo =
    new ExpressionInfo(classOf[PqArgminExpression].getName, PqArgminName)

  val pqArgminBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 3,
      s"$PqArgminName takes exactly 3 arguments, got ${children.length}")
    PqArgminExpression(children.head, children(1), children(2))
  }

  val SortedContainsName = "graft_sorted_contains"
  private val sortedContainsInfo =
    new ExpressionInfo(classOf[SortedContainsExpression].getName, SortedContainsName)

  val sortedContainsBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 2,
      s"$SortedContainsName takes exactly 2 arguments, got ${children.length}")
    SortedContainsExpression(children.head, children(1))
  }

  val HeavyName = "graft_heavy_topk"
  private val heavyInfo = new ExpressionInfo(classOf[SpaceSavingTopK].getName, HeavyName)

  val heavyBuilder: Seq[Expression] => Expression = { children =>
    require(children.length == 3, s"$HeavyName takes exactly 3 arguments, got ${children.length}")
    require(children(2).foldable, s"$HeavyName k must be a literal")
    val k = children(2).eval().asInstanceOf[Number].intValue()
    SpaceSavingTopK(children.head, children(1), k)
  }

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.registerFunction(FunctionIdentifier(SimHashName), simhashInfo, simhashBuilder)
    reg.registerFunction(FunctionIdentifier(QDotName), qdotInfo, qdotBuilder)
    reg.registerFunction(FunctionIdentifier(LshSigName), lshsigInfo, lshsigBuilder)
    reg.registerFunction(FunctionIdentifier(NfcName), nfcInfo, nfcBuilder)
    reg.registerFunction(FunctionIdentifier(TextStatsName), textStatsInfo, textStatsBuilder)
    reg.registerFunction(FunctionIdentifier(LangSignalsName), langSignalsInfo, langSignalsBuilder)
    reg.registerFunction(FunctionIdentifier(KmvName), kmvInfo, kmvBuilder)
    reg.registerFunction(FunctionIdentifier(BottomKName), bottomkInfo, bottomkBuilder)
    reg.registerFunction(FunctionIdentifier(HeavyName), heavyInfo, heavyBuilder)
    reg.registerFunction(FunctionIdentifier(CdcCutsName), cdcCutsInfo, cdcCutsBuilder)
    reg.registerFunction(FunctionIdentifier(LDotName), ldotInfo, ldotBuilder)
    reg.registerFunction(FunctionIdentifier(SortedContainsName), sortedContainsInfo, sortedContainsBuilder)
    reg.registerFunction(FunctionIdentifier(PqArgminName), pqArgminInfo, pqArgminBuilder)
    reg.registerFunction(FunctionIdentifier(FixMojibakeName), fixMojibakeInfo, fixMojibakeBuilder)
    reg.registerFunction(FunctionIdentifier(MojibakeName), mojibakeInfo, mojibakeBuilder)
    // optimizer surface parity with GraftExtensions (idempotent: guard
    // against repeated register() calls appending duplicates)
    if (!spark.experimental.extraOptimizations.contains(CollapseIdempotentNormalization))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ CollapseIdempotentNormalization
  }
}

/** `SparkSessionExtensions` injector (spark.sql.extensions). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.SimHashName),
        new ExpressionInfo(classOf[SimHash64Expression].getName, GraftFunctions.SimHashName),
        GraftFunctions.simhashBuilder))
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.QDotName),
        new ExpressionInfo(classOf[QuantizedDotExpression].getName, GraftFunctions.QDotName),
        GraftFunctions.qdotBuilder))
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.LshSigName),
        new ExpressionInfo(classOf[LshSigExpression].getName, GraftFunctions.LshSigName),
        GraftFunctions.lshsigBuilder))
    // same surface as the imperative register() path — a session configured
    // via spark.sql.extensions must not see a subset of the functions
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.NfcName),
        new ExpressionInfo(classOf[NfcExpression].getName, GraftFunctions.NfcName),
        GraftFunctions.nfcBuilder))
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.TextStatsName),
        new ExpressionInfo(classOf[TextStatsExpression].getName, GraftFunctions.TextStatsName),
        GraftFunctions.textStatsBuilder))
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.LangSignalsName),
        new ExpressionInfo(classOf[LangSignalsExpression].getName, GraftFunctions.LangSignalsName),
        GraftFunctions.langSignalsBuilder))
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.KmvName),
        new ExpressionInfo(classOf[KmvMinK].getName, GraftFunctions.KmvName),
        GraftFunctions.kmvBuilder))
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.BottomKName),
        new ExpressionInfo(classOf[BottomKSample].getName, GraftFunctions.BottomKName),
        GraftFunctions.bottomkBuilder))
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.HeavyName),
        new ExpressionInfo(classOf[SpaceSavingTopK].getName, GraftFunctions.HeavyName),
        GraftFunctions.heavyBuilder))
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.FixMojibakeName),
        new ExpressionInfo(classOf[FixMojibakeExpression].getName, GraftFunctions.FixMojibakeName),
        GraftFunctions.fixMojibakeBuilder))
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.MojibakeName),
        new ExpressionInfo(classOf[CorruptMojibakeExpression].getName, GraftFunctions.MojibakeName),
        GraftFunctions.mojibakeBuilder))
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.CdcCutsName),
        new ExpressionInfo(classOf[CdcCutsExpression].getName, GraftFunctions.CdcCutsName),
        GraftFunctions.cdcCutsBuilder))
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.LDotName),
        new ExpressionInfo(classOf[LongDotExpression].getName, GraftFunctions.LDotName),
        GraftFunctions.ldotBuilder))
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.SortedContainsName),
        new ExpressionInfo(classOf[SortedContainsExpression].getName, GraftFunctions.SortedContainsName),
        GraftFunctions.sortedContainsBuilder))
    ext.injectFunction(
      (FunctionIdentifier(GraftFunctions.PqArgminName),
        new ExpressionInfo(classOf[PqArgminExpression].getName, GraftFunctions.PqArgminName),
        GraftFunctions.pqArgminBuilder))
    ext.injectOptimizerRule(_ => CollapseIdempotentNormalization)
  }
}

/** Quantized dot product kernel: Σ floor(a_i·scale)·floor(b_i·scale) in
  * Long — identical semantics to the portable
  * `aggregate(zip_with(...))` formulation in
  * [[graft.sim.Similarity.dotQuantized]] for equal-length arrays (ours are
  * fixed-dim embeddings). Unequal lengths yield NULL — matching the HOF,
  * where zip_with pads the shorter array with nulls and the null product
  * poisons the aggregate (see [[compute]]).
  */
object QDot {
  val Scale = 1000

  /** Boxed so NULL can propagate with exactly the HOF's semantics:
    * `aggregate(zip_with(a,b,...))` yields NULL when the arrays differ in
    * length (zip_with pads with null) or when any element is null (null
    * product poisons the sum). Returning 0 in those cases — or crashing on
    * an unboxed null read — would silently diverge between eval modes.
    */
  def compute(a: org.apache.spark.sql.catalyst.util.ArrayData,
              b: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += math.floor(a.getFloat(i).toDouble * Scale).toLong *
        math.floor(b.getFloat(i).toDouble * Scale).toLong
      i += 1
    }
    java.lang.Long.valueOf(s)
  }
}

/** Native codegen'd quantized-dot: `graft_qdot(array<float>, array<float>)`.
  * The HOF formulation runs interpreted per pair — prohibitive in pairwise
  * similarity joins (hundreds of thousands of scorings per task).
  */
case class QuantizedDotExpression(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires two array<float> arguments")
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = true // null elements / length mismatch → NULL
  override def prettyName: String = "graft_qdot"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    QDot.compute(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Long ${ev.value}Boxed = graft.functions.QDot.compute($a, $b);
      if (${ev.value}Boxed == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = ${ev.value}Boxed.longValue();
      }""")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
