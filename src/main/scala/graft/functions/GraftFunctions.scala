package graft.functions

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The graft functions, as one table that both registration paths install:
  * imperatively on any existing session (used by the driver-contract
  * queries, which receive a session we didn't build), or declaratively via
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`. Each
  * expression's `prettyName` is its entry's name constant.
  */
object GraftFunctions {
  val SimHashName = "graft_simhash64"
  val QDotName = "graft_qdot"
  val LshSigName = "graft_lshsig"
  val NfcName = "graft_nfc"
  val TextStatsName = "graft_text_stats"
  val LangSignalsName = "graft_lang_signals"
  val KmvName = "graft_kmv_mink"
  val BottomKName = "graft_bottomk_sample"
  val HeavyName = "graft_heavy_topk"
  val CdcCutsName = "graft_cdc_cuts"
  val LDotName = "graft_ldot"
  val SortedContainsName = "graft_sorted_contains"
  val PqArgminName = "graft_pq_argmin"
  val FixMojibakeName = "graft_fix_mojibake"
  val MojibakeName = "graft_mojibake"

  /** One table entry: the triple `injectFunction` takes. The builder rejects
    * a wrong arity at analysis time rather than silently dropping arguments.
    */
  private def fn[E <: Expression : ClassTag](name: String, arity: Int)(
      build: Seq[Expression] => E): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) = {
    val builder: FunctionBuilder = { children =>
      require(children.length == arity,
        s"$name takes exactly $arity argument${if (arity == 1) "" else "s"}, got ${children.length}")
      build(children)
    }
    (FunctionIdentifier(name), new ExpressionInfo(classTag[E].runtimeClass.getName, name), builder)
  }

  /** A sketch aggregate's width `k` is a plan-time parameter, not a per-row
    * value (the analyzer wraps the returned AggregateFunction into an
    * AggregateExpression, same as built-in aggregates).
    */
  private def literalK(name: String, e: Expression): Int = {
    require(e.foldable, s"$name k must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  /** Every graft function, in the form both registration paths install. */
  val All: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn(SimHashName, 1)(c => SimHash64Expression(c(0))),
    fn(QDotName, 2)(c => QuantizedDotExpression(c(0), c(1))),
    fn(LshSigName, 3)(c => LshSigExpression(c(0), c(1), c(2))),
    fn(NfcName, 1)(c => NfcExpression(c(0))),
    fn(TextStatsName, 1)(c => TextStatsExpression(c(0))),
    fn(LangSignalsName, 1)(c => LangSignalsExpression(c(0))),
    fn(KmvName, 2)(c => KmvMinK(c(0), literalK(KmvName, c(1)))),
    fn(BottomKName, 3)(c => BottomKSample(c(0), c(1), literalK(BottomKName, c(2)))),
    fn(HeavyName, 3)(c => SpaceSavingTopK(c(0), c(1), literalK(HeavyName, c(2)))),
    fn(CdcCutsName, 3)(c => CdcCutsExpression(c(0), c(1), c(2))),
    fn(LDotName, 2)(c => LongDotExpression(c(0), c(1))),
    fn(SortedContainsName, 2)(c => SortedContainsExpression(c(0), c(1))),
    fn(PqArgminName, 3)(c => PqArgminExpression(c(0), c(1), c(2))),
    fn(FixMojibakeName, 1)(c => FixMojibakeExpression(c(0))),
    fn(MojibakeName, 1)(c => CorruptMojibakeExpression(c(0))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    All.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
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
    GraftFunctions.All.foreach(ext.injectFunction(_))
    ext.injectOptimizerRule(_ => CollapseIdempotentNormalization)
  }
}
