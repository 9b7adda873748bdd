package graft

import graft.dedup.Dedup
import graft.functions.{CollapseIdempotentNormalization, GraftExtensions, GraftFunctions, SimHash}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class SimHashExpressionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val samples = Seq(
    "the quick brown fox jumps over the lazy dog",
    "key agg row scan slow fast table value part hash",
    "single",
    "  leading and trailing spaces  ",
    "tabs\tand\nnewlines mixed in here",
    "JOÃO ünïcode wörds «mixed»",
    ""
  )

  test("native expression is bit-exact with the portable HOF formulation") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = samples.toDF("text")
    val both = df.select(
      Dedup.simhash64("text").as("hof"),
      expr(s"${GraftFunctions.SimHashName}(text)").as("native")
    ).collect()
    both.zip(samples).foreach { case (r, s) =>
      assert(r.getLong(0) == r.getLong(1), s"mismatch for '$s'")
    }
  }

  test("codegen and interpreted paths agree; kernel fn is deterministic") {
    samples.foreach { s =>
      val a = SimHash.compute(UTF8String.fromString(s))
      val b = SimHash.compute(UTF8String.fromString(s))
      assert(a == b)
    }
    // whole-stage codegen ON vs OFF (forces interpreted/eval path)
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = samples.toDF("text")
    def run(): Seq[Long] =
      df.select(expr(s"${GraftFunctions.SimHashName}(text)")).collect().map(_.getLong(0)).toSeq
    val on = run()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    val off = try run() finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert(on == off)
  }

  test("null text → null hash; non-string input rejected at analysis") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(Some("abc"), None).toDF("text")
    val rows = df.select(expr(s"${GraftFunctions.SimHashName}(text)").as("h")).collect()
    assert(!rows(0).isNullAt(0) && rows(1).isNullAt(0))
    val err = intercept[Exception] {
      Seq(1, 2).toDF("n").select(expr(s"${GraftFunctions.SimHashName}(n)")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("string") || err.getMessage.contains("DATATYPE"))
  }

  test("graft_qdot native expression is value-exact with the HOF dotQuantized") {
    import graft.sim.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 30L).map(i => (i, Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    val a = df.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = df.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    val pairs = a.join(b, col("id1") < col("id2"))
    val rows = pairs.select(
      Similarity.dotQuantized(col("e1"), col("e2")).as("hof"),
      Similarity.qdotNative(df)(col("e1"), col("e2")).as("native")
    ).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("graft_qdot: null elements and length mismatches yield NULL, matching the HOF") {
    import graft.sim.Similarity
    GraftFunctions.register(spark)
    val rows = spark.sql(
      s"""SELECT
         |  ${GraftFunctions.QDotName}(array(float(1.0), cast(null as float)), array(float(1.0), float(1.0))) AS null_elem,
         |  ${GraftFunctions.QDotName}(array(float(1.0)), array(float(1.0), float(1.0))) AS len_mismatch,
         |  ${GraftFunctions.QDotName}(array(float(2.0)), array(float(3.0))) AS ok
         |""".stripMargin).collect()(0)
    assert(rows.isNullAt(0), "null element must poison the sum like zip_with")
    assert(rows.isNullAt(1), "length mismatch must yield NULL like zip_with padding")
    assert(rows.getLong(2) == 2000L * 3000L)
    // HOF agreement on the same inputs
    val hof = spark.sql(
      """SELECT aggregate(zip_with(array(float(1.0), cast(null as float)), array(float(1.0), float(1.0)),
        |  (x, y) -> cast(floor(cast(x as double) * 1000) as bigint) * cast(floor(cast(y as double) * 1000) as bigint)),
        |  0L, (s, v) -> s + v) AS r""".stripMargin).collect()(0)
    assert(hof.isNullAt(0))
  }

  test("near-dup texts have small hamming distance vs unrelated texts") {
    val a = SimHash.compute(UTF8String.fromString("the quick brown fox jumps over the lazy dog near the river"))
    val b = SimHash.compute(UTF8String.fromString("the quick brown fox jumps over the lazy dog near the ocean"))
    val c = SimHash.compute(UTF8String.fromString("catalyst optimizer rewrites logical plans into physical operators"))
    assert(java.lang.Long.bitCount(a ^ b) < java.lang.Long.bitCount(a ^ c))
  }

  /** Every graft function with the argument count its builder requires. */
  private val arities: Map[String, Int] = {
    import GraftFunctions._
    Map(SimHashName -> 1, QDotName -> 2, LshSigName -> 3, NfcName -> 1, TextStatsName -> 1,
      LangSignalsName -> 1, KmvName -> 2, BottomKName -> 3, HeavyName -> 3, CdcCutsName -> 3,
      LDotName -> 2, SortedContainsName -> 2, PqArgminName -> 3, FixMojibakeName -> 1,
      MojibakeName -> 1)
  }

  private def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => String.valueOf(e.getMessage)).toSeq

  private def graftNames(reg: FunctionRegistry): Set[String] =
    reg.listFunction().map(_.funcName).filter(_.startsWith("graft_")).toSet

  test("spark.sql.extensions injector: full function surface AND the optimizer rule") {
    val names = GraftFunctions.All.map(_._1.funcName)
    assert(names.distinct == names, "one entry per function")
    assert(names.toSet == arities.keySet)
    // a second in-JVM session cannot apply static confs (spark.sql.extensions
    // is static and the SparkContext is shared across the suite), so the
    // injector object is exercised directly; its private[sql] accessors are
    // public in bytecode, reachable via reflection
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = FunctionRegistry.builtin.clone()
    val registerFns = ext.getClass.getMethods.find(_.getName == "registerFunctions")
      .getOrElse(fail("SparkSessionExtensions.registerFunctions not found"))
    registerFns.invoke(ext, reg)
    assert(graftNames(reg) == names.toSet, "extensions path")
    val buildRules = ext.getClass.getMethods.find(_.getName == "buildOptimizerRules")
      .getOrElse(fail("SparkSessionExtensions.buildOptimizerRules not found"))
    val rules = buildRules.invoke(ext, spark).asInstanceOf[Seq[_]]
    assert(rules == Seq(CollapseIdempotentNormalization), "extensions path optimizer rules")

    GraftFunctions.register(spark)
    GraftFunctions.register(spark)
    assert(graftNames(spark.sessionState.functionRegistry) == names.toSet, "register() path")
    assert(spark.experimental.extraOptimizations.count(_ == CollapseIdempotentNormalization) == 1,
      "register() installs the optimizer rule once")

    GraftFunctions.All.foreach { case (id, info, build) =>
      val built = build(Seq.fill(arities(id.funcName))(Literal(1)))
      assert(built.prettyName == id.funcName)
      assert(info.getName == id.funcName && info.getClassName == built.getClass.getName)
    }
  }

  test("every function rejects one argument too many at analysis, naming its arity") {
    GraftFunctions.register(spark)
    arities.foreach { case (name, n) =>
      val err = intercept[Exception] {
        spark.sql(s"SELECT $name(${Seq.fill(n + 1)("1").mkString(", ")})").collect()
      }
      val want = s"$name takes exactly $n argument${if (n == 1) "" else "s"}, got ${n + 1}"
      assert(messages(err).exists(_.contains(want)), s"want '$want', got ${messages(err)}")
    }
  }

  test("the sketch aggregates reject a column as k") {
    GraftFunctions.register(spark)
    val df = spark.range(3).toDF("id")
    Seq(s"${GraftFunctions.KmvName}(id, id)", s"${GraftFunctions.BottomKName}(id, id, id)",
      s"${GraftFunctions.HeavyName}(cast(id AS string), id, id)").foreach { call =>
      val err = intercept[Exception](df.selectExpr(call).collect())
      val want = s"${call.takeWhile(_ != '(')} k must be a literal"
      assert(messages(err).exists(_.contains(want)), s"want '$want', got ${messages(err)}")
    }
  }
}
