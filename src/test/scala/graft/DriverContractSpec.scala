package graft

import org.scalatest.funsuite.AnyFunSuite

/** Safety net for the grading-driver contract: `entry` smoke, every query
  * executable, failures reported with their cause. A query that throws
  * would silently zero part of the correctness gate.
  */
class DriverContractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("entry: flagship extraction returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a failed query's verify line names the exception class and its cause chain") {
    val e = new RuntimeException("job aborted", new IllegalStateException("bad row", new ArithmeticException("/ by zero")))
    assert(Verify.causeChain(e) == "java.lang.RuntimeException: job aborted <- caused by " +
      "java.lang.IllegalStateException: bad row <- caused by java.lang.ArithmeticException: / by zero")
  }

  test("every query executes at sf0.001; oracle-paired ones return rows") {
    // genuine near-dup candidate/pair sets can be empty on a tiny corpus
    // q_decontaminate: the sf0.001 slice may have no ≥33-token doc at the
    // bench stride (doc_id % 101), leaving a legitimately empty overlap
    val mayBeEmpty = Set("d_lsh_pairs", "d_jaccard_pairs", "d_lsh_jaccard",
      "s_embed_neardup_lsh", "q_decontaminate")
    SparkEntry.gated.foreach { g =>
      val rows = g.run(spark, sfDir).collect()
      if (g.oracle.isDefined && !mayBeEmpty.contains(g.name))
        assert(rows.nonEmpty, s"${g.name} returned no rows")
    }
  }
}
