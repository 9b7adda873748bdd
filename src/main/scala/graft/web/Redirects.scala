package graft.web

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Redirect-chain resolution by POINTER JUMPING (path doubling).
  *
  * A crawl frontier holds millions of `src → dst` redirect edges (3xx
  * responses, `<meta refresh>`, rel=canonical chains); before fetching,
  * the scheduler wants each url's FINAL target — the end of its chain —
  * plus the chain length (deep chains are a spam signal) and a loud flag
  * for loops. Walking chains one hop per round is O(longest chain)
  * rounds of joins; pointer jumping squares the reach each round —
  * `f_{k+1}(u) = f_k(f_k(u))` — so R rounds follow `2^R` hops in R slim
  * self-joins, the classic O(log n) formulation for linked structures on
  * a cluster (PRAM lineage; the same trick Spark's own connected
  * components literature uses).
  *
  * Semantics (exactly what the oracle replays): follow at most `2^rounds`
  * hops; `final` = the first node reached that has NO outgoing edge;
  * `hops` = distance walked to it. A url still pointing at a non-terminal
  * after the budget (a cycle, or a chain longer than `2^rounds`) comes
  * back `resolved = false` with `hops = 2^rounds` — flagged, never
  * silently half-resolved. Multi-edge sources are rejected loudly (a
  * url redirects to ONE place; conflicting edges are an upstream bug
  * worth failing on) via a `raise_error` branch INSIDE the first-round
  * aggregate — the guard costs zero extra jobs and fires at first
  * action; exact-duplicate edges dedupe in the same aggregate.
  *
  * Scale shape: every round is ONE equi-join of the (src, cur, hops)
  * relation with itself on `cur = src` — slim url pairs, never payloads —
  * followed by a lazy checkpoint (bounds lineage; the relation size is
  * CONSTANT at |edges| across rounds). `rounds` is a plan-time knob:
  * 6 rounds cover 64-hop chains, far past any legitimate redirect depth.
  */
object Redirects {

  def resolve(edges: DataFrame, srcCol: String, dstCol: String,
              rounds: Int = 6): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"rounds must be in [1, 16], got $rounds")
    // the conflicting-edge guard rides INSIDE the first-round relation
    // instead of costing its own eager driver job per call: one
    // src-keyed aggregate both dedupes exact-duplicate edges and counts
    // distinct targets, and a conflicting src raises LOUDLY (raise_error)
    // when the plan first executes — same "a url redirects to ONE place"
    // contract, one fewer Spark job in the trace (the failure now
    // surfaces at first action rather than at resolve() call time). A NULL
    // dst counts as one more distinct target: count_distinct skips NULLs,
    // so edges to both NULL and 'x' would otherwise resolve silently to 'x'
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .groupBy("src")
      .agg((count_distinct(col("dst")) + max(when(col("dst").isNull, 1L).otherwise(0L))).as("_n"),
        max(col("dst")).as("dst"))
      .select(col("src"),
        when(col("_n") > 1, raise_error(concat(
            lit("conflicting redirect edges — a url redirects to one " +
              "place; dedupe upstream before resolving; src: "),
            col("src"))))
          .otherwise(col("dst")).as("dst"))
      .localCheckpoint(eager = false)
    var f = e.select(col("src"), col("dst").as("cur"), lit(1L).as("hops"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to rounds) {
      val g = f.select(col("src").as("_s"), col("cur").as("_c"), col("hops").as("_h"))
      f = f.join(g, f("cur") === g("_s"), "left")
        .select(col("src"),
          coalesce(col("_c"), col("cur")).as("cur"),
          (col("hops") + coalesce(col("_h"), lit(0L))).as("hops"))
        .localCheckpoint(eager = false)
    }
    // resolved ⇔ the landing node has no outgoing edge (true chain end)
    val srcs = e.select(col("src").as("cur")).distinct()
    f.join(srcs, Seq("cur"), "left_anti")
      .select(col("src"), col("cur").as("final"), col("hops"), lit(true).as("resolved"))
      .unionByName(
        f.join(srcs, Seq("cur"), "left_semi")
          .select(col("src"), col("cur").as("final"), col("hops"),
            lit(false).as("resolved")))
  }
}
