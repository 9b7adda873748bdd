package graft

import java.nio.file.Files

import graft.job.ExtractJob
import graft.model.PageRow
import graft.pages.PagesGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the properties SURVEY §4 promises are
  * asserted here, not just claimed — broadcast resume anti-join, column
  * pruning to the scan, predicate pushdown, whole-stage codegen coverage.
  * A regression that silently turns the anti-join into a sort-merge
  * payload shuffle, or widens a scan to all columns, fails the suite.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Final (post-AQE) executed plan string, after running the query. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  test("resume anti-join broadcasts the committed key set (no pages shuffle)") {
    val root = Files.createTempDirectory("graft-plan").toString
    val pages = PagesGen.pages(spark, sfDir).limit(100)
    ExtractJob.run(spark, pages, root, commitId = "c1")
    import spark.implicits._
    val pend = ExtractJob.pending(spark, pages, root).select($"url")
    val plan = finalPlan(pend)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join, got:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "committed key set must not force a pages shuffle")
  }

  test("default run: the results write reads the pages scan with no exchange before the kernel") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-plan-src").toString
    // one file per task slot, so the job keeps the scan's splits
    PagesGen.pages(spark, sfDir).limit(100).repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(src)
    val root = Files.createTempDirectory("graft-plan-default").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.collectFirst {
          case c: InsertIntoHadoopFsRelationCommand if c.outputPath.toString.contains("/results/data/") =>
            qe.executedPlan.toString
        }.foreach(plans.add)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ExtractJob.run(spark, spark.read.parquet(src).as[PageRow], root, commitId = "c1")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1, s"one results write, got ${plans.size}")
    val plan = plans.peek()
    assert(plan.contains("FileScan parquet") && plan.contains("MapPartitions"), s"scan → kernel → write:\n$plan")
    assert(!plan.contains("Exchange") && !plan.contains("ShuffleQueryStage"),
      s"no payload exchange between the pages scan and the write:\n$plan")
  }

  test("column pruning reaches the parquet scan (slim projection, no wide columns)") {
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("l"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must read exactly (doc_id, text):\n$plan")
  }

  test("predicate pushdown reaches the scan (PushedFilters)") {
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(vec_id,10)"),
      s"vec_id < 10 must be pushed to parquet:\n$plan")
  }

  // `*(n)` is the compact-plan marker for a WholeStageCodegen span

  test("text-analytics projection stays in one WholeStageCodegen span") {
    val df = SparkEntry.queries("t_quality")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), s"quality metrics must codegen:\n$plan")
  }

  test("native simhash keeps its stage inside codegen (no HOF interpretation)") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = d.select(graft.dedup.Dedup.simhash64Native(d, "text").as("h"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_simhash64"), plan)
  }

  test("brute-force top-k broadcasts the query side") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.sim.Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3), 2)
    val plan = finalPlan(df)
    assert(plan.contains("BroadcastNestedLoopJoin"), s"query side must broadcast:\n$plan")
  }

  test("IVF top-k: centroids and probes broadcast; embeddings never nested-loop") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.sim.Similarity.ivfTopK(e, e.filter(col("vec_id") < 3), 2,
      numCells = graft.sim.Similarity.cellsFor(e.count()), nProbe = 4)
    val plan = finalPlan(df)
    // assignment scores corpus × broadcast(centroids); the probe join is a
    // broadcast hash join on the cell id (slim query side) — the corpus is
    // never on the build side and never in a shuffled nested loop
    assert(plan.contains("BroadcastNestedLoopJoin"), s"centroids must broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"probe join must broadcast the probe side:\n$plan")
    // exact scoring runs on the native codegen'd expression
    assert(plan.contains("graft_qdot"), s"scoring must use the native expression:\n$plan")
  }

  test("PQ top-k: codebooks and LUTs broadcast; codes scored map-side, never sort-merged") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.sim.Similarity.pqTopK(e, e.filter(col("vec_id") < 3), 2,
      m = 8, ks = 8)
    val plan = finalPlan(df)
    // assignment joins the subvector rows against broadcast codebooks and
    // the ADC scan cross-joins broadcast per-query LUTs — the encoded
    // corpus must never be the build side or sort-merge against anything
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"codebooks/LUTs must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"codes must never sort-merge:\n$plan")
  }

  test("AQE splits a skewed join key at runtime — the self-healing the hot-cell/hot-bucket claims rely on") {
    // several operators (SemDeDup cell pairing, LSH buckets, mirror fp
    // joins) document "hot keys are ordinary skewed join keys — AQE
    // splits them" instead of hand-salting. That claim is load-bearing
    // at 100×, so gate it: a join with one mega-key must come back
    // with the SortMergeJoin marked skew=true under the session's AQE.
    val conf = spark.conf
    val prevB = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevT = conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    val prevA = conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // thresholds scaled down so a ~4 MB hot partition counts as skewed
      // without needing GBs of test data; payloads must be INCOMPRESSIBLE
      // (shuffle stats are post-compression bytes — a constant pad
      // compresses below any threshold and hides the skew)
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
      import spark.implicits._
      val rnd = new scala.util.Random(7)
      def pad(): String = rnd.alphanumeric.take(200).mkString
      val left = (1 to 20000).map(i => (if (i % 100 == 0) i.toLong else 1L, pad())).toDF("k", "p")
      val right = (1L to 2000L).map(i => (i, pad())).toDF("k", "q")
      // keep the payloads LIVE through the join (a bare key projection
      // would prune them out of the shuffle and erase the skew)
      val plan = finalPlan(left.join(right, "k")
        .select((length(col("p")) + length(col("q"))).as("n")))
      assert(plan.contains("skew=true"),
        s"AQE must split the mega-key partition (skew=true missing):\n$plan")
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", prevT)
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", prevA)
    }
  }

  test("IVF-PQ rerank: small sides broadcast, no cartesian anywhere, rerank scores on the native expression") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.sim.Similarity.ivfPqRerankTopK(e, e.filter(col("vec_id") < 3), 2,
      numCells = graft.sim.Similarity.cellsFor(e.count()), nProbe = 4,
      m = 8, ks = 8, shortlist = 4)
    val plan = finalPlan(df)
    // centroids / codebooks / per-query LUT+probe rows all broadcast; the
    // residual join and the probe join are hash joins; the refine stage
    // fetches shortlist vectors BY ID — at no point may the composite
    // fall back to an unbounded pairwise scan
    assert(plan.contains("BroadcastHashJoin"), s"probe/rerank sides must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no unbounded pairwise scan anywhere in the composite:\n$plan")
    assert(plan.contains("graft_qdot"),
      s"the exact rerank must run on the native codegen'd expression:\n$plan")
  }

  test("stratified sampling is a broadcast join + map-only filter (no corpus shuffle)") {
    val df = SparkEntry.queries("q_sample_stratified")(spark, sfDir)
    val plan = finalPlan(df)
    assert(plan.contains("BroadcastHashJoin"), s"rates must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle for a rates lookup:\n$plan")
  }

  test("repetition stats: native single-pass signal, map-only — no shuffle, no HOFs") {
    val df = SparkEntry.queries("t_repetition")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // every signal (dup mass AND top bigram) is document-local via
    // graft_text_stats — the round-4 shape: zero exchanges at any scale
    // (the r3 shape exploded (id, w1, w2) rows into a corpus shuffle)
    assert(!plan.contains("Exchange"), s"repetition signals must not shuffle:\n$plan")
    assert(plan.contains("graft_text_stats"), s"native kernel must drive the stage:\n$plan")
    assert(!plan.toLowerCase.contains("lambdavariable"),
      s"no interpreted HOFs:\n$plan")
    assert(plan.contains("*(1)"), s"stage must stay in whole-stage codegen:\n$plan")
  }

  test("url canonicalization, redaction, and chunking are map-only (no Exchange)") {
    for (q <- Seq("w_url_canon", "t_redact", "t_chunks")) {
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$q must not shuffle:\n$plan")
      assert(plan.contains("*(1)"), s"$q must stay in whole-stage codegen:\n$plan")
    }
  }

  test("blocklist prune is a broadcast anti-join (corpus stays map-only)") {
    val plan = finalPlan(SparkEntry.queries("w_blocklist_keep")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"blocklist must broadcast, corpus must not shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no corpus shuffle for a blocklist:\n$plan")
  }

  test("decontamination probes a broadcast gram set; corpus grams never sort-merge") {
    val plan = finalPlan(SparkEntry.queries("q_decontaminate")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"bench grams must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus gram stream must stay map-side:\n$plan")
  }

  test("sessionize: one Exchange feeds both window passes and the rollup") {
    val plan = finalPlan(SparkEntry.queries("e_sessionize")(spark, "/root/testdata/sf0.01"))
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
      s"both windows and the session agg must share ONE user-key shuffle:\n$plan")
  }

  test("latestAsOf is a hash agg with a map-side partial, never a window rank") {
    val plan = finalPlan(SparkEntry.queries("e_latest_asof")(spark, "/root/testdata/sf0.01"))
    assert(!plan.contains("Window"),
      s"the as-of pick must not sort every event under a window:\n$plan")
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
      s"one shuffle of partially-aggregated (user, max) rows:\n$plan")
  }

  test("shard packing shuffles once on (bucket, sub), never on a global key") {
    val plan = finalPlan(SparkEntry.queries("q_shard_pack")(spark, sfDir))
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
      s"one (bucket, sub) shuffle:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"),
      s"round-robin must not funnel the corpus through one partition or a global sort:\n$plan")
  }

  test("exact quartiles partial-aggregate map-side (value histograms shuffle, not rows)") {
    val plan = finalPlan(SparkEntry.queries("t_len_quartiles")(spark, sfDir))
    assert(plan.contains("ObjectHashAggregate"),
      s"percentile must run as a typed-imperative hash agg:\n$plan")
    assert(plan.split("ObjectHashAggregate").length - 1 >= 2,
      s"expected partial + final aggregation stages:\n$plan")
  }

  test("link graph: one (src, dst) exchange with map-side partial counts; corpus stays map-only") {
    val plan = finalPlan(SparkEntry.queries("w_link_graph")(spark, sfDir))
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
      s"harvest + explode + domain projection must stay map-side of ONE edge-key shuffle:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial, [count"),
      s"edge weights must partial-aggregate before the exchange:\n$plan")
  }

  test("delta dedup: index anti-join and batch dedup run on slim keys, payload joins back by id") {
    val plan = finalPlan(SparkEntry.queries("d_delta_new")(spark, sfDir))
    assert(!plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"),
      s"no global funnel in the delta path:\n$plan")
    // the payload columns ride only the final LeftSemi by doc_id — no
    // shuffle carries `source`/`n_chars` keyed by fingerprint
    val fpExchanges = plan.split("Exchange hashpartitioning\\(graft_fp").toSeq.tail
    assert(fpExchanges.forall(s => !s.takeWhile(_ != ')').contains("source")),
      s"fingerprint-keyed exchanges must carry (id, fp) only:\n$plan")
  }

  test("substring spans: two slim exchanges (fp reduce, doc-keyed islands), window never global") {
    val plan = finalPlan(SparkEntry.queries("d_substring_spans")(spark, sfDir))
    assert(plan.split("Exchange hashpartitioning").length - 1 == 2,
      s"exactly the fp-keyed first-occurrence reduce and the doc-keyed island shuffle:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"),
      s"no global funnel:\n$plan")
    assert(plan.contains("windowspecdefinition(_id"),
      s"the island window must partition per document, never globally:\n$plan")
    // the gram text dies at the Generate: doc-keyed exchanges carry only
    // the duplicated (id, pos) pairs
    val idExchanges = plan.split("Exchange hashpartitioning\\(_id").toSeq.tail
    assert(idExchanges.nonEmpty && !idExchanges.head.linesIterator.next().contains("text"),
      s"doc-keyed exchange must not carry text:\n$plan")
  }

  test("sequence packing: one stream-key exchange shared by both window passes") {
    val plan = finalPlan(SparkEntry.queries("q_seq_pack")(spark, sfDir))
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
      s"prefix-sum and offset windows must share ONE stream shuffle:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"),
      s"no global funnel:\n$plan")
  }

  test("block slicing: one stream-key exchange, no global funnel (same budget as seq packing)") {
    val plan = finalPlan(SparkEntry.queries("q_block_pack")(spark, sfDir))
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
      s"prefix-sum window must ride ONE stream shuffle:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"),
      s"no global funnel:\n$plan")
  }

  test("warc shard assembly: one shard-key exchange; parse stage adds none") {
    val plan = finalPlan(SparkEntry.queries("q_warc_roundtrip")(spark, sfDir))
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
      s"archive assembly is the only shuffle; parse must be map-only:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"),
      s"no global funnel:\n$plan")
  }

  test("token-budget sampling: broadcast budgets; corpus shuffles once on (stratum, sub-stream)") {
    val plan = finalPlan(SparkEntry.queries("q_sample_budget")(spark, sfDir))
    assert(plan.contains("BroadcastExchange"),
      s"budgets must broadcast, not shuffle the corpus for the join:\n$plan")
    assert(plan.split("Exchange hashpartitioning").length - 1 == 2,
      s"exactly the budgets-distinct agg and the (stratum, sub) window shuffle:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"),
      s"no global funnel:\n$plan")
  }

  test("epoch up-sampling: map-only explode — the corpus never shuffles") {
    val plan = finalPlan(SparkEntry.queries("q_sample_epochs")(spark, sfDir))
    assert(plan.contains("BroadcastExchange"),
      s"epochs must broadcast:\n$plan")
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
      s"only the epochs-distinct agg may shuffle; the repeat itself is map-only:\n$plan")
    assert(plan.contains("Generate explode"),
      s"the repeat must be an explode, not a join against a series table:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"),
      s"no global funnel:\n$plan")
  }

  test("domain cap: two bounded exchanges (sub-stream prefilter, then per-domain rank), no funnel") {
    val plan = finalPlan(SparkEntry.queries("w_domain_cap")(spark, sfDir))
    assert(plan.split("Exchange hashpartitioning").length - 1 == 2,
      s"exactly the prefilter and final-rank shuffles:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"),
      s"no global funnel:\n$plan")
  }

  test("line dedup: catalog broadcasts as one row; cleanse is map-only (no corpus text shuffle)") {
    val plan = finalPlan(SparkEntry.queries("d_drop_freq_lines")(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the 1-row catalog must broadcast-cross-join, not shuffle the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"no keyed corpus shuffle anywhere in the cleanse:\n$plan")
    // the only hash exchanges are the slim line_md5 aggregations
    // (distinct + df count); document text rides none of them
    val hashEx = plan.split("Exchange hashpartitioning").length - 1
    assert(hashEx <= 2, s"expected at most the two slim catalog exchanges, got $hashEx:\n$plan")
    assert(!plan.split("Exchange hashpartitioning").tail
        .exists(s => s.takeWhile(_ != ')').contains("text")),
      s"document text must never enter an exchange:\n$plan")
  }

  test("anchor stats: payload-local harvest; only slim anchor rows reach the aggregation") {
    val plan = finalPlan(SparkEntry.queries("w_anchor_text")(spark, sfDir))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Exchange rangepartitioning"),
      s"no join/global sort in the harvest:\n$plan")
    assert(!plan.split("Exchange hashpartitioning").tail
        .exists(s => s.takeWhile(_ != ')').contains("html")),
      s"the payload column must never shuffle:\n$plan")
    assert(plan.contains("partial"),
      s"anchor counts must partial-aggregate map-side before the exchange:\n$plan")
  }

  test("corpus card: one map-side-partial aggregate; distinct keys are slim (no text shuffle)") {
    val plan = finalPlan(SparkEntry.queries("q_corpus_card")(spark, sfDir))
    assert(plan.contains("Expand"),
      s"multi-count-distinct should plan as one Expand, not separate scans:\n$plan")
    assert(plan.contains("partial"),
      s"counts must partial-aggregate map-side:\n$plan")
    assert(!plan.split("Exchange hashpartitioning").tail
        .exists(s => s.takeWhile(_ != ')').contains("text#")),
      s"distinct keys must be lang/source/fingerprint, never the text column:\n$plan")
  }

  test("bpe pair stats: corpus collapses to vocab map-side; pair fan-out and top-K never global-sort") {
    val plan = finalPlan(SparkEntry.queries("t_bpe_pairs")(spark, sfDir))
    val hashEx = plan.split("Exchange hashpartitioning").length - 1
    assert(hashEx <= 2, s"expected the vocab agg and pair agg exchanges only, got $hashEx:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial, [count"),
      s"token counts must partial-aggregate before the vocab exchange:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must be TakeOrdered (K rows to the driver), not a global sort:\n$plan")
  }

  test("nfc normalization is map-only codegen (no Exchange, native expression in the stage)") {
    val df = SparkEntry.queries("t_nfc")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"NFC projection must not shuffle:\n$plan")
    assert(plan.contains("graft_nfc"), s"the native expression must appear in the plan:\n$plan")
    // `*(n)` is the compact-plan marker for a WholeStageCodegen span; the
    // graft_nfc projection must sit inside one (defineCodeGen, no fallback)
    assert(plan.linesIterator.exists(l => l.contains("graft_nfc") && l.trim.matches("^[+:\\- ]*\\*\\(\\d+\\).*")),
      s"graft_nfc must stay inside a codegen span:\n$plan")
  }

  test("robots gate is map-only (no Exchange)") {
    val plan = SparkEntry.queries("w_robots_gate")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"the meta-robots gate must compose with the scan:\n$plan")
  }

  test("web ingest chain: gate + NFC + cleanse compose into one map-side pass before the slim catalog aggs") {
    val plan = finalPlan(SparkEntry.queries("q_web_ingest")(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the line catalog must broadcast back, not shuffle the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"no keyed corpus shuffle anywhere in the chain:\n$plan")
    val hashEx = plan.split("Exchange hashpartitioning").length - 1
    assert(hashEx <= 2, s"only the slim line_md5 catalog exchanges, got $hashEx:\n$plan")
    assert(!plan.split("Exchange hashpartitioning").tail
        .exists(s => s.takeWhile(_ != ')').contains("text")),
      s"document text must never enter an exchange:\n$plan")
    assert(plan.contains("graft_nfc"), s"NFC must run inside the same pass:\n$plan")
  }

  test("as-of join: ONE key shuffle over the union, never an inequality join") {
    val plan = finalPlan(SparkEntry.queries("e_asof_join")(spark, "/root/testdata/sf0.01"))
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
      s"union+window must shuffle ONCE on the key:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"),
      s"no join operator at all — the quadratic inequality-join shape is the anti-pattern:\n$plan")
    assert(plan.contains("Window"), s"the as-of pick is a window carry-forward:\n$plan")
  }

  test("lm fluency: pruned model broadcasts; corpus bigrams probe map-side, never sort-merge") {
    val plan = finalPlan(SparkEntry.queries("t_lm_score")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"the scoring join must probe a broadcast model relation:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"neither scoring nor model assembly may sort-merge the corpus:\n$plan")
    assert(!plan.contains("Exchange SinglePartition") && !plan.contains("rangepartitioning"),
      s"no global funnel:\n$plan")
  }

  test("range join: bucketed EQUI-join — never the quadratic inequality BNLJ/Cartesian") {
    val plan = finalPlan(SparkEntry.queries("e_range_join")(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join must run as a bucket equi-join:\n$plan")
    assert(plan.contains("_bucket"), s"join key must be the time bucket:\n$plan")
  }

  test("bm25: term prune runs with the explode map-side; df broadcasts; top-k is TakeOrdered, not a global sort") {
    val df = SparkEntry.queries("t_bm25_topk")(spark, sfDir)
    val plan = finalPlan(df)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must ship k rows to the driver, never a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the df stats join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge anywhere in the retrieval plan:\n$plan")
    // the isin prune must sit under the same stage as the generate — i.e.
    // appear as a Filter over the exploded term, not after an exchange
    assert(plan.contains("Generate explode"), s"postings come from an explode:\n$plan")
  }

  test("clean gate generates compilable code — no silent interpreted fallback") {
    // with fallback disabled a 64 KB-limit janino failure THROWS instead
    // of silently dropping the stage to interpreted execution — the
    // regression this guards: filter codegen does no subexpression
    // elimination, so un-staged composed gates exceed the method limit
    // (see TextAnalytics.filterClean / argmaxLabel)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      assert(SparkEntry.queries("q_clean_corpus")(spark, sfDir).collect() != null)
      assert(SparkEntry.queries("t_lang_id")(spark, sfDir).collect() != null)
      assert(SparkEntry.queries("q_training_export")(spark, sfDir).collect() != null)
      assert(SparkEntry.queries("q_web_ingest")(spark, sfDir).collect() != null)
      // the round-4 native CDC expression must codegen, not fall back
      assert(SparkEntry.queries("d_cdc_chunks")(spark, sfDir).collect() != null)
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }

  test("idempotent-normalization rule collapses nested nfc/lower/trim; leaves mixed chains alone") {
    import org.apache.spark.sql.functions.{col, lower, upper, trim}
    graft.functions.GraftFunctions.register(spark)
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    def nfc(c: org.apache.spark.sql.Column) = graft.text.TextAnalytics.nfcNative(d)(c)
    def count(plan: String, token: String): Int = token.r.findAllIn(plan).size
    // a 3-deep nfc chain and a trim∘trim chain each collapse to one call
    val collapsed = d.select(nfc(nfc(nfc(col("text")))).as("a"),
      trim(trim(col("text"))).as("b"))
    val p1 = collapsed.queryExecution.optimizedPlan.toString
    assert(count(p1, "graft_nfc") == 1, s"nfc chain must collapse to one call:\n$p1")
    assert(count(p1, "trim") == 1, s"trim chain must collapse:\n$p1")
    // charset trims are idempotent only PER charset — nested different
    // charsets must survive the rule
    val mixed = d.selectExpr("trim(BOTH 'x' FROM trim(BOTH 'y' FROM text)) AS c")
    val p2 = mixed.queryExecution.optimizedPlan.toString
    assert(count(p2, "trim") == 2, s"different-charset trim chain must survive:\n$p2")
    // upstream SimplifyCaseConversionExpressions owns case chains — our
    // rule must not break that composition
    val caseChain = d.select(lower(upper(lower(col("text")))).as("d"))
    val p3 = caseChain.queryExecution.optimizedPlan.toString
    assert(count(p3, "lower") == 1 && count(p3, "upper") == 0, s"upstream rule intact:\n$p3")
    // semantics unchanged by the rewrite
    assert(collapsed.selectExpr("sum(length(a))", "sum(length(b))").collect()(0) ==
      d.select(nfc(col("text")).as("a"), trim(col("text")).as("b"))
        .selectExpr("sum(length(a))", "sum(length(b))").collect()(0))
  }

  test("bm25 index probe: partition pruning on the term bucket reaches the scan") {
    val path = Files.createTempDirectory("graft-planspec-idx").toString
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    graft.text.Retrieval.buildIndex(d, "doc_id", "text", path, termBuckets = 16)
    val probe = graft.text.Retrieval.bm25FromIndex(spark, path, "doc_id",
      Seq("spark", "vector"), 10, termBuckets = 16)
    val plan = finalPlan(probe)
    assert(plan.contains("PartitionFilters: [") && plan.contains("term_bucket"),
      s"the probe scan must prune term_bucket partitions at the directory level:\n$plan")
  }

  test("kmv sketch: ObjectHashAggregate with a map-side partial, no Expand when used alone") {
    import org.apache.spark.sql.functions.{col, lit, count}
    graft.functions.GraftFunctions.register(spark)
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val sketchOnly = d.groupBy(col("source"))
      .agg(org.apache.spark.sql.functions.call_function("graft_kmv_mink",
        graft.stats.CorpusStats.hash40(col("text")), lit(16)).as("mink"),
        count(lit(1)).as("n"))
    val plan = finalPlan(sketchOnly)
    assert(plan.contains("ObjectHashAggregate"),
      s"typed-imperative aggregate must plan as ObjectHashAggregate:\n$plan")
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"partial (map-side) + final aggregate expected:\n$plan")
    assert(!plan.contains("Expand"),
      s"the sketch alone must not pay exact-distinct's Expand:\n$plan")
  }

  test("quantile sketch: ObjectHashAggregate partial+final; one group-key exchange, no sort") {
    val plan = finalPlan(SparkEntry.queries("q_quantile_sample")(spark, sfDir))
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"bottom-k sample must partial-aggregate map-side:\n$plan")
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1,
      s"one (source) exchange of k-pair sketch states:\n$plan")
    assert(!plan.contains("rangepartitioning") && !plan.contains("Exchange SinglePartition"),
      s"no global sort or funnel for a sketch:\n$plan")
  }

  test("template fingerprint: payload never shuffles — the one exchange carries the 32-hex fp") {
    val plan = finalPlan(SparkEntry.queries("w_template_fp")(spark, sfDir))
    assert(plan.contains("Exchange hashpartitioning(template_fp"),
      s"group-by must shuffle on the fingerprint:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"exactly one exchange (the slim fp group-by):\n$plan")
  }

  test("holdout split: map-only — zero exchanges, decision stays in one codegen span") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang").as("key"))
    val df = graft.sample.Sampler.holdoutSplit(d, "key", valBp = 1000)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"split must not shuffle:\n$plan")
    assert(plan.contains("*(1) Project"), s"split must codegen:\n$plan")
  }

  test("tier assignment: corpus never shuffles — shuffles touch only the score histogram") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), length(col("text")).cast("long").as("s"))
    val plan = finalPlan(graft.sample.Tiering.assignTiers(d, "s"))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"1-row bounds must broadcast under the corpus:\n$plan")
    // every shuffle in the plan belongs to the bounded-histogram side:
    // keyed by the score (graft_s) or the single-partition window/agg —
    // never by a corpus column
    val shuffles = plan.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange")).toVector
    assert(shuffles.nonEmpty, s"histogram agg must exist:\n$plan")
    // the histogram exchange keys on the score attribute (pre-alias name
    // `s` here), the window/bounds agg on SinglePartition — never doc_id
    assert(shuffles.forall(l =>
      l.contains("(s#") || l.contains("graft_s") || l.contains("SinglePartition")),
      s"corpus rows must never shuffle:\n${shuffles.mkString("\n")}")
    assert(!plan.contains("Exchange hashpartitioning(doc_id"),
      s"corpus rows must never shuffle:\n$plan")
  }

  test("url revisions: shuffles carry only the slim (canon_url, id, fp) triple, with map-side partials") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val slim = d.select(col("doc_id"), concat(lit("https://x.com/p"), col("doc_id") % 7).as("url"),
      md5(col("text")).as("fp"))
    val plan = finalPlan(graft.web.UrlOps.urlRevisions(slim, "url", "doc_id", "fp"))
    val shuffles = plan.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange")).toVector
    assert(shuffles.nonEmpty && shuffles.forall(l => !l.contains("text#")),
      s"the text payload must never shuffle:\n${shuffles.mkString("\n")}")
    assert(plan.contains("partial_count") || plan.contains("partial_merge") ||
      "HashAggregate".r.findAllIn(plan).size >= 2,
      s"group-by must have a map-side partial:\n$plan")
  }

  test("charset decode is map-only codegen over the scan (no Exchange)") {
    val df = SparkEntry.queries("q_charset_decode")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"charset routing must not shuffle:\n$plan")
    assert(plan.contains("*(1) Project"), s"the sniff+route must codegen:\n$plan")
  }

  test("crawl plan: per-host delays broadcast; host is the only repeated shuffle key; no url text beyond slim rows") {
    val plan = finalPlan(SparkEntry.queries("q_crawl_plan")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-host delay relation must broadcast under the plan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"no all-pairs anywhere in the chain:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no global funnel — hosts partition the window:\n$plan")
  }

  test("phrase scan: term prune rides the explode; only slim (id, start) votes shuffle") {
    val plan = finalPlan(SparkEntry.queries("t_phrase")(spark, sfDir))
    val shuffles = plan.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange")).toVector
    assert(shuffles.nonEmpty && shuffles.forall(l => !l.contains("text#")),
      s"document text must never shuffle:\n${shuffles.mkString("\n")}")
    assert(plan.contains("BroadcastHashJoin"),
      s"the (slot, term) phrase relation must broadcast:\n$plan")
    assert(!plan.contains("Expand"),
      s"occurrence counting is a plain count, never a distinct Expand:\n$plan")
  }

  test("phrase index probe: partition pruning on the term bucket reaches the scan") {
    val path = Files.createTempDirectory("graft-planspec-phraseidx").toString
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    graft.text.Retrieval.buildIndex(d, "doc_id", "text", path, termBuckets = 16)
    val probe = graft.text.Retrieval.phraseFromIndex(spark, path, "doc_id",
      Seq("the", "group"), termBuckets = 16)
    val plan = finalPlan(probe)
    assert(plan.contains("PartitionFilters: [") && plan.contains("term_bucket"),
      s"the probe scan must prune term_bucket partitions at the directory level:\n$plan")
  }

  test("containment: one (group, shingle) equi-join; no cartesian, no text shuffle") {
    val plan = finalPlan(SparkEntry.queries("d_containment")(spark, sfDir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair generation must be the equi-join, never all-pairs:\n$plan")
    val shuffles = plan.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange")).toVector
    assert(shuffles.forall(l => !l.contains("text#")),
      s"document text must never shuffle (only slim shingle/id rows):\n${shuffles.mkString("\n")}")
  }

  test("robots directives: shuffles carry only the slim host column (the distinct); parse is map-side") {
    val plan = finalPlan(SparkEntry.queries("w_robots_directives")(spark, sfDir))
    val shuffles = plan.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange")).toVector
    assert(shuffles.nonEmpty && shuffles.forall(_.contains("host#")),
      s"only the host-distinct may shuffle:\n${shuffles.mkString("\n")}")
    assert(plan.contains("MapPartitions") || plan.contains("SerializeFromObject"),
      s"directive parsing is the typed map over the slim host relation:\n$plan")
  }

  test("stupid-backoff: all three model levels broadcast; positions probe map-side, never sort-merge") {
    val plan = finalPlan(SparkEntry.queries("t_lm_backoff")(spark, sfDir))
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"tri, bi, and uni models must each probe as a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"neither scoring nor model assembly may sort-merge the corpus:\n$plan")
    assert(!plan.contains("rangepartitioning"), s"no global funnel:\n$plan")
  }

  test("mojibake round trip is map-only codegen (native expressions, no Exchange)") {
    val df = SparkEntry.queries("t_mojibake")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"mojibake repair must not shuffle:\n$plan")
    assert(plan.contains("*(1) Project") && plan.contains("graft_fix_mojibake"),
      s"native expressions must stay inside the codegen span:\n$plan")
  }

  test("heavy-hitter sketch: ObjectHashAggregate with map-side partial summaries; top-10 never global-sorts") {
    val plan = finalPlan(SparkEntry.queries("q_heavy_domains")(spark, sfDir))
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"partial + final summary aggregation expected:\n$plan")
    assert(plan.contains("partial_graft_heavy_topk"),
      s"each partition must reduce to one ≤k-entry summary before the shuffle:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-10 cut must be TakeOrdered, not a global Sort:\n$plan")
    assert(!plan.contains("Expand"), s"no Expand (the exact-distinct plan shape):\n$plan")
  }

  test("temperature sampling: rates broadcast; shuffles carry only the slim stratum counts") {
    val plan = finalPlan(SparkEntry.queries("q_sample_temperature")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-stratum rates table must broadcast under the corpus:\n$plan")
    val shuffles = plan.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange")).toVector
    // the only exchanges are the (stratum → count) agg and its 1-row
    // rollup — never a corpus column shuffle
    assert(shuffles.forall(l => l.contains("lang#") || l.contains("SinglePartition")),
      s"corpus rows must never shuffle:\n${shuffles.mkString("\n")}")
    assert(!plan.contains("Exchange hashpartitioning(doc_id"), plan)
    assert(plan.contains("partial_count") || "HashAggregate".r.findAllIn(plan).size >= 2,
      s"stratum count must have a map-side partial:\n$plan")
  }

  test("meta extraction is map-only codegen over the scan (no Exchange)") {
    val df = SparkEntry.queries("w_meta_extract")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"metadata extraction must not shuffle:\n$plan")
    assert(plan.contains("*(1) Project"), s"regexp projections must codegen:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"scan must prune to doc_id (the html is synthesized):\n$plan")
  }

  test("cdx fetch: picks broadcast under the archive table — archive blobs never shuffle") {
    import spark.implicits._
    val rows = (0L until 30L).map(i =>
      (s"https://c${i % 3}.example.com/p$i", 1700000000000L + i,
        "text/plain", s"b$i".getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val archives = graft.warc.WarcShards.toArchivesIndexed(
      spark.createDataset(rows).toDF("url", "ts_ms", "ct", "payload"),
      "url", "ts_ms", "ct", "payload", shards = 3, gzip = true).localCheckpoint()
    val picks = graft.warc.WarcShards.cdxIndex(archives)
      .where(col("ts_ms") % 7 === 0)
      .select(col("shard"), col("offset"), col("length"))
    val plan = finalPlan(
      graft.warc.WarcShards.fetchBySpans(archives.drop("idx"), picks))
    assert(plan.contains("BroadcastHashJoin"),
      s"pick spans must broadcast to the archives:\n$plan")
    // the only non-broadcast exchange is the slim per-shard span group-by;
    // the blob column (warc) must never appear in a shuffle
    val shuffles = plan.linesIterator.filter(_.contains("Exchange"))
      .filterNot(_.contains("BroadcastExchange")).toVector
    assert(shuffles.forall(l => !l.contains("warc#")),
      s"archive blobs must never shuffle:\n${shuffles.mkString("\n")}")
  }

  test("cdx sorted layout: exactly one RangePartitioning exchange, then in-partition sort") {
    import spark.implicits._
    val rows = (0L until 30L).map(i =>
      (s"https://d${i % 5}.example.org/q$i", 1700000000000L + i,
        "text/plain", Array[Byte](i.toByte)))
    val archives = graft.warc.WarcShards.toArchivesIndexed(
      spark.createDataset(rows).toDF("url", "ts_ms", "ct", "payload"),
      "url", "ts_ms", "ct", "payload", shards = 2, gzip = false).localCheckpoint()
    val plan = finalPlan(graft.warc.WarcShards.cdxSorted(
      graft.warc.WarcShards.cdxIndex(archives), partitions = 4))
    assert(plan.contains("Exchange rangepartitioning(surt"),
      s"cdx layout must range-partition on the surt key:\n$plan")
    assert("Exchange".r.findAllIn(plan).size == 1,
      s"exactly one exchange (the range partitioning):\n$plan")
    assert(plan.contains("Sort [surt"), s"in-partition sort on (surt, ts_ms):\n$plan")
  }

  test("winnowing: the gram-materialization barrier survives optimization (no quadratic HOF inlining)") {
    // HOF lambdas run interpreted with no cross-element CSE: if
    // CollapseProject ever merges the gram-hash projection into the
    // window transform, every window recomputes every md5 — O(len²) per
    // document (measured: the sf0.1 sweep went from >500 s to 31 s when
    // the barrier landed). The nondeterministic barrier column is what
    // blocks the merge; assert it is still in the executed plan.
    val plan = finalPlan(SparkEntry.queries("d_winnow_fp")(spark, sfDir).limit(1))
    assert(plan.contains("SPARK_PARTITION_ID") || plan.contains("spark_partition_id"),
      s"the projection barrier must survive into the physical plan:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"fingerprint selection itself is map-only:\n$plan")
  }

  test("bitext LSH: bucket equi-join, neither side broadcast; embeddings shuffle once per side; margins over slim triples") {
    val plan = finalPlan(SparkEntry.queries("s_bitext_mine_lsh")(spark, sfDir))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must be the (tbl, sig) equi-join, never all-pairs:\n$plan")
    // both sides are corpus-sized: the bucket join must NOT broadcast an
    // embedding-carrying side (slim broadcasts elsewhere are fine)
    val bx = plan.linesIterator.filter(_.contains("BroadcastExchange")).toVector
    assert(bx.forall(l => !l.contains("se#") && !l.contains("te#") && !l.contains("embedding#")),
      s"neither embedding side of the bucket join may broadcast:\n${bx.mkString("\n")}")
    // embeddings ride only the bucket-key exchanges (≤ 1 per side);
    // everything after scoring — windows, neighborhood sums, margin —
    // shuffles slim (sid, tid, sq) triples
    val embShuffles = plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .count(l => l.contains("se#") || l.contains("te#") || l.contains("embedding#"))
    assert(embShuffles <= 2,
      s"embeddings may shuffle at most once per side (bucket key), saw $embShuffles:\n$plan")
  }
}
