package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.job.ExtractJob
import graft.pages.PagesGen
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-shot generator for PLANS.md: captures `explain("formatted")` of the
  * load-bearing plans so the repo documents the ACTUAL physical plans, not
  * claims about them. Run via `sbt "Test/runMain graft.PlanDump"`; output
  * reviewed and committed. PlanSpec asserts the same properties in CI.
  */
object PlanDump {
  private def fmt(df: DataFrame): String = {
    val qe = df.queryExecution
    qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkTestBase.spark
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — captured physical plans (explain(\"formatted\"))\n\n")
    sb.append("Generated by `sbt \"Test/runMain graft.PlanDump\"` on sf0.001; the\n")
    sb.append("properties shown here are asserted by `PlanSpec` in CI.\n")

    def section(title: String, note: String, df: DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$note\n\n```\n${fmt(df).trim}\n```\n")
    }

    // 1. resume anti-join (after a first commit)
    val root = Files.createTempDirectory("graft-plandump").toString
    val pages = PagesGen.pages(spark, sfDir).limit(100)
    ExtractJob.run(spark, pages, root, commitId = "c1")
    section(
      "Resume anti-join (pending pages)",
      "The committed key set is broadcast (AQE): the pages side never shuffles, and only `url` is read from the committed snapshot (column pruning).",
      ExtractJob.pending(spark, pages, root).select($"url"))

    section(
      "Slim scan with pruning + pushdown",
      "`ReadSchema` carries exactly the projected columns; the filter lands in `PushedFilters`.",
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(col("vec_id") < 10).select(col("vec_id")))

    section(
      "Text analytics (t_quality)",
      "All counters are one codegen'd `Project` over the pruned scan — no UDFs, no interpreted expressions.",
      SparkEntry.queries("t_quality")(spark, sfDir))

    section(
      "MinHash signatures (d_minhash_sig)",
      "Explode → partial (map-side) `min(md5(...))` aggregates → final aggregate: the shuffle carries (id, 8×32-char partials), never shingles or documents.",
      SparkEntry.queries("d_minhash_sig")(spark, sfDir))

    section(
      "Native simhash expression",
      "`graft_simhash64` appears inside a WholeStageCodegen `Project` (`*(1)`): the custom expression does not break the codegen span.",
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(graft.dedup.Dedup.simhash64Native(
          spark.read.parquet(s"$sfDir/documents.parquet"), "text").as("h")))

    section(
      "Similarity top-k (s_dot_topk)",
      "The 10-vector query side is an explicit `broadcast()`: BroadcastNestedLoopJoin, corpus scanned in place, then a window top-k.",
      SparkEntry.queries("s_dot_topk")(spark, sfDir))

    section(
      "Embedding near-dup (s_embed_neardup) with native graft_qdot",
      "Pairwise scoring runs the codegen'd `graft_qdot` expression inside the join projection (17.4 s → 1.0 s at sf0.1 vs the interpreted HOF). This is the capped oracle-exact BASELINE; the gated scale path is below.",
      SparkEntry.queries("s_embed_neardup")(spark, sfDir))

    section(
      "Near-dup SCALE path (s_embed_neardup_lsh): multi-table banded LSH",
      "12 per-table signatures (native `graft_lshsig`, codegen) explode into slim (table, sig, id) tuples; the band equi-join + distinct emits id pairs only; embeddings move once, in the verification re-join with `graft_qdot`. No quadratic operator anywhere in the plan.",
      SparkEntry.queries("s_embed_neardup_lsh")(spark, sfDir))

    section(
      "ANN top-k with multi-probe (s_ann_topk)",
      "The corpus computes ONE signature in the scan projection; probing (Hamming ≤ 2 = 37 bucket keys/query) is exploded on the broadcast query side, so recall costs nothing on the corpus side. Candidates are ranked by the quantized cosine.",
      SparkEntry.queries("s_ann_topk")(spark, sfDir))

    section(
      "IVF top-k (s_ivf_topk): coarse-quantizer cells",
      "Assignment scores are slim (vid, cid, score) triples against BROADCAST centroids, reduced by a map-side-partial argmax (`max_by`); embeddings move exactly once — the keyed join attaching the cell label. Probes (4 ranked cells per query) are a broadcast hash join on the cell id; exact quantized-cosine re-rank runs only inside probed cells. Each vector lives in ONE cell: no dedup step before ranking, and cell population is balanced by the quantizer, not hash luck.",
      SparkEntry.queries("s_ivf_topk")(spark, sfDir))

    section(
      "LSH → Jaccard verification chain (d_lsh_jaccard)",
      "MinHash band candidates (constant-width key equi-join, distinct) re-join the shingle sets for exact Jaccard — the shape that survives 100× scale-up: candidates are slim id pairs, shingle arrays move only for verified candidates.",
      SparkEntry.queries("d_lsh_jaccard")(spark, sfDir))

    section(
      "Connected-components survivor pass (one label-propagation round)",
      "One round of `connectedComponents`' min-label propagation over the verified pair set: edges and labels are slim (id, label) rows through an equi-join + min aggregate; `localCheckpoint` (not shown — plan truncation) keeps later rounds' plans this same constant size instead of growing with iterations. Components come from verified NEAR-DUP pairs, so diameters are tiny and the loop converges in a handful of rounds.",
      {
        val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id1", "id2")
        val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"))
          .union(pairs.select(col("id2").as("src"), col("id1").as("dst"))).distinct()
        val labels = edges.select(col("src").as("id"), col("src").as("label")).distinct()
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
          .groupBy(col("src").as("id")).agg(min(col("nl")).as("nbr"))
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
      })

    section(
      "Repetition filter (t_repetition): HOF-free bigrams",
      "Bigrams are built with `slice` + `arrays_zip` + `explode` — all codegen'd collection expressions; Spark higher-order functions (`transform`) run interpreted and are banned from this path. The hot aggregation is map-side `partial_count` over slim (doc_id, w1, w2) rows BEFORE the exchange, so the token stream collapses to per-document-distinct-bigram counts before anything shuffles; the per-document max is a second, doc-keyed agg. The corpus is scanned twice — both scans pruned to (doc_id, text), the bigram one filtered to n_tokens >= 2; two columnar scans beat one scan + a token-level self-join to recover adjacency, because the scan is the cheap part and text NEVER shuffles in either branch. The final join carries only (doc_id, n_tokens, n_distinct) against (doc_id, top_bigram_n): broadcast at this scale, a slim doc-keyed shuffle join at 100 TB.",
      SparkEntry.queries("t_repetition")(spark, sfDir))

    section(
      "Stratified sampling (q_sample_stratified): map-only over the corpus",
      "The rates side is a distinct over two low-cardinality string columns — a few hundred rows at any corpus size — and broadcast. The md5-bucket predicate is fused INTO the broadcast join condition, so sampling is a single map-only pass over a three-column pruned scan: zero shuffle of corpus rows, no second scan, output preserves input partitioning. Changing the mixture re-reads nothing but the rates.",
      SparkEntry.queries("q_sample_stratified")(spark, sfDir))

    section(
      "Vocabulary / doc-frequency (t_vocab_topk)",
      "Spark expands `countDistinct(doc_id)` into the standard two-phase shape: partial counts keyed by (token, doc_id) — which is also what makes hot tokens safe, the finer key spreads a skewed token over all of its documents before the exchange — then the per-token final agg. The top-50 is `TakeOrderedAndProject`: k rows per partition then k at the driver, never a global sort.",
      SparkEntry.queries("t_vocab_topk")(spark, sfDir))

    section(
      "Clean-corpus pipeline (q_clean_corpus)",
      "The composed cleaning call: quality gate, lang-ID, language-scoped stopword gate and repetition gate all evaluate in ONE codegen'd Filter over a single pruned scan (no joins, no second pass — the repetition gate here is the column-expression dup-token form), then exact dedup ships only (32-hex fp, doc_id) through the one exchange with a map-side partial `min`. At 100 TB: one scan, one slim shuffle.",
      SparkEntry.queries("q_clean_corpus")(spark, sfDir))

    section(
      "URL canonicalization (w_url_canon): map-only",
      "Canonicalization (lowercase scheme/host, default-port/fragment/tracking-param strip) is one codegen'd Project over the scan — string surgery via `substring_index`/`regexp_replace`, no UDF, no shuffle. Every url-keyed operator downstream (dedup, resume anti-join, domain stats) inherits one spelling per page for free.",
      SparkEntry.queries("w_url_canon")(spark, sfDir))

    section(
      "Blocklist prune (w_blocklist_keep): broadcast anti-join",
      "The domain blocklist (thousands of rows in production) is broadcast and the corpus anti-joins it map-side — no corpus shuffle, and no `isin` literal list in the plan (a 10^4-entry isin would bloat every task's expression tree). Domains come from the same codegen'd canonicalization projection.",
      SparkEntry.queries("w_blocklist_keep")(spark, sfDir))

    section(
      "PII redaction (t_redact): three codegen'd regexp passes",
      "E-mail, IPv4 and phone redaction plus their audit counts evaluate in one Project — six `regexp_*` calls over the same string, all inside whole-stage codegen, zero shuffle. Pass order is fixed (e-mail → IP → phone) and the placeholders contain no digits, so later passes cannot match inside earlier replacements.",
      SparkEntry.queries("t_redact")(spark, sfDir))

    section(
      "Token-window chunking (t_chunks): generate fan-out, zero shuffle",
      "Chunk ids come from `explode(sequence(0, nc-1))` and each window from `slice` + `array_join` — all codegen'd collection expressions evaluated row-locally (Sequence/Slice both implement doGenCode). The operator is pure fan-out: no exchange anywhere, output carries (doc_id, chunk_id) so a downstream writer can repartition on whatever key it needs.",
      SparkEntry.queries("t_chunks")(spark, sfDir))

    section(
      "Frequent-passage boilerplate mass (d_freq_grams)",
      "The corpus explodes into slim (id, md5-of-8-gram) rows; the document-frequency aggregation ships 32-hex keys with map-side partial counts; the Zipf head (df ≥ minDf) joins back against the same slim stream; the final counts aggregate on doc id. The gram projection appears three times in the plan — recomputed map-side CPU, the same trade t_repetition documents: re-scanning beats materializing or self-joining the gram stream, because nothing extra shuffles.",
      SparkEntry.queries("d_freq_grams")(spark, sfDir))

    section(
      "Eval-set decontamination (q_decontaminate): broadcast gram probe",
      "The benchmark side collapses to distinct md5(8-gram) hashes and is broadcast (eval sets are thousands of documents — kilobytes of hashes). The corpus side explodes its per-document DISTINCT gram set (array_distinct is row-local) into slim (id, 32-hex) rows and probes the broadcast hash set as a map-side BroadcastHashJoin; only MATCHED rows — contaminated documents are rare — reach the final groupBy(id) exchange. Documents never shuffle; at 10^12 rows the network cost is the handful of matches.",
      SparkEntry.queries("q_decontaminate")(spark, sfDir))

    section(
      "Balanced shard packing (q_shard_pack)",
      "One Exchange on (bucket, sub) — the size-class stream key — then an in-partition sort by md5(doc_id) and a row_number window; shard comes from integer phase arithmetic in the same Project. No global key, no SinglePartition funnel, no range partitioning: the window key space scales with subGroups, tuned to the cluster.",
      SparkEntry.queries("q_shard_pack")(spark, sfDir))

    section(
      "Token-budget sequence packing (q_seq_pack)",
      "One Exchange on the stream key; the prefix-sum window and the DIV/mod bin projection share its in-partition sort. Bin ids come from integer division of the running total — no second shuffle, no global key.",
      SparkEntry.queries("q_seq_pack")(spark, sfDir))

    section(
      "Token-budget mixture sampling (q_sample_budget)",
      "Budgets (one row per stratum) ride a BroadcastExchange; the corpus takes ONE Exchange on (stratum, md5-derived sub-stream) — key space scales with subStreams, so a mega-stratum never becomes a single-partition sort; the sub-stream is a hash, not id % n, so id-assignment schemes correlated with strata cannot starve one — then the prefix-sum window and a codegen'd share filter. Shares are BIGINT DIV with the remainder dealt to the low sub-streams, so they sum exactly to the budget.",
      SparkEntry.queries("q_sample_budget")(spark, sfDir))

    section(
      "Fractional-epoch up-sampling (q_sample_epochs)",
      "Epochs (one row per stratum, basis points) ride a BroadcastExchange; the repeat is a map-only Generate explode over a guarded sequence — the corpus never shuffles, each row fans out by its own small factor (no skew), and the output keeps the input's partitioning. The fractional extra copy uses its own md5 hex window (17-24), disjoint from rate sampling's (1-8), so up- and down-sampling compose independently.",
      SparkEntry.queries("q_sample_epochs")(spark, sfDir))

    section(
      "Per-domain quota cap (w_domain_cap)",
      "Exact two-phase top-k: the first Exchange partitions by (domain, id % subStreams) — key space scales with subStreams, so a mega-domain never funnels into one sort — and keeps k per sub-stream; the second ranks the <= subStreams*k survivors per domain. The one-phase DuckDB oracle hash-matches, proving the prefilter is semantics-free.",
      SparkEntry.queries("w_domain_cap")(spark, sfDir))

    section(
      "Per-stratum exact quartiles (t_len_quartiles)",
      "Spark's `percentile` is a TypedImperativeAggregate: the plan shows partial ObjectHashAggregate (map-side value histograms, memory bounded by DISTINCT lengths per stratum, not rows) before the stratum-key exchange, then the final interpolation. min/max/count ride the same aggregate.",
      SparkEntry.queries("t_len_quartiles")(spark, sfDir))

    section(
      "Gap-based sessionization (e_sessionize)",
      "ONE Exchange on the entity key feeds everything: the lag pass marking session starts, the running-sum pass assigning session ids, and the session rollup — Catalyst recognizes hashpartitioning(user_id) satisfies the (user_id, session_id) grouping, so no second shuffle. Timestamps travel as unix_micros longs (integer comparisons, engine-portable).",
      SparkEntry.queries("e_sessionize")(spark, "/root/testdata/sf0.01"))

    section(
      "Delta dedup of a crawl batch vs the committed index (d_delta_new)",
      "All dedup work runs on slim (doc_id, 32-hex fingerprint) rows: the batch collapses to its min-id survivor per fingerprint (map-side partial min), anti-joins the committed index on the constant-width key, and only the surviving ids pull payloads back through a semi-join — `source`/`n_chars` never ride a fingerprint-keyed exchange. At 10^12 rows the index and batch bucket by fingerprint and the anti-join is co-located.",
      SparkEntry.queries("d_delta_new")(spark, sfDir))

    section(
      "Outlink harvest → weighted domain edge list (w_link_graph)",
      "regexp harvest, explode, and both domain projections are map-side of the single (src, dst) exchange; partial_count collapses each input partition to at most |domain pairs touched| rows before any network. The corpus never shuffles.",
      SparkEntry.queries("w_link_graph")(spark, sfDir))

    section(
      "Integerized PageRank over the domain graph (w_domain_rank, ONE iteration shown)",
      "Each iteration is a join of slim (domain, rank_mass) rows against the (src, dst, weight, out_w) edge list — at test scale every rank join broadcasts; at 10^7 domains they hash-join on the domain key. The edge and node lists appear as `Scan ExistingRDD` leaves: they are stage-checkpointed ONCE (the TrainingExport pattern), so the corpus-wide harvest/explode/aggregate subtree runs once total instead of once per iteration per consumer (measured 6.4 s → 2.8 s warm at sf0.1). All arithmetic is BIGINT DIV, so the plan is deterministic at any parallelism. The gated query unrolls five identical rounds; one is dumped here.",
      graft.web.LinkGraph.domainRank(
        SparkEntry.queries("w_link_graph")(spark, sfDir), iters = 1))

    section(
      "As-of latest pick (e_latest_asof)",
      "Deliberately a hash aggregate over max(struct(ts_us, id, payload)), NOT a window rank: the plan shows a map-side partial aggregate collapsing each input partition to ≤ |entities| rows BEFORE the exchange, where the window formulation would shuffle and sort every event. The id in the struct makes equal-timestamp picks deterministic.",
      SparkEntry.queries("e_latest_asof")(spark, "/root/testdata/sf0.01"))

    section(
      "Line-level boilerplate removal (d_drop_freq_lines)",
      "The document-frequency catalog is built from slim (doc_id, line_md5) rows — two hash exchanges carry 24-byte pairs, never text. The thresholded + capped catalog collapses to ONE array row (the `collect_list` single-partition exchange is over ≤ maxCatalog hashes) and broadcast-cross-joins back; the cleanse itself is a map-only `filter()` over each document's split lines, preserving order. The corpus text column appears in no exchange anywhere in the plan.",
      SparkEntry.queries("d_drop_freq_lines")(spark, sfDir))

    section(
      "Anchor-text aggregation over raw page bytes (w_anchor_text)",
      "Sniff gate, payload decode, regexp harvest, href resolution: all map-side — the binary payload column never reaches an exchange. Only slim (target, page_url, anchor) rows enter the two-phase distinct aggregate (partial per-page dedup before the network). At 10^12 pages the exchange carries one row per distinct (target, page) pair, which is the output's own cardinality — no plan does better.",
      SparkEntry.queries("w_anchor_text")(spark, sfDir))

    section(
      "Corpus data card (q_corpus_card)",
      "One Expand feeds the three count-distincts (lang, source, 16-byte fingerprint) plus the plain totals through a single map-side-partial aggregate tree; the final single-partition exchange carries only partially-aggregated counters. The text column is consumed map-side (token count, length, fingerprint) and never shuffles.",
      SparkEntry.queries("q_corpus_card")(spark, sfDir))

    section(
      "BPE merge-pair statistics (t_bpe_pairs)",
      "The only corpus-sized exchange is the vocab aggregate, collapsed map-side to each partition's distinct pretokens (Zipf: ≪ occurrences). The pair explode + aggregate then run over the aggregated vocabulary — thousands of rows — and the deterministic top-K is a TakeOrderedAndProject (K rows to the driver, never a global sort). Learning a full merges table iterates this same plan with the chosen merge applied.",
      SparkEntry.queries("t_bpe_pairs")(spark, sfDir))

    section(
      "Unicode NFC normalization (t_nfc)",
      "Map-only: the native codegen'd `graft_nfc` expression sits inside the WholeStageCodegen span with the rest of the projection — no Exchange, no UDF object boundary. ASCII rows return the input UTF8String unchanged; already-normalized text pays only the Normalizer quick-check.",
      SparkEntry.queries("t_nfc")(spark, sfDir))

    section(
      "Meta-robots opt-out gate (w_robots_gate)",
      "Two codegen'd regexes per directive (name-first and content-first attribute orders) over the markup column, entirely map-side — the gate composes with the scan, so opted-out payloads are dropped before any downstream stage sees them.",
      SparkEntry.queries("w_robots_gate")(spark, sfDir))

    section(
      "Composed web-ingest chain (q_web_ingest)",
      "Robots gate, NFC normalization, and the line split compose into the same map-side pass (one WholeStageCodegen span over the scan on the cleanse branch); the only exchanges are the slim (id, line_md5) catalog aggregations, and the bounded catalog broadcast-cross-joins back for the order-preserving filter. The corpus text column enters no exchange anywhere.",
      SparkEntry.queries("q_web_ingest")(spark, sfDir))

    section(
      "As-of join (e_asof_join)",
      "The union+window formulation: both inputs tag and union, shuffle ONCE on the key, sort in-partition by (ts, side, payload) — right rows sort before left at equal ts, giving the inclusive ASOF convention — and `last(_r, ignoreNulls)` carries the latest right payload onto each left row. There is NO join operator in this plan: the naive `l.k = r.k AND r.ts <= l.ts` inequality join explodes to every (left, earlier-right) pair per key before pruning. Cost is one Exchange + one sort over |L|+|R| rows — the only shape that survives 10^12 events.",
      SparkEntry.queries("e_asof_join")(spark, "/root/testdata/sf0.01"))

    section(
      "Interval-overlap range join (e_range_join)",
      "Each interval explodes into its covering fixed-width time buckets and the join runs as a plain EQUI-join on `_bucket` — never the quadratic inequality BNLJ the naive `l.s <= r.e AND r.s <= l.e` formulation plans. The exact overlap predicate filters bucket-collisions, and the canonical-bucket filter (`_bucket = greatest(starts) DIV width`) keeps each overlapping pair exactly once with NO dedup shuffle. Shuffle keys are bucket longs; hot buckets are AQE-splittable.",
      SparkEntry.queries("e_range_join")(spark, "/root/testdata/sf0.01"))

    section(
      "BM25 keyword retrieval (t_bm25_topk)",
      "Inverted-index shape: the corpus explodes to tokens and the probe-term `isin` prune runs in the SAME map stage (Filter directly over the Generate), so only matched postings reach the (id, term) exchange. Per-term df (≤ |terms| rows) and the one-row (N, avgdl) corpus stats broadcast back; the fixed-point score is one codegen'd projection; the final top-k is TakeOrderedAndProject — k rows to the driver, never a global sort.",
      SparkEntry.queries("t_bm25_topk")(spark, sfDir))

    section(
      "Crawl-frontier scheduling (w_frontier)",
      "ONE exchange on the host key, shared by the window rank that assigns per-host fetch sequence and delay slots; worker pinning is a map-side hash over a disjoint md5 window. A mega-host sorts only within its own partition.",
      SparkEntry.queries("w_frontier")(spark, sfDir))

    section(
      "robots.txt gate (w_robots_txt)",
      "Robots bodies parse ONCE per host into a slim (host, rules) relation (typed map over the distinct-host frame); the url stream joins it by host and the RFC 9309 decision evaluates map-side with a per-task compiled-regex cache. Hosts without robots survive the left join (protocol default-allow).",
      SparkEntry.queries("w_robots_txt")(spark, sfDir))

    {
      val ipath = Files.createTempDirectory("graft-plandump-idx").toString
      graft.text.Retrieval.buildIndex(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", ipath, termBuckets = 16)
      section(
        "BM25 index probe (t_bm25_indexed)",
        "The write-once inverted index is partitioned on a term hash bucket; the probe's scan shows `PartitionFilters` on `term_bucket` — only the probe terms' directories are read, so per-query cost is the index lookup, not the corpus. The scoring tail is shared with the re-scan path and returns the identical result (same oracle).",
        graft.text.Retrieval.bm25FromIndex(spark, ipath, "doc_id",
          Seq("spark", "vector", "customer"), 25, termBuckets = 16))
    }

    section(
      "KMV distinct sketch (q_kmv_distinct)",
      "The custom TypedImperativeAggregate plans as ObjectHashAggregate with a map-side partial: each input partition reduces to one k-element buffer (k longs) per group before the shuffle. The exact countDistinct kept alongside for honesty is what pays the Expand — a sketch-only aggregate has none (PlanSpec asserts it).",
      SparkEntry.queries("q_kmv_distinct")(spark, sfDir))

    section(
      "Templated-page families (w_template_fp)",
      "The tag-skeleton harvest (`regexp_extract_all` + `array_join` + `md5`) is one map-side codegen'd projection over the markup — the payload column never shuffles. The single Exchange carries slim (32-hex fp, id, n_tags) rows into a map-side-partial group-by.",
      SparkEntry.queries("w_template_fp")(spark, sfDir))

    {
      val broot = Files.createTempDirectory("graft-plandump-bkt").toString
      graft.table.Bucketing.writeBucketed(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("n_chars")),
        "plandump_docs_bkt", s"$broot/docs", 8, "doc_id")
      graft.table.Bucketing.writeBucketed(
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("label")),
        "plandump_embs_bkt", s"$broot/embs", 8, "vec_id")
      section(
        "Pre-bucketed co-located join (q_bucket_join)",
        "Both scans report `Bucketed: true` and feed the SortMergeJoin directly — NO Exchange anywhere in the plan. This is the write-once / join-many shape for recurring 100-TB joins (pages × embeddings, pages × dedup verdicts): the shuffle is paid once at write time via `bucketBy`, and every later join consumes the bucketing as its required distribution. Bucket counts come from `Bucketing.bucketsFor` (power-of-two, ~512 MB/bucket) so both tables of a recurring join agree.",
        graft.table.Bucketing.cojoin(spark, "plandump_docs_bkt", "plandump_embs_bkt", "doc_id", "vec_id"))
    }

    section(
      "Quality tiering (tier assignment over a score column)",
      "The ONLY shuffles belong to the bounded score histogram (hash on the score, then the single-partition cumulative window and 1-row bounds agg); the corpus side meets the broadcast bounds in a BroadcastNestedLoopJoin and the tier CASE chain is a codegen'd projection — the corpus never sorts and never shuffles.",
      graft.sample.Tiering.assignTiers(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), length(col("text")).cast("long").as("s")), "s"))

    section(
      "Domain-keyed holdout split (q_split_holdout)",
      "Zero exchanges: the md5-bucket decision over the registered domain is one codegen'd Project over the pruned scan. A leakage-safe split costs literally nothing at any scale.",
      SparkEntry.queries("q_split_holdout")(spark, sfDir))

    section(
      "Canonical-url revision consolidation (w_url_revisions)",
      "One hash exchange of slim (canon_url, doc_id, fp) triples with map-side partial aggregation; the per-group distinct-version count is two-phase within the group key — never a global distinct — and text never shuffles (the fingerprint is computed in the scan projection).",
      SparkEntry.queries("w_url_revisions")(spark, sfDir))

    section(
      "ExactSubstr duplicated-span mining (d_substring_spans)",
      "Two hash exchanges, both of slim rows: (fp → partial struct-min) for the first-occurrence reduce, then only the DUPLICATED (id, pos) pairs cross the doc-keyed exchange into the per-document island window (partitioned by _id — never global). The gram text dies at the Generate: every projection past it carries (id, pos, fp) only. AQE broadcasts the first-occurrence table at this scale; at corpus scale the tag-back join becomes an fp-keyed SMJ of the same slim streams.",
      SparkEntry.queries("d_substring_spans")(spark, sfDir))

    section(
      "Naive-Bayes quality classifier (t_quality_nb)",
      "The <=B-row posterior table BROADCASTS and the corpus feature stream probes it map-side; the only corpus-sized exchange is the slim (id, count, partial-sum) aggregation. Documents never shuffle.",
      SparkEntry.queries("t_quality_nb")(spark, sfDir))

    section(
      "WARC shard assembly + parse round trip (q_warc_roundtrip)",
      "ONE shard-keyed exchange assembles per-shard .warc.gz blobs (full-record in-group sort for byte determinism); parsing and the md5 gate are map-only — no further exchange anywhere.",
      SparkEntry.queries("q_warc_roundtrip")(spark, sfDir))

    section(
      "Fixed-block slicing (q_block_pack)",
      "Identical budget to sequence packing: ONE stream-key exchange whose in-partition sort feeds the prefix-sum window; block ids are integer DIV/mod projections on top.",
      SparkEntry.queries("q_block_pack")(spark, sfDir))

    section(
      "Bottom-k quantile sketch (q_quantile_sample)",
      "ObjectHashAggregate with a map-side partial carrying k (hash, value) pairs per (partition, group); the quartile interpolation is a projection over the result array. No sort, no funnel, no Expand.",
      SparkEntry.queries("q_quantile_sample")(spark, sfDir))

    section(
      "Snapshot version diff (q_table_diff)",
      "Each side reduces to slim (key, md5-of-JSON fingerprint) rows map-side; the one key-keyed join classifies added/deleted/updated (AQE broadcasts the smaller side at this scale; at corpus scale it is the unavoidable key-keyed SMJ of two slim streams).",
      SparkEntry.queries("q_table_diff")(spark, sfDir))

    section(
      "Sitemap parse (w_sitemap)",
      "Map-only: one Generate (block explode) plus two regex projections; zero exchanges.",
      SparkEntry.queries("w_sitemap")(spark, sfDir))

    section(
      "Charset-routed payload decode (q_charset_decode)",
      "Map-only: latin-1 prescan, charset sniff, and the routed decode are one codegen'd projection over the scan; zero exchanges.",
      SparkEntry.queries("q_charset_decode")(spark, sfDir))

    section(
      "Composed crawl plan (q_crawl_plan)",
      "Sitemap discovery → robots gate → per-host Crawl-delay directives → politeness schedule: slim host relations broadcast or parse map-side; the host key carries the window; no all-pairs, no global funnel.",
      SparkEntry.queries("q_crawl_plan")(spark, sfDir))

    section(
      "Exact-phrase search, scan path (t_phrase)",
      "Term prune to the phrase vocabulary rides the posexplode map-side; matched postings vote for their occurrence start via the broadcast (slot, term) relation; the two exchanges carry slim (id, start) votes and per-doc counts. No distinct Expand — (id, start, slot) rows are unique by construction.",
      SparkEntry.queries("t_phrase")(spark, sfDir))

    section(
      "n-gram containment pairs (d_containment)",
      "Same scale budget as the Jaccard family: distinct shingles explode, ONE (group, shingle) equi-join generates only overlapping pairs, the ppm threshold prunes before the slim size joins. Document text never shuffles.",
      SparkEntry.queries("d_containment")(spark, sfDir))

    section(
      "robots.txt scheduling directives (w_robots_directives)",
      "Slim per-host relation: the only exchanges are the host distinct; body synthesis and directive parsing (typed map) run map-side; output is one row per host.",
      SparkEntry.queries("w_robots_directives")(spark, sfDir))

    section(
      "Stupid-backoff trigram LM (t_lm_backoff)",
      "All three pruned model tables (vocabulary-bounded under Zipf) broadcast; trigram positions probe them map-side in one pass; the only exchange is the slim per-document aggregate with map-side partials. Documents never shuffle.",
      SparkEntry.queries("t_lm_backoff")(spark, sfDir))

    section(
      "Mojibake round trip (t_mojibake)",
      "Map-only: corrupt → repair → md5 is one codegen'd projection of native expressions (graft_mojibake / graft_fix_mojibake); zero exchanges.",
      SparkEntry.queries("t_mojibake")(spark, sfDir))

    section(
      "SpaceSaving heavy hitters (q_heavy_domains)",
      "ObjectHashAggregate: each partition reduces to one ≤k-entry SpaceSaving summary map-side, the shuffle carries k entries per partition (never the key universe), and the top-10 cut is TakeOrderedAndProject over the exploded summary.",
      SparkEntry.queries("q_heavy_domains")(spark, sfDir))

    section(
      "Temperature-balanced sampling (q_sample_temperature)",
      "Two slim passes: a map-side-partial count of the stratum column (plus its 1-row rollup), then the per-stratum rates broadcast and the keep decision is a map-only md5-bucket filter — document rows never shuffle.",
      SparkEntry.queries("q_sample_temperature")(spark, sfDir))

    section(
      "Page-metadata extraction (w_meta_extract)",
      "Map-only: the whole title/description/og/canonical/charset extraction is one codegen'd regexp projection over the scan; zero exchanges.",
      SparkEntry.queries("w_meta_extract")(spark, sfDir))

    section(
      "CDX index over indexed archives (w_cdx_index)",
      "The index rides the archive assembly's ONE shard-keyed exchange (built in the same serialization pass as the blobs); flattening is a map-only Generate plus the SURT string projection — zero further exchanges.",
      SparkEntry.queries("w_cdx_index")(spark, sfDir))

    {
      // the fetch side of q_warc_fetch, isolated (the query localCheckpoints
      // its archive table, which hides the upstream plan anyway): picks
      // group per shard and BROADCAST; the archive table never shuffles.
      val rows30 = (0L until 30L).map(i =>
        (s"https://c${i % 3}.example.com/p$i", 1700000000000L + i,
          "text/plain", s"b$i".getBytes(UTF_8)))
      val archives = graft.warc.WarcShards.toArchivesIndexed(
        spark.createDataset(rows30).toDF("url", "ts_ms", "ct", "payload"),
        "url", "ts_ms", "ct", "payload", shards = 3, gzip = true).localCheckpoint()
      val picks = graft.warc.WarcShards.cdxIndex(archives)
        .where(col("ts_ms") % 7 === 0)
        .select(col("shard"), col("offset"), col("length"))
      section(
        "CDX point fetch through spans (q_warc_fetch kernel)",
        "Pick spans collapse to one array row per shard and broadcast under the archive table; each matched task slices only its picked (offset, length) spans out of the local blob (Warc.readRecordAt — ranged-GET semantics). The blob column never appears in a non-broadcast exchange.",
        graft.warc.WarcShards.fetchBySpans(archives.drop("idx"), picks))
      section(
        "CDX sorted layout (cdxSorted)",
        "Exactly ONE RangePartitioning exchange on (surt, ts_ms) plus an in-partition sort: the parquet files written from this layout carry disjoint surt ranges, so a point lookup or domain prefix scan prunes to one file.",
        graft.warc.WarcShards.cdxSorted(
          graft.warc.WarcShards.cdxIndex(archives), partitions = 4))
    }

    section(
      "Winnowing fingerprint selection (d_winnow_fp)",
      "Map-only: tokens → gram hashes materialized ONCE per row (the `SPARK_PARTITION_ID` barrier below blocks CollapseProject — HOF lambdas have no cross-element CSE, so an inlined gram array would be recomputed per window, O(len²) md5 calls), then window minima and one Generate. Zero exchanges.",
      SparkEntry.queries("d_winnow_fp")(spark, sfDir))

    section(
      "Cross-domain mirror detection (w_mirror_pairs)",
      "The fp self-equi-join runs only over fingerprints that survive the boilerplate cap (2 ≤ domains ≤ 10), so its fan-out is bounded; sizes and the containment gate are slim AQE-broadcast joins. Document text is reduced to (domain, fp) before anything shuffles.",
      SparkEntry.queries("w_mirror_pairs")(spark, sfDir))

    section(
      "Bitext margin mining, LSH scale path (s_bitext_mine_lsh)",
      "Candidates come from the multi-table (tbl, sig) bucket equi-join with BOTH corpus-sized sides shuffled on the bucket key — neither side broadcast, no nested loop. Embeddings ride only those two exchanges; the forward/backward kNN windows, neighborhood sums, and the exact-rational margin all shuffle slim (sid, tid, sq) triples.",
      SparkEntry.queries("s_bitext_mine_lsh")(spark, sfDir))

    section(
      "HITS hubs & authorities (w_hits)",
      "Each half-step is a slim (domain, score) join against the checkpointed edge list plus a 1-row broadcast renormalizer (crossJoin of the aggregated total). Payloads never move; the per-edge products are envelope-guarded driver-side.",
      SparkEntry.queries("w_hits")(spark, sfDir))

    section(
      "Product quantization ADC scan (s_pq_topk)",
      "Codebooks and per-query LUTs broadcast (BroadcastNestedLoopJoin); encoding reduces to slim (vid, s, cid) argmin aggregates; the ADC scan is map-only over the codes — the encoded corpus never sort-merges and never builds a hash table.",
      SparkEntry.queries("s_pq_topk")(spark, sfDir))

    section(
      "Cohort retention (e_retention)",
      "ONE exchange on the entity key feeds the first-seen window AND the per-entity (cohort, offset) dedup (group key superset of the partition key — no second exchange); only periods²-bounded cells reach the final aggregate and its cohort-size window.",
      SparkEntry.queries("e_retention")(spark, sfDir))

    section(
      "Domain-concentration Gini (w_domain_gini)",
      "Counts-of-counts closed form: two slim aggregates then ONE window over distinct count values (metadata-sized at any corpus scale); DECIMAL(38,0) arithmetic carries the 10^26-scale numerator. Documents and keys never globally sort.",
      SparkEntry.queries("w_domain_gini")(spark, sfDir))

    section(
      "Mirror families (w_mirror_families)",
      "Pair generation as w_mirror_pairs; the component fixpoint loops slim equi-joins over whole-domain pairs (checkpointed each round); family sizes are one more slim agg. Fingerprints never enter the loop.",
      SparkEntry.queries("w_mirror_families")(spark, sfDir))

    section(
      "Redirect resolution by pointer jumping (w_redirects)",
      "Each doubling round is one equi-join of the constant-size (src, cur, hops) relation with itself (checkpointed per round); the resolved/unresolved split is a left-anti + left-semi against the slim source set. 2^R hops in R joins — never a hop-per-round walk.",
      SparkEntry.queries("w_redirects")(spark, sfDir))

    section(
      "IVF-PQ composite probe, residual encoding (s_ivfpq_topk)",
      "Coarse centroids, PQ codebooks, and per-query LUTs all broadcast; residuals form in the one cell-label join of quantized vectors against broadcast centroids; the probe is a broadcast hash join on cell id over slim (vid, cell, codes) rows — embeddings appear only in the one-time assignment/encode stages, never in the probe. Codeword assignment is one native graft_pq_argmin call per (vector, subspace) against the flattened broadcast codebook — no n·m·ks join-explode, no post-join aggregate.",
      SparkEntry.queries("s_ivfpq_topk")(spark, sfDir))

    section(
      "IVF-PQ refine stage — ADC shortlist + exact rerank (s_ivfpq_rerank)",
      "The ADC shortlist (50 per query) is slim (qid, vid) rows; the refine stage fetches exactly those vectors by id (hash join against the corpus, query side broadcast) and re-ranks on the native graft_qdot — the faiss IndexRefineFlat read pattern. No cartesian anywhere in the composite.",
      SparkEntry.queries("s_ivfpq_rerank")(spark, sfDir))

    section(
      "Content-defined chunking (d_cdc_chunks)",
      "Map-only: the native graft_cdc_cuts expression rolls the O(n) hash inside the codegen stage; the chunk explode is row-local and only slim (id, idx, start, len, md5) rows leave. Zero exchanges before the sink.",
      SparkEntry.queries("d_cdc_chunks")(spark, sfDir))

    section(
      "SemDeDup cluster-scoped dedup (s_semdedup)",
      "The pair join is cell-keyed (local self-join per coarse cell, AQE-splittable); the survivor fixpoint loops slim label joins. The all-pairs scan this replaces appears nowhere in the plan.",
      SparkEntry.queries("s_semdedup")(spark, sfDir))

    Files.write(Paths.get("PLANS.md"), sb.toString.getBytes(UTF_8))
    println(s"wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
