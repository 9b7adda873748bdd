package graft.pipeline

import graft.Fixtures._
import graft.Gated
import graft.dedup.Decontaminate
import graft.dedup.DedupQueries.{lineCleanseCtes, lineCleanseSelect, multilineOf, multilineSql}
import graft.job.{ExtractJob, ExtractKernel}
import graft.pages.PagesGen
import graft.sniff.ContentSniffer
import graft.text.TextQueries.{denormSuffix, denormSuffixSql, langGuessSql, langMassesSql, lmTierCte, lmTiers,
  piiSqlExpr, piiText, qualityPredSql, redactSql, stopRe, tierName}
import graft.text.TextAnalytics
import graft.web.UrlOps
import graft.web.WebQueries.{robotsHtml, sitemapSqlExpr, sitemapXml}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Gated queries over the corpus pipeline (`q_`): sniff and status
  * profiles, WARC and streaming paths, snapshot tables, sampling, packing,
  * decontamination and corpus statistics.
  */
object PipelineQueries {

  /** Status/doctype profile of the synthesized pages corpus — the oracle
    * for BOTH the direct extraction path (`q_status_counts`) and the
    * WARC-framed one (`q_warc_extract`): byte-transparent framing means
    * the two paths must produce the identical profile.
    */
  private val statusCountsSql: String =
    """SELECT CASE WHEN doc_id % 53 = 0 OR doc_id % 41 = 0 THEN 'error' ELSE 'ok' END AS status,
      |       CASE WHEN doc_id % 53 = 0 THEN 'unknown'
      |            WHEN doc_id % 41 = 0 THEN 'pdf'
      |            WHEN doc_id % 3 = 0 THEN 'pdf'
      |            ELSE 'html' END AS doctype,
      |       count(*) AS n
      |FROM documents GROUP BY 1, 2""".stripMargin

  /** Benchmark/eval set for the decontamination queries: 28-token excerpts
    * of every 101st sufficiently long document (benchmarks quote web
    * text). Shared by `q_decontaminate` and `q_training_export`; the
    * oracle mirrors it as the `bw`/`bench` CTEs.
    */
  private def benchExcerpt(d: DataFrame): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    d.filter(col("doc_id") % 101 === 0 && size(toks) >= 33)
      .select(array_join(slice(toks, 6, 28), " ").as("bench_text"))
  }

  /** SQL twin of [[SeqPacker]]'s token streams: ends in
    * `s(doc_id, n_tokens, stream, cum)`, each doc's whitespace-token offset
    * within its `doc_id % 4` stream in md5 order. Shared by the packing and
    * block-slicing oracles. */
  private val streamOffsetsCte: String =
    s"""t AS (SELECT doc_id,
       |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tok) END AS BIGINT) AS n_tokens
       |FROM documents),
       |s AS (SELECT doc_id, n_tokens, CAST(doc_id % 4 AS BIGINT) AS stream,
       |  COALESCE(SUM(n_tokens) OVER (PARTITION BY doc_id % 4
       |    ORDER BY md5(CAST(doc_id AS VARCHAR))
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t)""".stripMargin

  val all: Seq[Gated] = Seq(
    Gated("q_sniff_route", (s, dir) => {
      import s.implicits._
      PagesGen.pages(s, dir, s.sparkContext.defaultParallelism)
        .map(r => ContentSniffer.sniff(r.html).name)
        .toDF("doctype").groupBy($"doctype").agg(count(lit(1)).as("n"))
    }, Some(
      """SELECT CASE WHEN doc_id % 53 = 0 THEN 'unknown'
        |            WHEN doc_id % 41 = 0 THEN 'pdf'
        |            WHEN doc_id % 3 = 0 THEN 'pdf'
        |            ELSE 'html' END AS doctype,
        |       count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin)),
    Gated("q_status_counts", (s, dir) => {
      import s.implicits._
      val res = ExtractJob.extractAll(
        PagesGen.pages(s, dir, s.sparkContext.defaultParallelism), ExtractKernel.DefaultRules, "verify")
      res.groupBy($"status", $"doctype").agg(count(lit(1)).as("n"))
    }, Some(statusCountsSql)),
    // the flagship path THROUGH the container: pages → per-shard .warc.gz
    // → parse → PageRow rebuild → the SAME extraction kernel. Grouped
    // statuses must equal the direct-path q_status_counts exactly — the
    // oracle is literally the same SQL — proving the WARC layer is
    // payload-transparent to extraction end to end.
    // the WARC-framed path must land on the identical status profile
    Gated("q_warc_extract", (s, dir) => {
      import s.implicits._
      val pages = PagesGen.pages(s, dir, s.sparkContext.defaultParallelism)
      val base = pages.select(col("url"),
        (unix_timestamp(col("warc_ts")) * 1000L).as("ts_ms"),
        lit("application/octet-stream").as("ct"), col("html").as("payload"))
      val archives = graft.warc.WarcShards.toArchives(
        base, "url", "ts_ms", "ct", "payload", shards = 8, gzip = true)
      val rebuilt = graft.warc.WarcShards.parse(archives, "warc")
        .select(col("url"), timestamp_millis(col("warc_ts_ms")).as("warc_ts"),
          col("payload").as("html"), lit("").as("text"), lit("").as("lang"))
        .as[graft.model.PageRow]
      ExtractJob.extractAll(rebuilt, ExtractKernel.DefaultRules, "verify-warc")
        .groupBy($"status", $"doctype").agg(count(lit(1)).as("n"))
    }, Some(statusCountsSql)),
    // X2 streaming surface, relationally gated: the SAME windowedMetrics
    // used by the streaming ingest, run over the batch Dataset (watermark
    // is a no-op in batch). Event times are deterministic (BaseEpochMs +
    // doc_id s), so the windowed counts are oracle-exact; payload_bytes is
    // omitted (synthesized binary is not derivable in SQL).
    // warc_ts = 1700000000 s + doc_id s (PagesGen.BaseEpochMs); Spark's
    // 10-minute tumbling windows align to the epoch → start = ts - ts%600
    Gated("q_stream_window", (s, dir) => {
      val pages = PagesGen.pages(s, dir, s.sparkContext.defaultParallelism)
      graft.streaming.StreamingExtract.windowedMetrics(pages)
        .select(unix_timestamp(col("window.start")).cast("long").as("window_start_s"),
          col("lang"), col("n_pages"))
    }, Some(
      """SELECT CAST((1700000000 + doc_id) - (1700000000 + doc_id) % 600 AS BIGINT) AS window_start_s,
        |       lang, count(*) AS n_pages
        |FROM documents GROUP BY 1, 2""".stripMargin)),
    // D6+ stateful streaming duplicate counter, gated in BATCH mode
    // (flatMapGroupsWithState runs one invocation per group there, the
    // cross-batch fold is spec-covered in StreamingExtractSpec): pages
    // synthesized straight from documents (html = utf-8 text bytes, ts =
    // the PagesGen epoch convention) so the oracle is a plain group-by.
    Gated("q_dup_counts", (s, dir) => {
      import s.implicits._
      val pages = docs(s, dir).select(
        concat(lit("doc://"), col("doc_id").cast("string")).as("url"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("warc_ts"),
        col("text").cast("binary").as("html"),
        col("text"),
        col("lang")).as[graft.model.PageRow]
      graft.streaming.StreamingExtract.duplicateCounts(pages).toDF()
    }, Some(
      """SELECT md5(text) AS content_fp,
        |       'doc://' || CAST(min(doc_id) AS VARCHAR) AS first_url,
        |       count(*) AS n_seen
        |FROM documents GROUP BY 1""".stripMargin)),
    // Write-once bucketed tables, join-many without shuffle: documents
    // and their embeddings bucketed by doc id, sort-merge joined with
    // zero Exchange (plan gated in BucketingSpec). The 100-TB recurring
    // join pattern — the result itself is an ordinary equi-join, which
    // is exactly the point: bucketing changes the plan, not the answer.
    Gated("q_bucket_join", (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-bucket").toString
      graft.table.Bucketing.writeBucketed(
        docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        "graft_docs_bkt", s"$root/docs", 8, "doc_id")
      graft.table.Bucketing.writeBucketed(
        embs(s, dir).select(col("vec_id"), col("label")),
        "graft_embs_bkt", s"$root/embs", 8, "vec_id")
      graft.table.Bucketing.cojoin(s, "graft_docs_bkt", "graft_embs_bkt", "doc_id", "vec_id")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("label").cast("long").as("label"))
    }, Some(
      """SELECT d.doc_id, d.lang, d.n_chars, CAST(e.label AS BIGINT) AS label
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""".stripMargin)),
    // S4+ snapshot-table upsert/takedown semantics, relationally gated:
    // crawl-1 appends every doc, crawl-2 re-crawls the %3 slice (equality
    // delete + append, latest wins), a takedown commit hides the %5 slice.
    // The oracle replays the same latest-wins/visibility rules in SQL.
    Gated("q_table_upsert", (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-upsert").toString
      val t = new graft.table.SnapshotTable(root)
      val d = docs(s, dir).select(col("doc_id"))
      t.append(d.withColumn("gen", lit(1L)), "crawl-1")
      t.upsert(d.where(col("doc_id") % 3 === 0).withColumn("gen", lit(2L)), "crawl-2", Seq("doc_id"))
      t.deleteKeys(d.where(col("doc_id") % 5 === 0), "takedown-1")
      t.read(s).get.select(col("doc_id"), col("gen"))
    }, Some(
      """SELECT doc_id,
        |  CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS gen
        |FROM documents WHERE doc_id % 5 <> 0""".stripMargin)),
    // SNAPSHOT DIFF (lineage audit between two pinned corpus versions):
    // v1 = crawl-1; then an upsert re-generates %3 keys and lands new
    // shifted %7 keys; a takedown deletes %5 keys. The diff v1 → latest
    // must classify exactly: added (shifted %7), deleted (%5), updated
    // (%3 survivors) — unchanged keys OMITTED (delta-sized output)
    // diff twin: replay the three commits' semantics directly — shifted
    // %7 keys are new, %5 keys vanish (even when also upserted), %3
    // survivors changed gen 1 → 2; everything else is unchanged and absent
    Gated("q_table_diff", (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-diff").toString
      val t = new graft.table.SnapshotTable(root)
      val d = docs(s, dir).select(col("doc_id"))
      t.append(d.withColumn("gen", lit(1L)), "crawl-1")
      val up = d.where(col("doc_id") % 3 === 0)
        .unionByName(d.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + lit(1000000L)).as("doc_id")))
        .withColumn("gen", lit(2L))
      t.upsert(up, "crawl-2", Seq("doc_id"))
      t.deleteKeys(d.where(col("doc_id") % 5 === 0), "takedown-1")
      t.diffVersions(s, 1, t.latest().get.version, Seq("doc_id"), Seq("gen"))
        .get.select(col("doc_id"), col("change"))
    }, Some(
      """SELECT doc_id + 1000000 AS doc_id, 'added' AS change
        |FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT doc_id, 'deleted' FROM documents WHERE doc_id % 5 = 0
        |UNION ALL
        |SELECT doc_id, 'updated' FROM documents
        |WHERE doc_id % 3 = 0 AND doc_id % 5 <> 0""".stripMargin)),
    // S4++ SCHEMA EVOLUTION: crawl-2 ships a quality column crawl-1
    // predates. The manifest records the merged schema, the read pins the
    // scan to it, pre-evolution rows surface quality = NULL — the oracle
    // replays both crawls as a UNION with an explicit NULL.
    Gated("q_table_evolve", (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-evolve").toString
      val t = new graft.table.SnapshotTable(root)
      val d = docs(s, dir)
      t.append(d.select(col("doc_id"), col("lang")), "crawl-1")
      t.append(d.where(col("doc_id") % 3 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"), col("lang"),
          (col("n_chars") % 100).cast("long").as("quality")), "crawl-2")
      t.read(s).get.select(col("doc_id"), col("lang"), col("quality"))
    }, Some(
      """SELECT doc_id, lang, CAST(NULL AS BIGINT) AS quality FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000, lang, CAST(n_chars % 100 AS BIGINT) AS quality
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin)),
    // S4+++ INCREMENTAL APPEND READ (resume primitive): three crawls land
    // with compactFanIn=2 so crawl-2's dir is immediately compacted OUT of
    // the manifest — the incremental scan must still surface exactly the
    // rows appended after v1, read from the per-commit dirs, under the
    // evolved schema (gen arrives with crawl-2). Deletes never apply: the
    // append stream is not a diff.
    Gated("q_table_appends", (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-appends").toString
      val t = new graft.table.SnapshotTable(root, compactFanIn = 2)
      val d = docs(s, dir)
      t.append(d.select(col("doc_id"), col("lang")), "crawl-1")
      t.append(d.where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), col("lang"), lit(2L).as("gen")), "crawl-2")
      t.append(d.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"), lit(3L).as("gen")), "crawl-3")
      t.readAppendsSince(s, 1).get.select(col("doc_id"), col("lang"), col("gen"))
    }, Some(
      """SELECT doc_id, lang, CAST(2 AS BIGINT) AS gen FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, lang, CAST(3 AS BIGINT) AS gen FROM documents WHERE doc_id % 5 = 0""".stripMargin)),
    // charset-routed payload decode (the WHATWG prescan trick): bytes are
    // sniffed via a lossless latin-1 view, the declared charset routes
    // the real decode. Four branches exercised: declared utf-8 with
    // multi-byte text, declared iso-8859-1 with latin-1 text, NO
    // declaration (utf-8 default), and an UNKNOWN charset (ascii body,
    // flagged known=false, latin-1 fallback). The md5 gate proves
    // encode → sniff → route → decode is byte-identity per branch.
    // charset twin: the oracle rebuilds the SAME html string and md5s it
    // directly — the Spark side must reach that md5 THROUGH bytes
    // (encode → prescan sniff → routed decode)
    Gated("q_charset_decode", (s, dir) => {
      val id = col("doc_id")
      val meta = when(id % 4 === 0, lit("<meta charset=\"UTF-8\">"))
        .when(id % 4 === 1,
          lit("<meta http-equiv=\"Content-Type\" content=\"text/html; charset=ISO-8859-1\">"))
        .when(id % 4 === 2, lit(""))
        .otherwise(lit("<meta charset=\"Shift_JIS\">"))
      val bodyTxt = when(id % 4 === 1, concat(col("text"), lit(" café résumé ±½")))
        .when(id % 4 === 3, col("text"))
        .otherwise(concat(col("text"), lit(" 中文 – fancy")))
      val html = concat(lit("<html><head>"), meta, lit("</head><body>"),
        bodyTxt, lit("</body></html>"))
      val payload = when(id % 4 === 1, encode(html, "ISO-8859-1"))
        .otherwise(encode(html, "UTF-8"))
      docs(s, dir).select(id,
          graft.html.CharsetDecode.sniffCharset(payload).as("charset"),
          graft.html.CharsetDecode.charsetKnown(payload).as("known"),
          md5(graft.html.CharsetDecode.decodeRouted(payload).cast("binary")).as("text_md5"),
          md5(html.cast("binary")).as("want_md5"))
    }, Some(
      """WITH h AS (SELECT doc_id,
        |  '<html><head>' ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '<meta charset="UTF-8">'
        |        WHEN doc_id % 4 = 1 THEN '<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1">'
        |        WHEN doc_id % 4 = 2 THEN ''
        |        ELSE '<meta charset="Shift_JIS">' END) ||
        |  '</head><body>' ||
        |  (CASE WHEN doc_id % 4 = 1 THEN text || ' café résumé ±½'
        |        WHEN doc_id % 4 = 3 THEN text
        |        ELSE text || ' 中文 – fancy' END) ||
        |  '</body></html>' AS html
        |FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN 'utf-8'
        |       WHEN doc_id % 4 = 1 THEN 'iso-8859-1'
        |       WHEN doc_id % 4 = 2 THEN ''
        |       ELSE 'shift_jis' END AS charset,
        |  (doc_id % 4 <> 3) AS known,
        |  md5(html) AS text_md5,
        |  md5(html) AS want_md5
        |FROM h""".stripMargin)),
    // composed web-ingest chain: robots opt-out gate → NFC normalization
    // → corpus line cleanse — the crawl-order composition of the three
    // gates (the line catalog is computed over the post-gate,
    // post-normalization corpus); everything up to the slim catalog
    // aggregates is ONE map-side pass
    // the composed web-ingest chain: robots opt-out gate → NFC
    // normalization → corpus line cleanse, in crawl order (the catalog is
    // computed over the POST-gate, POST-normalization corpus — exactly
    // what the Spark composition does)
    Gated("q_web_ingest", (s, dir) => {
      val gated = docs(s, dir)
        .withColumn("html", robotsHtml)
        .filter(!UrlOps.metaRobots(col("html"), "noindex"))
      val lined = gated.withColumn("text", multilineOf(concat(col("text"), denormSuffix)))
      val nfc = lined.withColumn("text", TextAnalytics.nfcNative(lined)(col("text")))
      graft.dedup.LineDedup.dropFrequentLines(nfc, "doc_id", "text", minDf = 30L)
    }, Some(
      s"""WITH keep AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
         |lt AS (SELECT doc_id,
         |  nfc_normalize(${multilineSql(s"text || $denormSuffixSql")}) AS t FROM keep),
         |$lineCleanseCtes
         |$lineCleanseSelect""".stripMargin)),
    // order-invariant corpus digest: XOR of 40-bit (id, fingerprint)
    // hashes — the reproducibility-manifest row that pins a training
    // run's exact input under any partitioning; one map-side-partial agg
    // digest twin: same (id, fingerprint) key, same 40-bit hash, XOR
    Gated("q_corpus_digest", (s, dir) =>
      graft.stats.CorpusStats.corpusDigest(docs(s, dir), "doc_id", "text"), Some(
      s"""WITH f AS (SELECT CAST(doc_id AS VARCHAR) || ':' || $fpSql AS key, $fpSql AS fp
         |  FROM documents),
         |h AS (SELECT ('0x' || substr(md5(key), 1, 10))::BIGINT AS hv, fp FROM f)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
         |  CAST(bit_xor(hv) AS BIGINT) AS digest40
         |FROM h""".stripMargin)),
    // tier mixture card: per-tier doc + token mass — the number a training
    // recipe consumes ("how many head tokens exist"); slim (id, tokens)
    // join against the tier assignment, documents still never shuffle
    // tier mixture card: docs + whitespace tokens per tier — the number a
    // training recipe actually consumes ("how many head tokens do I have")
    Gated("q_tier_mix", (s, dir) => {
      val d = docs(s, dir)
      val toks = d.select(col("doc_id"), TextAnalytics.tokenCount(col("text")).cast("long").as("n_tokens"))
      lmTiers(d)
        .join(toks, "doc_id")
        .groupBy(tierName.as("tier"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    }, Some(
      s"""WITH $lmTierCte,
        |tk AS (SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens FROM documents)
        |SELECT CASE WHEN sc.avg_ppm > bnd.b2 THEN 'head'
        |            WHEN sc.avg_ppm > bnd.b1 THEN 'middle' ELSE 'tail' END AS tier,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(tk.n_tokens) AS BIGINT) AS n_tokens
        |FROM sc JOIN tk USING (doc_id), bnd GROUP BY 1""".stripMargin)),
    // the tier-extraction recipe end-to-end (CCNet downstream): score ->
    // tier -> per-tier keep rates (head 100%, middle 50%, tail 10%) —
    // tiering's broadcast bounds compose with the sampler's broadcast
    // rates; the corpus still never shuffles after the score agg
    // tier-sample twin: the tier CASE composes with the stratified
    // sampler's md5-bucket window under per-tier rates
    Gated("q_tier_sample", (s, dir) => {
      import s.implicits._
      val tiers = lmTiers(docs(s, dir)).withColumn("tier", tierName)
      val rates = Seq(("head", 10000), ("middle", 5000), ("tail", 1000)).toDF("tier", "rate_bp")
      graft.sample.Sampler.sampleStratified(tiers, rates, "doc_id", Seq("tier"))
        .select(col("doc_id"), col("avg_ppm"), col("tier"))
    }, Some(
      s"""WITH $lmTierCte,
        |a AS (SELECT sc.doc_id, sc.avg_ppm,
        |  CASE WHEN sc.avg_ppm > bnd.b2 THEN 'head'
        |       WHEN sc.avg_ppm > bnd.b1 THEN 'middle' ELSE 'tail' END AS tier
        |FROM sc, bnd)
        |SELECT doc_id, avg_ppm, tier FROM a
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 <
        |  CASE tier WHEN 'head' THEN 10000 WHEN 'middle' THEN 5000 ELSE 1000 END""".stripMargin)),
    // leakage-safe holdout split keyed by REGISTERED DOMAIN (near-dups
    // and templated pages concentrate within a domain; an id-hash split
    // would leak train content into val through its near-copies) —
    // map-only md5-bucket decision, zero shuffle
    // domain-keyed holdout twin: same messy-url synthesis + canonical
    // host/domain extraction as the w_* oracles, same md5-bucket window
    // as the stratified sampler (chars 1-8 of md5 of the KEY)
    Gated("q_split_holdout", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), synthUrl.as("url"))
        .withColumn("domain", UrlOps.registeredDomain(UrlOps.host(col("url"))))
      graft.sample.Sampler.holdoutSplit(d, "domain", valBp = 1000)
        .select(col("doc_id"), col("domain"), col("split"))
    }, Some(
      s"""WITH $urlCte
         |SELECT doc_id, domain,
         |  CASE WHEN ('0x' || substr(md5(domain), 1, 8))::BIGINT % 10000 < 1000
         |       THEN 'val' ELSE 'train' END AS split
         |FROM p5""".stripMargin)),
    // deterministic stratified downsampling: md5-bucket filter under
    // broadcast per-(source,lang) rates — map-only over the corpus
    // temperature sampling (τ=2): expected keep per language ∝ √n_lang,
    // overall target 90% of the corpus — high enough that small strata
    // CAP at keep-everything (rate 10000), exercising the cap branch,
    // while the head language genuinely down-samples. All-BIGINT isqrt
    // math, replayed exactly by the oracle (float-sqrt + Newton fix).
    // temperature twin: the same integer pipeline — corrected isqrt,
    // T = (Σn · 9000) // 10000, k = (T·s) // S, rate = min(10000,
    // k·10000 // n) — then the shared md5 bucket decision
    Gated("q_sample_temperature", (s, dir) =>
      graft.sample.Sampler.sampleTemperature(
          docs(s, dir), "doc_id", "lang", targetBp = 9000)
        .select(col("doc_id"), col("lang"), col("rate_bp")), Some(
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
        |r0 AS (SELECT lang, n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s0 FROM c),
        |r1 AS (SELECT lang, n, CASE WHEN (s0 + 1) * (s0 + 1) <= n THEN s0 + 1 ELSE s0 END AS s1 FROM r0),
        |r AS (SELECT lang, n, CASE WHEN s1 * s1 > n THEN s1 - 1 ELSE s1 END AS s FROM r1),
        |t AS (SELECT SUM(s) AS tot, SUM(n) AS total FROM r),
        |rates AS (SELECT lang,
        |  CAST(LEAST(10000, (((((total * 9000) // 10000) * s) // tot) * 10000) // n) AS BIGINT) AS rate_bp
        |  FROM r, t)
        |SELECT d.doc_id, d.lang, rates.rate_bp
        |FROM documents d JOIN rates USING (lang)
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < rate_bp""".stripMargin)),
    Gated("q_sample_stratified", (s, dir) => {
      val d = docs(s, dir)
      val rates = d.select(col("source"), col("lang")).distinct()
        .withColumn("rate_bp", when(col("lang") === "en", lit(7000)).otherwise(lit(3000)))
      graft.sample.Sampler.sampleStratified(d, rates, "doc_id", Seq("source", "lang"))
        .select(col("doc_id"), col("source"), col("lang"),
          graft.sample.Sampler.bucket10k(col("doc_id")).cast("long").as("bucket_bp"))
    }, Some(
      """WITH rates AS (SELECT DISTINCT source, lang,
        |  CASE WHEN lang = 'en' THEN 7000 ELSE 3000 END AS rate_bp FROM documents)
        |SELECT d.doc_id, d.source, d.lang,
        |  ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 AS bucket_bp
        |FROM documents d JOIN rates r USING (source, lang)
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 10000 < r.rate_bp""".stripMargin)),
    // mixture construction: sample each source down to a TOKEN budget
    // (broadcast budgets; ONE (stratum, sub-stream) exchange — a
    // mega-stratum never funnels through one sort)
    Gated("q_sample_budget", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_tokens"))
      val budgets = d.select(col("source")).distinct()
        .withColumn("budget",
          when(length(col("source")) === 4, lit(601L)).otherwise(lit(350L)))
      graft.sample.Sampler.sampleToTokenBudget(d, budgets, "doc_id",
        "source", "n_tokens", subStreams = 4)
        .select(col("doc_id"), col("source"), col("n_tokens"))
    }, Some(
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tok) END AS BIGINT) AS n_tokens
         |FROM documents),
         |b AS (SELECT DISTINCT source,
         |  CAST(CASE WHEN length(source) = 4 THEN 601 ELSE 350 END AS BIGINT) AS budget FROM documents),
         |s AS (SELECT t.doc_id, t.source, t.n_tokens, b.budget,
         |  ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 9, 8))::BIGINT % 4 AS sub,
         |  COALESCE(SUM(t.n_tokens) OVER (
         |    PARTITION BY t.source, ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 9, 8))::BIGINT % 4
         |    ORDER BY md5(CAST(t.doc_id AS VARCHAR))
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |FROM t JOIN b USING (source))
         |SELECT doc_id, source, n_tokens FROM s
         |WHERE cum < budget // 4 + CASE WHEN sub < budget % 4 THEN 1 ELSE 0 END""".stripMargin)),
    // mixture construction, up direction: fractional-epoch repeats
    // (broadcast epochs; map-only explode — ZERO shuffle)
    Gated("q_sample_epochs", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"))
      val epochs = d.select(col("source")).distinct()
        .withColumn("epochs_bp",
          when(length(col("source")) === 4, lit(25000L)).otherwise(lit(5000L)))
      graft.sample.Sampler.upsampleByEpochs(d, epochs, "doc_id", "source")
        .select(col("doc_id"), col("source"), col("copy"))
    }, Some(
      """WITH b AS (SELECT DISTINCT source,
        |  CAST(CASE WHEN length(source) = 4 THEN 25000 ELSE 5000 END AS BIGINT) AS epochs_bp
        |FROM documents),
        |s AS (SELECT d.doc_id, d.source,
        |  b.epochs_bp // 10000 + CASE WHEN
        |    ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 17, 8))::BIGINT % 10000 < b.epochs_bp % 10000
        |  THEN 1 ELSE 0 END AS n_copies
        |FROM documents d JOIN b USING (source))
        |SELECT s.doc_id, s.source, u.copy
        |FROM s, LATERAL UNNEST(generate_series(0, CAST(s.n_copies - 1 AS BIGINT))) AS u(copy)""".stripMargin)),
    // DSIR-style importance weighting: hashed-bigram bucket models for the
    // en slice (target) vs the whole corpus (raw), per-doc fixed-point
    // likelihood-ratio score — broadcast <=512-row weight table, documents
    // never shuffle (only slim (id, partial sum) rows)
    Gated("q_sample_dsir", (s, dir) => {
      val d = docs(s, dir)
      graft.sample.Importance.importanceWeights(
        d, "doc_id", "text", d.where(col("lang") === "en"), "text",
        buckets = 512, n = 2)
    }, Some(
      """WITH w AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |g AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 8))::BIGINT % 512 AS bucket
        |  FROM (SELECT doc_id, lang, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM w)),
        |raw AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr FROM g GROUP BY 1),
        |tgt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ct FROM g WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT CAST((SELECT sum(cr) FROM raw) AS BIGINT) AS sr,
        |  CAST((SELECT coalesce(sum(ct), 0) FROM tgt) AS BIGINT) AS st),
        |wt AS (SELECT r.bucket,
        |  ((((coalesce(t.ct, 0) + 1) * 1000000) // (tot.st + 512)) * 1000000)
        |    // greatest(((r.cr + 1) * 1000000) // (tot.sr + 512), 1) AS w_ppm
        |  FROM raw r LEFT JOIN tgt t USING (bucket) CROSS JOIN tot),
        |s AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(wt.w_ppm) AS BIGINT) AS sum_w
        |  FROM g JOIN wt USING (bucket) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(s.sum_w, 0) AS BIGINT) AS sum_w,
        |  CAST(coalesce(s.sum_w, 0) // greatest(coalesce(s.n_grams, 0), 1) AS BIGINT) AS avg_w
        |FROM documents d LEFT JOIN s USING (doc_id)""".stripMargin)),
    // the composed "give me training data" call: quality gate + lang-ID +
    // language-scoped stopword gate + repetition gate in ONE codegen'd
    // filter pass, then exact dedup (min doc_id per content fingerprint).
    // One scan, one slim (fp, id) shuffle — the E2E cleaning pipeline
    Gated("q_clean_corpus", (s, dir) =>
      // filterClean keeps the composed gate COMPILED: project-with-CSE +
      // barrier + boolean filter (a bare .filter(isClean) blows janino's
      // 64 KB method limit and drops the stage to interpreted)
      TextAnalytics.filterClean(
          docs(s, dir).select(col("doc_id"), col("text")), "text")
        .groupBy(TextAnalytics.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")), Some(
      s"""WITH n AS (SELECT doc_id, text,
         |  ' ' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' ' AS p FROM documents),
         |m AS (SELECT doc_id, text, $langMassesSql FROM n),
         |l AS (SELECT doc_id, text,
         |  $langGuessSql AS lg FROM m),
         |q AS (SELECT doc_id, text, lg,
         |  CASE WHEN length(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk
         |FROM l),
         |f AS (SELECT doc_id, text FROM q WHERE
         |  (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(tk) END) >= 5
         |  AND (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 100 <= length(text) * 20
         |  AND (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) * 100 <= length(text) * 30
         |  AND length(text) <= (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(tk) END) * 20
         |  AND lg <> 'und'
         |  AND (lg <> 'en' OR len(regexp_extract_all(lower(text), '$stopRe')) >= 2)
         |  AND NOT ((len(tk) - len(list_distinct(tk))) * 100 > len(tk) * 75))
         |SELECT min(doc_id) AS doc_id FROM f
         |GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))""".stripMargin)),
    // the crawl-side chain composed end to end: sitemap DISCOVERY →
    // robots GATE (a $-anchored Disallow /sm2 on .com hosts) → per-host
    // Crawl-delay directives (.org hosts declare 3 s, the rest take the
    // 1 s default) → politeness SCHEDULE with per-host slot widths. Every
    // stage is an already-gated operator; this gate proves they compose.
    // crawl-plan twin: locs re-derived from the sitemap moduli, the
    // $-anchored .com /sm2 block and the .org 3 s delay applied by
    // predicate, then the same worker/order hash windows as w_frontier
    Gated("q_crawl_plan", (s, dir) => {
      val entries = graft.web.Sitemap.entries(
        docs(s, dir).select(col("doc_id"), sitemapXml.as("xml")), "doc_id", "xml")
        .select(col("loc").as("url")).distinct()
      val hosts = entries.select(UrlOps.host(col("url")).as("host")).distinct()
      val body = concat(
        lit("User-agent: graftbot\n"),
        when(col("host").endsWith(".com"), lit("Disallow: /sm2$\n")).otherwise(lit("")),
        when(col("host").endsWith(".org"), lit("Crawl-delay: 3\n")).otherwise(lit("")),
        lit("Disallow: /private\n"))
      val robots = hosts.withColumn("body", body)
      val gated = graft.web.RobotsTxt.gate(entries, "url", robots, "host", "body", "graftbot/1.0")
        .where(col("robots_allowed")).select(col("url"))
      val delays = graft.web.RobotsTxt.directivesFrame(robots, "host", "body", "graftbot/1.0")
      graft.web.Frontier.scheduleWithDelays(gated, "url", numWorkers = 8,
        delays, defaultDelayMs = 1000L)
    }, Some(
      s"""WITH x AS (SELECT doc_id, $sitemapSqlExpr AS xml FROM documents),
         |a AS (SELECT doc_id, regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1) AS bs FROM x),
         |e AS (SELECT bs[i] AS b
         |  FROM (SELECT bs, unnest(generate_series(1, len(bs))) AS i FROM a)),
         |u AS (SELECT DISTINCT regexp_extract(b, '<loc>([^<]*)</loc>', 1) AS url
         |  FROM e WHERE regexp_extract(b, '<loc>([^<]*)</loc>', 1) <> ''),
         |h AS (SELECT url, split_part(split_part(url, '://', 2), '/', 1) AS host FROM u),
         |g AS (SELECT url, host FROM h
         |  WHERE NOT (host LIKE '%.com' AND url LIKE '%/sm2')),
         |sch AS (SELECT url, host,
         |  ('0x' || substr(md5(host), 1, 8))::BIGINT % 8 AS worker,
         |  CAST(row_number() OVER (PARTITION BY host
         |    ORDER BY substr(md5(url), 9, 16), url) - 1 AS BIGINT) AS seq_in_host
         |FROM g)
         |SELECT host, url, CAST(worker AS BIGINT) AS worker, seq_in_host,
         |  seq_in_host * (CASE WHEN host LIKE '%.org' THEN 3000 ELSE 1000 END) AS fetch_offset_ms
         |FROM sch""".stripMargin)),
    // eval-set decontamination: benchmark = 28-token excerpts of every
    // 101st document (benchmarks quote web text); corpus docs sharing any
    // word-8-gram with an excerpt are flagged with their overlap count
    Gated("q_decontaminate", (s, dir) => {
      val d = docs(s, dir)
      Decontaminate.overlap(d, "doc_id", "text", benchExcerpt(d), "bench_text", 8)
    }, Some(
      s"""WITH w AS (SELECT doc_id, $tok AS ws FROM documents),
         |bw AS (SELECT doc_id, ws[6:33] AS ws FROM w WHERE doc_id % 101 = 0 AND len(ws) >= 33),
         |bench AS (SELECT DISTINCT md5(
         |  $gram8) AS gh
         |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM bw)),
         |corpus AS (SELECT DISTINCT doc_id, md5(
         |  $gram8) AS gh
         |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w))
         |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         |FROM corpus c JOIN bench b USING (gh) GROUP BY 1""".stripMargin)),
    // span-localized variant: WHERE the eval overlap sits in each doc —
    // the input to surgical excision instead of whole-doc removal
    // span twin: positions ride the gram stream (no distinct — within-doc
    // repeats are separate hits), same envelope arithmetic
    Gated("q_decontaminate_spans", (s, dir) => {
      val d = docs(s, dir)
      Decontaminate.overlapSpans(d, "doc_id", "text", benchExcerpt(d), "bench_text", 8)
    }, Some(
      s"""WITH w AS (SELECT doc_id, $tok AS ws FROM documents),
         |bw AS (SELECT doc_id, ws[6:33] AS ws FROM w WHERE doc_id % 101 = 0 AND len(ws) >= 33),
         |bench AS (SELECT DISTINCT md5(
         |  $gram8) AS gh
         |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM bw)),
         |corpus AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, md5(
         |  $gram8) AS gh
         |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w))
         |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         |  min(pos) AS first_gram, max(pos) AS last_gram,
         |  max(pos) - min(pos) + 8 AS span_tokens
         |FROM corpus c JOIN bench b USING (gh) GROUP BY 1""".stripMargin)),
    // the composed E2E export: clean gates → exact dedup → decontaminate
    // → redact → chunk, over the PII-augmented corpus so every stage has
    // real work to do (see pipeline/TrainingExport for the shuffle budget)
    Gated("q_training_export", (s, dir) => {
      // the PII synthesis is staged: unstaged, every downstream text
      // reference (the clean gate alone reads it ~30 ways) re-inlines the
      // concat/CASE chains and the first pipeline stage blows janino's
      // 64 KB limit (PlanSpec's fallback-off gate catches it); the
      // checkpoint also computes the fixture once for both consumers
      val d = docs(s, dir).select(col("doc_id"), piiText.as("text"))
        .localCheckpoint(false)
      TrainingExport.export(d, "doc_id", "text", benchExcerpt(d), "bench_text")
    }, Some(
      s"""WITH d0 AS (SELECT doc_id, $piiSqlExpr AS text
         |FROM documents),
         |n AS (SELECT doc_id, text, ' ' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' ' AS p FROM d0),
         |m AS (SELECT doc_id, text, $langMassesSql FROM n),
         |l AS (SELECT doc_id, text,
         |  $langGuessSql AS lg FROM m),
         |q AS (SELECT doc_id, text, lg,
         |  CASE WHEN length(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\\s+') END AS tk FROM l),
         |f AS (SELECT doc_id, text FROM q WHERE
         |  $qualityPredSql
         |  AND lg <> 'und'
         |  AND (lg <> 'en' OR len(regexp_extract_all(lower(text), '$stopRe')) >= 2)
         |  AND NOT ((len(tk) - len(list_distinct(tk))) * 100 > len(tk) * 75)),
         |keep AS (SELECT min(doc_id) AS doc_id FROM f
         |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))),
         |fk AS (SELECT f.doc_id, f.text FROM f JOIN keep USING (doc_id)),
         |w2 AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM d0),
         |bw AS (SELECT ws[6:33] AS ws FROM w2 WHERE doc_id % 101 = 0 AND len(ws) >= 33),
         |bench AS (SELECT DISTINCT md5(
         |  $gram8) AS gh
         |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM bw)),
         |cg AS (SELECT DISTINCT doc_id, md5(
         |  $gram8) AS gh
         |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i
         |        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM fk))),
         |bad AS (SELECT DISTINCT c.doc_id FROM cg c JOIN bench b USING (gh)),
         |fd AS (SELECT fk.doc_id, fk.text FROM fk LEFT JOIN bad ON fk.doc_id = bad.doc_id WHERE bad.doc_id IS NULL),
         |red AS (SELECT doc_id, ${redactSql("text")} AS rtext FROM fd),
         |t AS (SELECT doc_id, regexp_split_to_array(trim(rtext), '\\s+') AS tk FROM red WHERE length(trim(rtext)) > 0),
         |nn AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t),
         |cc AS (SELECT doc_id, tk, n, CASE WHEN n <= 16 THEN 1 ELSE 1 + (n - 16 + 11) // 12 END AS nc FROM nn),
         |e AS (SELECT doc_id, tk, n, unnest(generate_series(0, nc - 1)) AS i FROM cc)
         |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         |  CAST(least(16, n - i*12) AS BIGINT) AS n_chunk_tokens,
         |  array_to_string(tk[i*12 + 1 : i*12 + 16], ' ') AS chunk_text
         |FROM e""".stripMargin)),
    // deterministic balanced shard packing (trainer feed): size-bucket
    // round-robin; windows partition by (bucket, sub) so no key funnels
    // the corpus — see pipeline/Sharder for the balance bound
    Gated("q_shard_pack", (s, dir) => {
      val weighted = docs(s, dir).select(col("doc_id"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_tokens"))
      Sharder.assignShards(weighted, "doc_id", "n_tokens",
        numShards = 8, bucketWidth = 64, subGroups = 4)
    }, Some(
      s"""WITH t AS (SELECT doc_id,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tok) END AS BIGINT) AS n_tokens
         |FROM documents),
         |b AS (SELECT doc_id, n_tokens,
         |  CAST(floor(n_tokens / 64.0) AS BIGINT) AS bucket, doc_id % 4 AS sub FROM t),
         |r AS (SELECT doc_id, n_tokens, bucket,
         |  (bucket * 31 + sub) % 8 AS phase,
         |  row_number() OVER (PARTITION BY bucket, sub
         |                     ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn FROM b)
         |SELECT doc_id, n_tokens, bucket, CAST((rn - 1 + phase) % 8 AS BIGINT) AS shard FROM r""".stripMargin)),
    // seeded epoch shuffle: the reproducible global training-order
    // permutation (same seed → byte-identical order; new seed → fresh
    // epoch permutation) — one shard-key Exchange + in-partition sort,
    // never a global range sort
    Gated("q_epoch_shuffle", (s, dir) =>
      Sharder.epochOrder(
        docs(s, dir).select(col("doc_id")), "doc_id", seed = 7L, numShards = 8)
        .select(col("doc_id"), col("shard"), col("pos")), Some(
      """WITH k AS (SELECT doc_id, md5('7:' || CAST(doc_id AS VARCHAR)) AS okey FROM documents),
        |s AS (SELECT doc_id, okey,
        |  CAST(('0x' || substr(okey, 1, 8))::BIGINT % 8 AS BIGINT) AS shard FROM k)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id) - 1 AS BIGINT) AS pos
        |FROM s""".stripMargin)),
    // curriculum schedule: LM-scored quality tiers consumed best-first,
    // seeded reproducible order within each (tier, shard) — the
    // curriculum-learning feed; one (tier, shard) exchange
    // epoch-shuffle twin: same seeded md5 order key, same leading-32-bit
    // shard window, same dense within-shard row_number
    // curriculum twin: the tier chain (integer tier index), then the
    // epoch-shuffle md5 key with positions within (tier, shard)
    Gated("q_curriculum", (s, dir) => {
      val tiers = lmTiers(docs(s, dir))
        .select(col("doc_id"), col("tier"))
      Sharder.curriculumOrder(tiers, "doc_id", "tier",
          seed = 7L, numShards = 8)
        .select(col("doc_id"), col("tier").cast("long").as("tier"),
          col("shard"), col("pos"))
    }, Some(
      s"""WITH $lmTierCte,
         |ctier AS (SELECT sc.doc_id,
         |  CAST((CASE WHEN sc.avg_ppm > bnd.b1 THEN 1 ELSE 0 END) +
         |       (CASE WHEN sc.avg_ppm > bnd.b2 THEN 1 ELSE 0 END) AS BIGINT) AS tier
         |  FROM sc, bnd),
         |ckey AS (SELECT doc_id, tier, md5('7:' || CAST(doc_id AS VARCHAR)) AS okey FROM ctier),
         |csh AS (SELECT doc_id, tier, okey,
         |  CAST(('0x' || substr(okey, 1, 8))::BIGINT % 8 AS BIGINT) AS shard FROM ckey)
         |SELECT doc_id, tier, shard,
         |  CAST(row_number() OVER (PARTITION BY tier, shard ORDER BY okey, doc_id) - 1 AS BIGINT) AS pos
         |FROM csh""".stripMargin)),
    // token-budget sequence packing (trainer feed): ONE stream-key
    // Exchange, prefix-sum + offset windows share its sort, bins from
    // integer DIV — docs never split, bins within one doc of capacity
    Gated("q_seq_pack", (s, dir) => {
      val weighted = docs(s, dir).select(col("doc_id"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_tokens"))
      SeqPacker.packSequences(weighted, "doc_id", "n_tokens",
        capacity = 256L, streams = 4)
    }, Some(
      s"""WITH $streamOffsetsCte
         |SELECT doc_id, n_tokens, stream,
         |  CAST(cum // 256 AS BIGINT) AS seq_no,
         |  CAST(cum % 256 AS BIGINT) AS seq_offset FROM s""".stripMargin)),
    // GPT-style fixed-block slicing (group_texts): exact 256-token blocks
    // per stream, documents split across block boundaries — same single
    // stream-key exchange + prefix-sum window as q_seq_pack, different
    // trainer-feed contract (zero padding vs whole-doc bins)
    // block-slicing twin: same stream/prefix-sum CTE, block ids from the
    // inclusive token span [cum, cum + n_tokens - 1]; zero-weight docs
    // occupy no block
    Gated("q_block_pack", (s, dir) => {
      val weighted = docs(s, dir).select(col("doc_id"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_tokens"))
      SeqPacker.sliceBlocks(weighted, "doc_id", "n_tokens",
        blockTokens = 256L, streams = 4)
    }, Some(
      s"""WITH $streamOffsetsCte
         |SELECT doc_id, n_tokens, stream, CAST(cum AS BIGINT) AS start_off,
         |  CAST(cum // 256 AS BIGINT) AS block_first,
         |  CAST(CASE WHEN n_tokens > 0 THEN (cum + n_tokens - 1) // 256
         |            ELSE cum // 256 END AS BIGINT) AS block_last,
         |  CAST(CASE WHEN n_tokens > 0
         |            THEN (cum + n_tokens - 1) // 256 - cum // 256 + 1
         |            ELSE 0 END AS BIGINT) AS n_blocks
         |FROM s""".stripMargin)),
    // one-row corpus data card: exact doc/token/char totals plus
    // language/source/distinct-text cardinalities in a single map-side-
    // partial aggregate (distinct keys are slim: lang, source, 32-hex md5)
    Gated("q_corpus_card", (s, dir) =>
      graft.stats.CorpusStats.corpusCard(docs(s, dir), "text", "lang", "source"), Some(
      s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tok) END) AS BIGINT) AS n_tokens,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |  CAST(count(DISTINCT $fpSql) AS BIGINT) AS n_distinct_texts
         |FROM documents""".stripMargin)),
    // point lookup through the snapshot table's manifest stats + bloom
    // sidecars: three url-keyed commits, then readPoint — range pruning,
    // bloom rejection, and the row-level equality all end-to-end; the
    // oracle replays the lookup as plain SQL over the same synthesis
    // (sf0.1's colliding urls make multi-row hits real)
    // point-lookup twin: the equality select the table serves through
    // manifest range stats + bloom sidecars
    Gated("q_table_point", (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-pt").toString
      val t = new graft.table.SnapshotTable(s"$root/t", statsCol = Some("url"))
      val d = docs(s, dir).select(col("doc_id"), synthUrl.as("url"), col("n_chars"))
      (0 until 3).foreach(i => t.append(d.filter(col("doc_id") % 3 === i), s"c$i"))
      val probe = d.filter(col("doc_id") === 7).select(col("url")).collect()(0).getString(0)
      t.readPoint(s, probe).get
    }, Some(
      s"""WITH $urlCte
         |SELECT doc_id, url, n_chars FROM u JOIN documents USING (doc_id)
         |WHERE url = (SELECT url FROM u WHERE doc_id = 7)""".stripMargin)),
    // incrementally-maintained aggregate view: three crawls append to a
    // snapshot table, the view refreshes after each by reading ONLY the
    // delta (readAppendsSince) and upserting merged (count, sum) per
    // group — end state must equal the full group-by (the oracle);
    // the delta-only/idempotence properties are IncrementalViewSpec-gated
    // incremental-view twin: the end state of delta-merge maintenance
    // must equal one full group-by over everything ever appended
    Gated("q_incr_view", (s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft-iview").toString
      val src = new graft.table.SnapshotTable(s"$root/src")
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
      val view = new graft.table.IncrementalView(s"$root/src", s"$root/view", "source", "n_chars")
      (0 until 3).foreach { i =>
        src.append(d.filter(col("doc_id") % 3 === i), s"crawl-$i")
        view.refresh(s)
      }
      view.read(s).get
    }, Some(
      """SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_value
        |FROM documents GROUP BY 1""".stripMargin)),
    // Morton/z-order interleave (the 2-D clustering key behind
    // ZOrder.clusterByZ): pure shift/mask integer arithmetic, map-only;
    // the locality/skipping claim itself is quantified in ZOrderSpec
    // Morton twin: the bit interleave unrolled as a 10-term shift/mask sum
    Gated("q_zorder", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        (col("doc_id") % 1024).as("za"), ((col("doc_id") * 37) % 1024).as("zb"))
      d.select(col("doc_id"), col("za"), col("zb"),
        graft.table.ZOrder.zValue(col("za"), col("zb"), 10).as("zval"))
    }, Some {
      val terms = (0 until 10).map(i =>
        s"(((za >> $i) & 1) * ${1L << (2 * i)} + ((zb >> $i) & 1) * ${1L << (2 * i + 1)})")
        .mkString(" + ")
      s"""WITH t AS (SELECT doc_id, doc_id % 1024 AS za, (doc_id * 37) % 1024 AS zb
         |  FROM documents)
         |SELECT doc_id, CAST(za AS BIGINT) AS za, CAST(zb AS BIGINT) AS zb,
         |  CAST($terms AS BIGINT) AS zval FROM t""".stripMargin
    }),
    // KMV distinct sketch (custom TypedImperativeAggregate, k=16 minima
    // of a portable 40-bit md5 hash): per-source distinct-text estimate
    // with the exact count alongside — O(k) state per group vs exact
    // distinct's expand + second shuffle; ~25 distinct per source at any
    // sf, so the ESTIMATOR regime (not the exact-under-k fallback) is
    // what the oracle replays
    // KMV twin: the k-min set replayed via DISTINCT + row_number rank;
    // same integer estimator ((k-1) * 2^40) // kth
    Gated("q_kmv_distinct", (s, dir) =>
      graft.stats.CorpusStats.distinctSketch(docs(s, dir), "source", "text", k = 16), Some(
      """WITH h AS (SELECT source, text,
        |  ('0x' || substr(md5(text), 1, 10))::BIGINT AS hv FROM documents),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_exact FROM h GROUP BY 1),
        |d AS (SELECT DISTINCT source, hv FROM h),
        |r AS (SELECT source, hv, row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM d),
        |kk AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |  CAST(max(hv) AS BIGINT) AS kth_min FROM r WHERE rn <= 16 GROUP BY 1)
        |SELECT g.source, g.n_rows, g.n_distinct_exact, kk.n_kept, kk.kth_min,
        |  CAST(CASE WHEN kk.n_kept < 16 THEN kk.n_kept
        |       ELSE (15 * 1099511627776) // greatest(kth_min, 1) END AS BIGINT) AS est_distinct
        |FROM g JOIN kk USING (source)""".stripMargin)),
    // SpaceSaving heavy hitters over the registered-domain space: k=64 ≥
    // the 39 distinct domains, so the summary is provably EXACT (err 0,
    // merge-order-invariant) and the oracle replays it as a plain
    // count(*). One ObjectHashAggregate with map-side ≤k-entry partials;
    // the ESTIMATOR regime (k < distinct, where only the guarantee
    // count−err ≤ true ≤ count holds) is spec-gated in CorpusOpsSpec.
    // heavy-hitter twin: in the exact regime the SpaceSaving summary IS
    // the group-by count (err 0), same (cnt desc, domain) top-10 cut
    Gated("q_heavy_domains", (s, dir) => {
      val d = docs(s, dir).select(
        UrlOps.registeredDomain(UrlOps.host(synthUrl)).as("domain"))
      graft.stats.CorpusStats.heavyHitters(d, Seq.empty, "domain", lit(1L), k = 64)
        .select(explode(col("hh")).as("e"))
        .select(col("e.key").as("domain"), col("e.count").as("cnt"),
          col("e.err").as("err"))
        .orderBy(col("cnt").desc, col("domain")).limit(10)
    }, Some(
      s"""WITH $urlCte
         |SELECT domain, CAST(count(*) AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS err
         |FROM p5 GROUP BY 1 ORDER BY cnt DESC, domain LIMIT 10""".stripMargin)),
    // per-source length quartiles from the bottom-k-by-hash SAMPLE sketch
    // (the bounded-state twin of t_len_quartiles; k=16 < group sizes, so
    // the ESTIMATOR regime is what the oracle replays here — the exact
    // regime is spec-gated)
    // quantile-sketch twin: bottom-16 by (id-hash, value) via row_number,
    // then the same ×4 quarter-fraction interpolation over the sorted
    // sample list
    Gated("q_quantile_sample", (s, dir) =>
      graft.stats.CorpusStats.quantileSketch(
        docs(s, dir), "source", "doc_id", "n_chars", k = 16), Some {
      def qx4(p: Int): String =
        s"4 * s[((ns - 1) * $p) // 4 + 1] + " +
          s"(s[((ns - 1) * $p) // 4 + (CASE WHEN ((ns - 1) * $p) % 4 > 0 THEN 2 ELSE 1 END)] - " +
          s"s[((ns - 1) * $p) // 4 + 1]) * (((ns - 1) * $p) % 4)"
      s"""WITH h AS (SELECT source, CAST(n_chars AS BIGINT) AS v,
         |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT AS hk FROM documents),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows FROM h GROUP BY 1),
         |d AS (SELECT DISTINCT source, hk, v FROM h),
         |r AS (SELECT source, v, row_number() OVER (PARTITION BY source ORDER BY hk, v) AS rn FROM d),
         |a AS (SELECT source, list(v ORDER BY v) AS s, CAST(count(*) AS BIGINT) AS ns
         |  FROM r WHERE rn <= 16 GROUP BY 1)
         |SELECT g.source, g.n_rows, a.ns AS n_sample,
         |  CAST(s[1] AS BIGINT) AS s_min,
         |  CAST(${qx4(1)} AS BIGINT) AS p25_x4,
         |  CAST(${qx4(2)} AS BIGINT) AS p50_x4,
         |  CAST(${qx4(3)} AS BIGINT) AS p75_x4,
         |  CAST(s[ns] AS BIGINT) AS s_max
         |FROM g JOIN a USING (source)""".stripMargin
    }),
    // WARC container round trip: documents framed into per-shard
    // .warc.gz archives (one gzip member per record, ISO 28500 framing)
    // and exploded back — url, timestamp, content-type, and every payload
    // byte (md5-gated) must survive the container. ONE shard-keyed
    // exchange to assemble; parse is map-only.
    // WARC round-trip twin: what goes into the container must come out —
    // the oracle recomputes every gated field from the source rows
    // directly (md5 of the UTF-8 payload, byte length, synthesized url
    // and epoch), so any framing bug surfaces as a value mismatch
    Gated("q_warc_roundtrip", (s, dir) => {
      val base = docs(s, dir).select(
        concat(lit("doc://"), col("doc_id").cast("string")).as("url"),
        (lit(1700000000000L) + col("doc_id") * 1000L).as("ts_ms"),
        lit("text/plain").as("ct"),
        col("text").cast("binary").as("payload"))
      val archives = graft.warc.WarcShards.toArchives(
        base, "url", "ts_ms", "ct", "payload", shards = 8, gzip = true)
      graft.warc.WarcShards.parse(archives, "warc")
        .select(col("url"), col("warc_ts_ms"), col("content_type"),
          col("content_length"), md5(col("payload")).as("payload_md5"))
    }, Some(
      """SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
        |  CAST(1700000000000 + doc_id * 1000 AS BIGINT) AS warc_ts_ms,
        |  'text/plain' AS content_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        |  md5(text) AS payload_md5
        |FROM documents""".stripMargin)),
    // CDX point fetch: probe rows (digest first hex in 0–3, ~1/4 of the
    // corpus) are answered by slicing ONLY their (offset, length) spans
    // out of the archive blobs — Warc.readRecordAt parses one gzip member
    // per pick, the ranged-GET read path of a 100 TB archive store. The
    // archive table is localCheckpoint'd once (it is a committed table in
    // production, read by both the indexer and the fetcher); picks
    // broadcast, archives never shuffle. The oracle selects the same
    // subset straight from documents: url, timestamp, and payload md5
    // must survive assembly → index → random access.
    // CDX point-fetch twin: the same digest-prefix subset selected
    // straight from documents; the Spark side must reproduce it through
    // assembly -> index -> per-span random access
    Gated("q_warc_fetch", (s, dir) => {
      val archives = indexedArchives(s, dir).localCheckpoint()
      val picks = graft.warc.WarcShards.cdxIndex(archives)
        .where(substring(col("digest"), 1, 1).isin("0", "1", "2", "3"))
        .select(col("shard"), col("offset"), col("length"))
      graft.warc.WarcShards.fetchBySpans(archives.drop("idx"), picks)
        .select(col("url"), col("warc_ts_ms"),
          md5(col("payload")).as("payload_md5"))
    }, Some(
      s"""WITH $urlCte
         |SELECT url,
         |  CAST(1700000000000 + doc_id * 1000 AS BIGINT) AS warc_ts_ms,
         |  md5(text) AS payload_md5
         |FROM p5 WHERE substr(md5(text), 1, 1) IN ('0', '1', '2', '3')""".stripMargin))
  )
}
