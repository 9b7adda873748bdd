package graft.dedup

import graft.Fixtures._
import graft.Gated
import graft.text.TextAnalytics
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Gated queries over the dedup operators (`d_`): exact, line, passage,
  * substring, CDC and near-duplicate (MinHash, SimHash) dedup.
  */
object DedupQueries {

  /** Document text with deterministic duplicate planting for the
    * incremental-dedup query (mirrored in the oracle SQL): `% 7 == 0` docs
    * collapse to one shared boilerplate (present in BOTH the committed
    * index and the new batch), batch-only `% 3 == 0` docs collapse to a
    * second (present only within the batch).
    */
  private def deltaText: Column = {
    val id = col("doc_id")
    when(id % 7 === 0, lit("Subscribe to our newsletter. (c) 2024 Synth Crawl Portal."))
      .when(id % 10 >= 8 && id % 3 === 0, lit("Flash sale! Everything must go."))
      .otherwise(col("text"))
  }

  /** 14-token syndicated passages for the substring-dedup operators
    * (mirrored in the oracle SQL): passage A rides every doc_id % 5 == 0
    * document and REPEATS WITHIN the doc_id % 11 == 0 ones (the self-copy
    * case of first-occurrence-wins); passage B rides doc_id % 7 == 0. The
    * duplicated content is thus a SUBSTRING of otherwise-distinct
    * documents — exactly what line/document dedup cannot remove.
    */
  private val substrPassageA =
    "the quick brown fox jumps over the lazy dog near the quiet river bank"

  private val substrPassageB =
    "breaking news wire copy syndicated across portals and mirrors every single day verbatim"

  private def substrText: Column = {
    val id = col("doc_id")
    concat(col("text"),
      when(id % 5 === 0, lit(" " + substrPassageA)).otherwise(lit("")),
      when(id % 11 === 0, lit(" " + substrPassageA)).otherwise(lit("")),
      when(id % 7 === 0, lit(" " + substrPassageB)).otherwise(lit("")))
  }

  /** SQL twin of [[substrText]]. */
  private val substrSqlExpr: String =
    s"text || (CASE WHEN doc_id % 5 = 0 THEN ' $substrPassageA' ELSE '' END)" +
      s" || (CASE WHEN doc_id % 11 = 0 THEN ' $substrPassageA' ELSE '' END)" +
      s" || (CASE WHEN doc_id % 7 = 0 THEN ' $substrPassageB' ELSE '' END)"

  /** Newline-structured document synthesis for the frequent-line dedup
    * query (mirrored in the oracle SQL): a per-doc unique title or a
    * shared nav line, the unique prose body, and two optional shared
    * footer lines — the corpus-recurring lines are exactly what the
    * CCNet-style cleanse must drop while the body survives verbatim.
    */
  private[graft] def multilineOf(body: Column): Column = {
    val id = col("doc_id")
    concat_ws("\n",
      when(id % 5 === 0, lit("NAV: home news about contact"))
        .otherwise(concat(lit("Title "), id.cast("string"))),
      body,
      when(id % 4 === 0, lit("Subscribe to our newsletter!")),
      when(id % 2 === 0, lit("(c) 2024 Synth Crawl Portal - all rights reserved.")))
  }

  /** SQL twin of [[multilineOf]], parametrized by the body expression. */
  private[graft] def multilineSql(bodyExpr: String): String =
    s"""concat_ws(chr(10),
       |    CASE WHEN doc_id % 5 = 0 THEN 'NAV: home news about contact'
       |         ELSE 'Title ' || CAST(doc_id AS VARCHAR) END,
       |    $bodyExpr,
       |    CASE WHEN doc_id % 4 = 0 THEN 'Subscribe to our newsletter!' END,
       |    CASE WHEN doc_id % 2 = 0 THEN '(c) 2024 Synth Crawl Portal - all rights reserved.' END)""".stripMargin

  private[graft] def multilineText: Column = multilineOf(col("text"))

  /** SQL twin of [[LineDedup]]'s catalog + cleanse over a CTE
    * `lt(doc_id, t)`: document-frequency line catalog (threshold 30,
    * deterministic cap), then the order-preserving list_filter cleanse.
    * Shared by `d_drop_freq_lines` and `q_web_ingest`.
    */
  private[graft] val lineCleanseCtes: String =
    """lx AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line FROM lt),
      |d AS (SELECT DISTINCT doc_id, md5(line) AS h FROM lx),
      |cat AS (SELECT h FROM d GROUP BY h HAVING count(*) >= 30
      |        ORDER BY count(*) DESC, h LIMIT 100000),
      |arr AS (SELECT coalesce(list(h), CAST([] AS VARCHAR[])) AS boiler FROM cat)""".stripMargin

  private[graft] val lineCleanseSelect: String =
    """SELECT doc_id,
      |  CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
      |  CAST(len(list_filter(string_split(t, chr(10)),
      |    x -> NOT list_contains(boiler, md5(x)))) AS BIGINT) AS n_kept,
      |  array_to_string(list_filter(string_split(t, chr(10)),
      |    x -> NOT list_contains(boiler, md5(x))), chr(10)) AS clean_text
      |FROM lt CROSS JOIN arr""".stripMargin

  /** Shared CTE chain for the CDC oracles: per-character code points,
    * rolling-hash cut positions (w=16, divisor=64, the gated config),
    * chunk bounds with the end sentinel, exploded (doc, chunk) rows
    * `cdcf(doc_id, gi, st, en, cs)` — the SQL twin of
    * [[graft.functions.CdcCuts]] + [[CdcDedup.chunks]].
    */
  private def cdcChunkCteFor(p: String, textExpr: String): String =
    s"""${p}c AS (SELECT doc_id, $textExpr AS text FROM documents WHERE length($textExpr) > 0),
       |${p}c2 AS (SELECT doc_id, text, list_transform(string_split(text, ''), x -> CAST(unicode(x) AS BIGINT)) AS cs FROM ${p}c),
       |${p}h AS (SELECT doc_id, text, cs, len(cs) AS n,
       |  list_filter(generate_series(16, len(cs)), i ->
       |    list_reduce(cs[i-15:i], (h, x) -> (h * 257 + x) % 1000000007) % 64 = 0) AS cuts FROM ${p}c2),
       |${p}b AS (SELECT doc_id, text, n,
       |  list_concat(list_concat([CAST(0 AS BIGINT)], cuts),
       |    CASE WHEN len(cuts) = 0 OR cuts[-1] <> n THEN [n] ELSE [] END) AS bounds FROM ${p}h),
       |${p}e AS (SELECT doc_id, text, bounds, unnest(generate_series(1, len(bounds) - 1)) AS gi FROM ${p}b),
       |${p}f AS (SELECT doc_id, text, gi, bounds[gi] AS st, bounds[gi + 1] AS en FROM ${p}e)""".stripMargin

  private val cdcChunkCte = cdcChunkCteFor("cdc", "text")

  /** Shared CTE: word-3-gram shingles per doc (1-indexed, space-joined) —
    * the SQL twin of [[Dedup.shingles]].
    */
  private val shingleCte =
    s"""w AS (SELECT doc_id, source, $tok AS ws FROM documents),
       |sh AS (SELECT doc_id, source,
       |  unnest(list_transform(generate_series(1, len(ws) - 2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
       |FROM w)""".stripMargin

  private val minhashSelect =
    (0 until 8).map(h => s"min(md5('$h:' || s)) AS mh$h").mkString(", ")

  /** Shared CTE chain: MinHash bands → candidate pairs → exact shingle
    * Jaccard per candidate (`jac(id1, id2, inter, uni)`) — the SQL twin of
    * `lshCandidatePairs` → `jaccardForPairs`; used by the `d_lsh_jaccard`
    * and `d_drop_neardup` oracles.
    */
  private lazy val lshJaccardChain =
    s"""$shingleCte,
       |sig AS (SELECT doc_id, $minhashSelect FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS bv FROM sig UNION ALL
       |  SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig UNION ALL
       |  SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig UNION ALL
       |  SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |         FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |ds AS (SELECT DISTINCT doc_id, s FROM sh),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY 1),
       |ints AS (SELECT c.id1, c.id2, count(*) AS i
       |         FROM cand c JOIN ds a ON a.doc_id = c.id1 JOIN ds b ON b.doc_id = c.id2 AND a.s = b.s
       |         GROUP BY 1, 2),
       |jac AS (SELECT c.id1, c.id2, CAST(coalesce(i.i, 0) AS BIGINT) AS inter,
       |               CAST(sa.sz + sb.sz - coalesce(i.i, 0) AS BIGINT) AS uni
       |        FROM cand c JOIN sizes sa ON c.id1 = sa.doc_id JOIN sizes sb ON c.id2 = sb.doc_id
       |        LEFT JOIN ints i ON c.id1 = i.id1 AND c.id2 = i.id2)""".stripMargin

  /** Shared winnowing CTE chain (k=5, w=4): ends in `m(doc_id, pos, fp)`
    * with one row per window — the SQL twin of `Winnow.winnowFingerprints`
    * before its distinct.
    */
  private val winnowFpSql: String =
    """WITH t AS (SELECT doc_id,
      |  regexp_split_to_array(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |FROM documents),
      |g AS (SELECT doc_id, CASE WHEN len(toks) >= 5 THEN
      |    list_transform(generate_series(0, len(toks) - 5), i ->
      |      ('0x' || substr(md5(array_to_string(toks[i+1:i+5], ' ')), 1, 10))::BIGINT)
      |  ELSE [] END AS grams FROM t),
      |w AS (SELECT doc_id, grams, len(grams) AS ng FROM g),
      |wd AS (SELECT doc_id, grams, unnest(generate_series(0, ng - 4)) AS i FROM w WHERE ng >= 4),
      |win AS (SELECT doc_id, i, grams[i+1:i+4] AS wn FROM wd),
      |m AS (SELECT doc_id, i,
      |  list_min(wn) AS fp,
      |  i + (5 - list_position(list_reverse(wn), list_min(wn))) - 1 AS pos FROM win)""".stripMargin

  /** SQL twin of [[SubstringDedup]]'s duplicated 8-grams over
    * [[substrText]]: ends in `dp(doc_id, pos)`, every 8-gram start but the
    * first occurrence of its fingerprint (by doc_id, pos), and keeps
    * `w(doc_id, ws)`, the tokens. Shared by the span and removal oracles. */
  private val dupGramsCte: String =
    s"""WITH st AS (SELECT doc_id, $substrSqlExpr AS text FROM documents),
       |w AS (SELECT doc_id, $tok AS ws FROM st),
       |g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, md5($gram8) AS fp
       |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w)),
       |f AS (SELECT fp, doc_id AS fd, pos AS fpos FROM (
       |  SELECT fp, doc_id, pos,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM g)
       |  WHERE rn = 1),
       |dp AS (SELECT g.doc_id, g.pos FROM g JOIN f USING (fp)
       |  WHERE NOT (g.doc_id = f.fd AND g.pos = f.fpos))""".stripMargin

  val all: Seq[Gated] = Seq(
    // passage-level boilerplate mass: word-8-grams shared by ≥ 2 distinct
    // documents (cookie banners / footers document-level dedup misses);
    // one explode into slim (id, md5) rows, df agg, join-back, doc agg
    Gated("d_freq_grams", (s, dir) =>
      Dedup.frequentGramStats(docs(s, dir), "doc_id", "text", 8, 2, 50), Some(
      s"""WITH w AS (SELECT doc_id, $tok AS ws FROM documents),
         |g AS (SELECT DISTINCT doc_id, md5(
         |  $gram8) AS gh
         |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i FROM w)),
         |fr AS (SELECT gh FROM g GROUP BY gh HAVING count(*) >= 2),
         |fd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frequent FROM g JOIN fr USING (gh) GROUP BY 1),
         |ng AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1)
         |SELECT ng.doc_id, ng.n_grams,
         |  CAST(coalesce(fd.n_frequent, 0) AS BIGINT) AS n_frequent,
         |  (coalesce(fd.n_frequent, 0) * 100 > ng.n_grams * 50) AS is_boilerplate
         |FROM ng LEFT JOIN fd ON ng.doc_id = fd.doc_id""".stripMargin)),
    // winnowing (MOSS) fingerprint selection: ~2/(w+1) of the gram
    // stream, with the shared-passage guarantee — map-only nested HOFs,
    // one explode to slim (id, pos, fp) rows
    // winnowing twins: same token normalization, same 40-bit md5-window
    // gram hash, same rightmost-min selection via the reversed slice
    Gated("d_winnow_fp", (s, dir) =>
      Winnow.winnowFingerprints(docs(s, dir), "doc_id", "text", k = 5, w = 4),
      Some((winnowFpSql + """
        |SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos, fp FROM m""".stripMargin))),
    // the pairing consumer: docs sharing ≥ 3 selected fingerprints —
    // the copy-localization join at the winnowed row budget. The
    // corpus-wide gram-hash SELECTION pass runs ONCE and persists as the
    // slim (id, pos, fp) relation (the BM25 scan/index twin pattern):
    // pairing then joins the stored selection — join cost only, no
    // second full-corpus md5 pass. Same oracle as the inline form.
    Gated("d_winnow_pairs", (s, dir) => {
      val path = java.nio.file.Files.createTempDirectory("graft-winnow-fp").toString
      Winnow.winnowFingerprints(docs(s, dir), "doc_id", "text", k = 5, w = 4)
        .write.mode("overwrite").parquet(path)
      Winnow.sharedPassagePairs(
        s.read.parquet(path), "doc_id", minShared = 3L, maxFpDocs = 50)
    }, Some((winnowFpSql + """,
        |fps AS (SELECT DISTINCT doc_id AS id, fp FROM m),
        |ok AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) >= 2 AND count(*) <= 50),
        |sl AS (SELECT id, fp FROM fps JOIN ok USING (fp))
        |SELECT a.id AS id1, b.id AS id2, CAST(count(*) AS BIGINT) AS shared
        |FROM sl a JOIN sl b ON a.fp = b.fp AND a.id < b.id
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin))),
    // CCNet-style line-level boilerplate removal: slim (id, line_md5)
    // document-frequency catalog (bounded, broadcast as ONE array row),
    // then a map-only order-preserving cleanse — corpus text never
    // shuffles. Input lines synthesized by [[multilineText]].
    // document-frequency catalog (distinct docs per line hash, threshold,
    // deterministic cap) then an order-preserving list_filter cleanse —
    // the SQL twin of LineDedup's broadcast-catalog map-only design
    Gated("d_drop_freq_lines", (s, dir) =>
      LineDedup.dropFrequentLines(
        docs(s, dir).withColumn("text", multilineText), "doc_id", "text", minDf = 30L), Some(
      s"""WITH lt AS (SELECT doc_id, ${multilineSql("text")} AS t
         |  FROM documents),
         |$lineCleanseCtes
         |$lineCleanseSelect""".stripMargin)),
    // cross-document paragraph dedup, first occurrence wins (RefinedWeb
    // rule): slim (fp, id, pos) reduce, per-doc drop arrays, map-only
    // positional cleanse — the exact complement of the frequency-
    // threshold catalog above
    // paragraph-dedup twin: row_number over (doc_id, pos) picks the same
    // first occurrence as Spark's lexicographic struct-min; 0-based
    // positions; string_agg ORDER BY pos rebuilds the kept text
    Gated("d_drop_dup_paras", (s, dir) =>
      LineDedup.dropDupParagraphs(
        docs(s, dir).withColumn("text", multilineText), "doc_id", "text"), Some(
      s"""WITH lt AS (SELECT doc_id, ${multilineSql("text")} AS t
         |  FROM documents),
         |w AS (SELECT doc_id, string_split(t, chr(10)) AS ps FROM lt),
         |px AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ps[i] AS para
         |  FROM (SELECT doc_id, ps, unnest(generate_series(1, len(ps))) AS i FROM w)),
         |o AS (SELECT doc_id, pos, md5(para) AS fp FROM px),
         |f AS (SELECT fp, doc_id AS fd, pos AS fpos FROM (
         |  SELECT fp, doc_id, pos,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn FROM o)
         |  WHERE rn = 1),
         |dr AS (SELECT o.doc_id, o.pos FROM o JOIN f USING (fp)
         |  WHERE NOT (o.doc_id = f.fd AND o.pos = f.fpos)),
         |k AS (SELECT px.doc_id, px.pos, px.para FROM px
         |  LEFT JOIN dr ON px.doc_id = dr.doc_id AND px.pos = dr.pos
         |  WHERE dr.pos IS NULL),
         |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |  string_agg(para, chr(10) ORDER BY pos) AS clean_text FROM k GROUP BY 1)
         |SELECT w.doc_id,
         |  CAST(len(w.ps) AS BIGINT) AS n_paras,
         |  CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(c.clean_text, '') AS clean_text
         |FROM w LEFT JOIN c USING (doc_id)""".stripMargin)),
    // exact duplicated-substring spans (Lee et al. 2021 ExactSubstr rule,
    // first occurrence wins): slim (fp, id, pos) 8-gram reduce, ONE
    // fp-keyed exchange, gaps-and-islands merge over only the DUPLICATED
    // positions. Input enriched by [[substrText]] so cross-doc AND
    // within-doc duplicated passages both fire.
    // ExactSubstr twin: row_number over (doc_id, pos) picks the same first
    // occurrence as Spark's struct-min; islands via pos - row_number;
    // spans close at max(pos) + k - 1 with k = 8
    Gated("d_substring_spans", (s, dir) =>
      SubstringDedup.duplicatedSpans(
        docs(s, dir).withColumn("text", substrText), "doc_id", "text", k = 8), Some(
      s"""$dupGramsCte,
         |isl AS (SELECT doc_id, pos,
         |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM dp)
         |SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
         |  max(pos) + 7 - min(pos) + 1 AS span_tokens,
         |  CAST(count(*) AS BIGINT) AS n_dup_grams
         |FROM isl GROUP BY doc_id, grp""".stripMargin)),
    // in-place span removal: per-doc bounded span arrays LEFT-join the
    // corpus (doc-keyed, AQE-broadcast when small), map-only positional
    // token filter — document text moves at most once
    // span-removal twin: covered token positions unnest from the
    // duplicated starts (pos .. pos + 7), kept tokens re-agg in order
    Gated("d_drop_substrings", (s, dir) =>
      SubstringDedup.dropDuplicatedSpans(
        docs(s, dir).withColumn("text", substrText), "doc_id", "text", k = 8), Some(
      s"""$dupGramsCte,
         |cov AS (SELECT DISTINCT doc_id, CAST(j AS BIGINT) AS tp
         |  FROM (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS j FROM dp)),
         |px AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS tp, ws[i] AS tokn
         |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM w)),
         |k AS (SELECT px.doc_id, px.tp, px.tokn FROM px LEFT JOIN cov
         |  ON px.doc_id = cov.doc_id AND px.tp = cov.tp WHERE cov.tp IS NULL),
         |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |  string_agg(tokn, ' ' ORDER BY tp) AS clean_text FROM k GROUP BY 1)
         |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
         |  coalesce(c.clean_text, '') AS clean_text
         |FROM w LEFT JOIN c USING (doc_id)""".stripMargin)),
    Gated("d_exact_groups", (s, dir) =>
      Dedup.exactGroups(docs(s, dir), "doc_id", "text"),
      Some("SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dup_count FROM documents GROUP BY 1")),
    // asymmetric containment (quote detection): every %5==0 document
    // gains a synthetic QUOTE twin (its first 12 tokens, id +100000) in
    // the same %250 family — containment must flag quote⊂original at
    // ~10^6 ppm where Jaccard stays small; unrelated same-family pairs
    // exercise the sub-threshold prune
    // containment twin: same shingle explode over the original ∪ quote
    // union, Broder containment inter/min(sz) in ppm, threshold at 50%
    Gated("d_containment", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val quotes = d.where(col("doc_id") % 5 === 0).select(
        (col("doc_id") + 100000L).as("doc_id"),
        array_join(slice(split(trim(col("text")), "\\s+"), 1, 12), " ").as("text"))
      val all = d.union(quotes).withColumn("fam", pmod(col("doc_id"), lit(250L)))
      Dedup.containmentWithinGroups(all, "doc_id", "text", "fam",
        n = 3, minPpm = 500000L)
    }, Some(
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |qq AS (SELECT doc_id + 100000 AS doc_id,
         |  array_to_string((CASE WHEN length(trim(text)) = 0 THEN []
         |    ELSE regexp_split_to_array(trim(text), '\\s+') END)[1:12], ' ') AS text
         |  FROM base WHERE doc_id % 5 = 0),
         |a AS (SELECT * FROM base UNION ALL SELECT * FROM qq),
         |w AS (SELECT doc_id, doc_id % 250 AS fam,
         |  CASE WHEN length(trim(text)) = 0 THEN []
         |       ELSE regexp_split_to_array(trim(text), '\\s+') END AS ws FROM a),
         |sh0 AS (SELECT doc_id, fam,
         |  unnest(list_transform(generate_series(1, len(ws) - 2),
         |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s FROM w),
         |sh AS (SELECT DISTINCT doc_id, fam, s FROM sh0),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |pairs AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS inter
         |          FROM sh x JOIN sh y ON x.fam = y.fam AND x.s = y.s AND x.doc_id < y.doc_id
         |          GROUP BY 1, 2)
         |SELECT id1, id2, CAST(inter AS BIGINT) AS inter,
         |  CAST(sa.sz AS BIGINT) AS sz1, CAST(sb.sz AS BIGINT) AS sz2,
         |  CAST((inter * 1000000) // least(sa.sz, sb.sz) AS BIGINT) AS cont_ppm
         |FROM pairs JOIN sizes sa ON id1 = sa.doc_id JOIN sizes sb ON id2 = sb.doc_id
         |WHERE (inter * 1000000) // least(sa.sz, sb.sz) >= 500000""".stripMargin)),
    // incremental (delta) dedup: the new-crawl batch (doc_id % 10 ∈ {8,9})
    // against the fingerprint index of the committed corpus (% 10 < 8) —
    // the at-scale shape where the corpus is never re-deduplicated, only
    // the delta anti-joins a slim key index. Deterministic duplicate texts
    // (mirrored in the oracle) make BOTH drop arms fire: % 7 == 0 docs
    // share one boilerplate across index and batch (seen-in-index drop);
    // batch-only % 3 == 0 docs share another (within-batch keep-min drop).
    Gated("d_delta_new", (s, dir) => {
      val d = docs(s, dir).withColumn("text", deltaText)
      val index = d.filter(col("doc_id") % 10 < 8)
        .select(TextAnalytics.fingerprint(col("text")).as("fp"))
      Dedup.dropSeenDocuments(
          d.filter(col("doc_id") % 10 >= 8), "doc_id",
          TextAnalytics.fingerprint(col("text")), index, "fp")
        .select(col("doc_id"), col("source"), col("n_chars"))
    }, Some(
      s"""WITH dt AS (SELECT doc_id, source, n_chars,
         |  CASE WHEN doc_id % 7 = 0 THEN 'Subscribe to our newsletter. (c) 2024 Synth Crawl Portal.'
         |       WHEN doc_id % 10 >= 8 AND doc_id % 3 = 0 THEN 'Flash sale! Everything must go.'
         |       ELSE text END AS text FROM documents),
         |f AS (SELECT doc_id, source, n_chars, $fpSql AS fp FROM dt),
         |idx AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 < 8),
         |b AS (SELECT * FROM f WHERE doc_id % 10 >= 8),
         |fst AS (SELECT fp, min(doc_id) AS doc_id FROM b GROUP BY 1)
         |SELECT b.doc_id, b.source, b.n_chars FROM b
         |JOIN fst ON b.doc_id = fst.doc_id
         |WHERE NOT EXISTS (SELECT 1 FROM idx WHERE idx.fp = b.fp)""".stripMargin)),
    Gated("d_minhash_sig", (s, dir) =>
      Dedup.minhashSignatures(docs(s, dir), "doc_id", "text", 8)
        .withColumnRenamed("id", "doc_id"), Some(
      s"""WITH $shingleCte
         |SELECT doc_id, $minhashSelect FROM sh GROUP BY doc_id""".stripMargin)),
    // content-defined chunking: native O(n) rolling-hash cuts
    // (graft_cdc_cuts), row-local explode — the insertion-robust passage
    // partition; only slim (id, idx, start, len, md5) rows leave the stage
    // CDC twin: per-character code points, the same polynomial rolling
    // hash replayed per window via list_reduce (fold seeded by the first
    // element == fold from 0), same sentinel bound, md5 per slice
    Gated("d_cdc_chunks", (s, dir) =>
      CdcDedup.chunks(docs(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id"), Some(
      s"""WITH $cdcChunkCte
         |SELECT doc_id, CAST(gi - 1 AS BIGINT) AS chunk_idx,
         |  CAST(st + 1 AS BIGINT) AS start_cp, CAST(en - st AS BIGINT) AS len_cp,
         |  md5(substring(text, CAST(st + 1 AS INTEGER), CAST(en - st AS INTEGER))) AS chunk_md5
         |FROM cdcf""".stripMargin)),
    // chunks shared across documents: one chunk-hash aggregate — the
    // cross-crawl shared-passage catalog fixed-offset dedup misses
    Gated("d_cdc_shared", (s, dir) =>
      CdcDedup.sharedChunks(
        CdcDedup.chunks(docs(s, dir), "doc_id", "text")), Some(
      s"""WITH $cdcChunkCte,
         |ch AS (SELECT doc_id, md5(substring(text, CAST(st + 1 AS INTEGER), CAST(en - st AS INTEGER))) AS chunk_md5 FROM cdcf)
         |SELECT chunk_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_occurrences
         |FROM ch GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2""".stripMargin)),
    // cross-version chunk delta: the delta-encoding ratio between two
    // crawls — %3 docs get a PREFIX edit, the case CDC keeps near-full
    // reuse on where fixed-offset chunking reports ~0
    // delta twin: both versions' chunk chains, per-doc v1 hash set via
    // DISTINCT, left-join null marks the new chunks
    Gated("d_cdc_delta", (s, dir) => {
      val d = docs(s, dir)
      val v2 = d.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(lit("UPDATE "), col("text")))
          .otherwise(col("text")).as("text"))
      CdcDedup.versionDelta(
          d.select(col("doc_id"), col("text")), v2, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
    }, Some(
      s"""WITH ${cdcChunkCteFor("xa", "text")},
         |${cdcChunkCteFor("xb", "CASE WHEN doc_id % 3 = 0 THEN 'UPDATE ' || text ELSE text END")},
         |o AS (SELECT DISTINCT doc_id,
         |  md5(substring(text, CAST(st + 1 AS INTEGER), CAST(en - st AS INTEGER))) AS h FROM xaf),
         |nw AS (SELECT doc_id,
         |  md5(substring(text, CAST(st + 1 AS INTEGER), CAST(en - st AS INTEGER))) AS h,
         |  en - st AS l FROM xbf),
         |j AS (SELECT nw.doc_id, nw.l, (o.h IS NULL) AS isnew
         |      FROM nw LEFT JOIN o ON o.doc_id = nw.doc_id AND o.h = nw.h)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(count(*) FILTER (WHERE isnew) AS BIGINT) AS n_new,
         |  CAST(sum(l) AS BIGINT) AS cp_total,
         |  CAST(COALESCE(sum(l) FILTER (WHERE isnew), 0) AS BIGINT) AS cp_new,
         |  CAST((sum(l) - COALESCE(sum(l) FILTER (WHERE isnew), 0)) * 1000000 // sum(l) AS BIGINT) AS reuse_ppm
         |FROM j GROUP BY 1""".stripMargin)),
    // MinHash Jaccard ESTIMATOR on the banded candidates: matches·10^6
    // DIV k from the signatures already in hand — no second text pass
    // (the exact verify re-shingles both sides of every pair)
    // estimator twin: same signatures and banding, component-match sum
    Gated("d_minhash_est", (s, dir) =>
      Dedup.minhashEstimates(docs(s, dir), "doc_id", "text", 8, 2), Some {
      val m = (0 until 8)
        .map(h => s"(CASE WHEN sa.mh$h = sb.mh$h THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $shingleCte,
         |sig AS (SELECT doc_id, $minhashSelect FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS bv FROM sig UNION ALL
         |  SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig UNION ALL
         |  SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig UNION ALL
         |  SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT id1, id2, CAST($m AS BIGINT) AS matches,
         |  CAST(($m) * 1000000 // 8 AS BIGINT) AS est_ppm
         |FROM cand JOIN sig sa ON sa.doc_id = cand.id1 JOIN sig sb ON sb.doc_id = cand.id2""".stripMargin
    }),
    Gated("d_lsh_pairs", (s, dir) =>
      Dedup.lshCandidatePairs(docs(s, dir), "doc_id", "text", 8, 2), Some(
      s"""WITH $shingleCte,
         |sig AS (SELECT doc_id, $minhashSelect FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS bv FROM sig UNION ALL
         |  SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig UNION ALL
         |  SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig UNION ALL
         |  SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig)
         |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id""".stripMargin)),
    Gated("d_jaccard_pairs", (s, dir) =>
      Dedup.jaccardWithinGroups(docs(s, dir), "doc_id", "text", "source").filter(col("inter") > 0), Some(
      s"""WITH $shingleCte,
         |ds AS (SELECT DISTINCT doc_id, source, s FROM sh),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
         |          FROM ds a JOIN ds b ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2)
         |SELECT id1, id2, CAST(inter AS BIGINT) AS inter,
         |       CAST(sa.sz + sb.sz - inter AS BIGINT) AS uni
         |FROM pairs JOIN sizes sa ON id1 = sa.doc_id JOIN sizes sb ON id2 = sb.doc_id""".stripMargin)),
    Gated("d_simhash_sig", (s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"), Dedup.simhash64Native(d, "text").as("simhash"))
    }, None),
    // D5 pair stage (the 100-TB shape: banded chunk equi-join → distinct →
    // bit_count verify). The sf corpus has no exact duplicates, so the
    // input is the corpus UNIONed with an identical-text copy (ids offset
    // by 10^6): 500 hamming-0 pairs exist by construction, plus any
    // organic ones — deterministic rows for the oracle gate; bit-level
    // semantics are proven by brute-force parity in DedupSpec. xxhash64
    // keeps this oracle-free (rows+schema check only).
    Gated("d_simhash_pairs", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val copies = d.select((col("doc_id") + lit(1000000L)).as("doc_id"), col("text"))
      Dedup.simhashNearDupPairs(d.union(copies), "doc_id", "text", 3)
    }, None),
    // D3 → D4 chain: LSH candidates verified with exact shingle Jaccard —
    // the near-dup plan you actually run at corpus scale
    Gated("d_lsh_jaccard", (s, dir) => {
      val d = docs(s, dir)
      val cand = Dedup.lshCandidatePairs(d, "doc_id", "text", 8, 2)
      Dedup.jaccardForPairs(d, cand, "doc_id", "text")
    }, Some(
      s"""WITH $lshJaccardChain
         |SELECT id1, id2, inter, uni FROM jac""".stripMargin)),
    // D3→D4→survivor chain as ONE operator: the "give me the deduped
    // corpus" call a pipeline user actually makes (LSH candidates → exact
    // Jaccard ≥ 0.5 → greedy keep-min-id → anti-join)
    Gated("d_drop_neardup", (s, dir) =>
      Dedup.dropNearDuplicates(docs(s, dir).select(col("doc_id"), col("text")), "doc_id", "text")
        .select(col("doc_id")), Some(
      s"""WITH $lshJaccardChain,
         |drops AS (SELECT DISTINCT id2 FROM jac WHERE inter * 100 >= uni * 50)
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id2 FROM drops)""".stripMargin)),
    // same chain with the connected-components survivor policy (one
    // min-id survivor per duplicate CLUSTER, computed by min-label
    // propagation); oracle = recursive-CTE reachability over the same
    // verified pair set
    // undirected reachability from each node; min reached id = component
    // label (the SQL twin of min-label propagation's fixpoint)
    Gated("d_drop_neardup_cc", (s, dir) =>
      Dedup.dropNearDuplicatesCC(docs(s, dir).select(col("doc_id"), col("text")), "doc_id", "text")
        .select(col("doc_id")), Some(
      s"""WITH RECURSIVE $lshJaccardChain,
         |vp AS (SELECT id1, id2 FROM jac WHERE inter * 100 >= uni * 50),
         |e AS (SELECT id1 AS src, id2 AS dst FROM vp UNION SELECT id2 AS src, id1 AS dst FROM vp),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
         |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM lab WHERE id <> label)""".stripMargin)),
    // quality-ranked survivor: same clusters as the CC variant, but each
    // keeps its LONGEST member (token count; ties → min id) — the "keep
    // the best copy, not the first-crawled copy" election; two slim
    // (label, id, score) aggregates on top of the label fixpoint
    // best-survivor twin: same reachability labels, then max token count
    // per cluster with min-id tie-break — two scalar steps, exactly the
    // Spark side's two slim aggregates
    Gated("d_drop_neardup_best", (s, dir) =>
      Dedup.dropNearDuplicatesBest(docs(s, dir).select(col("doc_id"), col("text")),
          "doc_id", "text", TextAnalytics.tokenCount(col("text")))
        .select(col("doc_id")), Some(
      s"""WITH RECURSIVE $lshJaccardChain,
         |vp AS (SELECT id1, id2 FROM jac WHERE inter * 100 >= uni * 50),
         |e AS (SELECT id1 AS src, id2 AS dst FROM vp UNION SELECT id2 AS src, id1 AS dst FROM vp),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
         |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id),
         |sc AS (SELECT l.id, l.label,
         |  CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0 ELSE len($tok) END AS BIGINT) AS score
         |  FROM lab l JOIN documents d ON d.doc_id = l.id),
         |mx AS (SELECT label, max(score) AS m FROM sc GROUP BY 1),
         |keepers AS (SELECT sc.label, min(sc.id) AS keep_id
         |  FROM sc JOIN mx ON mx.label = sc.label AND sc.score = mx.m GROUP BY 1),
         |drops AS (SELECT sc.id FROM sc JOIN keepers k ON k.label = sc.label
         |  WHERE sc.id <> k.keep_id)
         |SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT id FROM drops)""".stripMargin))
  )
}
