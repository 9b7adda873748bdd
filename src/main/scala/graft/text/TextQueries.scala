package graft.text

import graft.Fixtures._
import graft.Gated
import graft.dedup.DedupQueries.{multilineSql, multilineText}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gated queries over the text operators (`t_`): tokenisation, language
  * id, quality filters, LM scoring, retrieval and redaction.
  */
object TextQueries {

  /** Text with deterministic multi-script suffixes (mirrored in the oracle
    * SQL): prefix-substrings of constant Han/Cyrillic/Arabic blocks, so
    * the script-detection operator sees every dominance combination.
    */
  private def multiScriptText: Column = {
    val id = col("doc_id")
    concat(col("text"), lit(" "),
      lit("中文漢字中文漢字中文漢字").substr(lit(1), ((id % 4) * 4).cast("int")),
      lit("приветпривет").substr(lit(1), ((id % 3) * 6).cast("int")),
      lit("مرحبامرحبا").substr(lit(1), ((id % 2) * 5).cast("int")))
  }

  /** SQL twin of [[multiScriptText]], as the CTE `t(doc_id, st)`. */
  private val multiScriptCte: String =
    """WITH t AS (SELECT doc_id,
      |  text || ' ' || substr('中文漢字中文漢字中文漢字', 1, (doc_id % 4) * 4)
      |       || substr('приветпривет', 1, (doc_id % 3) * 6)
      |       || substr('مرحبامرحبا', 1, (doc_id % 2) * 5) AS st
      |FROM documents)""".stripMargin

  /** Probe terms and k for the BM25 retrieval query (mirrored in the
    * oracle SQL): drawn from the synthetic corpus vocabulary with spread
    * document frequencies, so idf weights genuinely differ. */
  private val Bm25Terms: Seq[String] =
    Seq("spark", "vector", "customer", "window", "slow", "hash")

  private val Bm25K: Int = 25

  /** Probe phrase for the exact-phrase queries (mirrored in the oracle
    * SQL): adjacent in ~34 fixture documents, so both the match and the
    * no-match paths are exercised. */
  private val PhraseTerms: Seq[String] = Seq("the", "group")

  /** Shared oracle for `t_phrase` AND `t_phrase_indexed`: every posting of
    * a phrase term votes for its would-be occurrence start; starts with all
    * slots matched count as occurrences. */
  private val phraseOracleSql: String =
    """WITH w AS (SELECT doc_id,
      |  CASE WHEN length(trim(text)) = 0 THEN []
      |       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS ws
      |FROM documents),
      |p AS (SELECT doc_id, i - 1 AS pos, ws[i] AS term
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM w)),
      |ph(j, term) AS (VALUES (0, 'the'), (1, 'group')),
      |c AS (SELECT p.doc_id, p.pos - ph.j AS start FROM p JOIN ph USING (term)),
      |h AS (SELECT doc_id, start, count(*) AS hits FROM c GROUP BY 1, 2)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ,
      |  CAST(min(start) AS BIGINT) AS first_pos
      |FROM h WHERE hits = 2 AND start >= 0 GROUP BY 1""".stripMargin

  /** Text with deterministic synthetic PII appended (mirrored in the oracle
    * SQL) so the redaction operator has known e-mails/IPs/phones to find.
    */
  private[graft] def piiText: Column = {
    val id = col("doc_id")
    concat(col("text"),
      when(id % 4 === 0, concat(lit(" Contact user"), id.cast("string"), lit("@Mail"),
        (id % 10).cast("string"), lit(".example.com now."))).otherwise(lit("")),
      when(id % 6 === 0, concat(lit(" Server at 10.0."), (id % 256).cast("string"), lit("."),
        (id % 100).cast("string"), lit(" up."))).otherwise(lit("")),
      when(id % 9 === 0, concat(lit(" Call +1555"),
        (lit(1000000L) + id % 1000000).cast("string"), lit("."))).otherwise(lit("")))
  }

  /** The PII-augmented text expression (twin of [[piiText]]), shared by the
    * redaction and export oracles.
    */
  // single line: this value is interpolated into stripMargin oracle
  // strings, where a continuation line starting with `||` would lose its
  // first `|` to the OUTER stripMargin and become bitwise-or
  private[graft] val piiSqlExpr =
    "text || (CASE WHEN doc_id % 4 = 0 THEN ' Contact user' || CAST(doc_id AS VARCHAR) || '@Mail' || CAST(doc_id % 10 AS VARCHAR) || '.example.com now.' ELSE '' END)" +
      " || (CASE WHEN doc_id % 6 = 0 THEN ' Server at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) || ' up.' ELSE '' END)" +
      " || (CASE WHEN doc_id % 9 = 0 THEN ' Call +1555' || CAST(1000000 + doc_id % 1000000 AS VARCHAR) || '.' ELSE '' END)"

  /** Text with deterministic mixed-normalization suffixes appended
    * (mirrored in the oracle SQL as chr() concatenations): decomposed
    * `a`+U+0303, `e`+U+0301, `A`+U+030A sequences plus an
    * already-precomposed `é` — so the NFC operator sees compositions to
    * perform, a fixed point to leave alone, and pure-ASCII rows (the
    * no-allocation fast path). BMP-only so char counts agree across
    * engines.
    */
  private[graft] def denormSuffix: Column = {
    val id = col("doc_id")
    concat(
      when(id % 3 === 0, lit(" Joa\u0303o")).otherwise(lit("")), // a + combining tilde
      when(id % 4 === 0, lit(" cafe\u0301")).otherwise(lit("")), // e + combining acute
      when(id % 5 === 0, lit(" \u00e9clair")).otherwise(lit("")), // precomposed: NFC fixed point
      when(id % 7 === 0, lit(" A\u030Angstro\u0308m")).otherwise(lit(""))) // combining ring + diaeresis
  }

  /** SQL twin of [[denormSuffix]] (chr(): 771 = U+0303, 769 = U+0301,
    * 233 = precomposed \u00e9, 778 = U+030A, 776 = U+0308). */
  private[graft] val denormSuffixSql: String =
    """(CASE WHEN doc_id % 3 = 0 THEN ' Joa' || chr(771) || 'o' ELSE '' END) ||
      |  (CASE WHEN doc_id % 4 = 0 THEN ' cafe' || chr(769) ELSE '' END) ||
      |  (CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(233) || 'clair' ELSE '' END) ||
      |  (CASE WHEN doc_id % 7 = 0 THEN ' A' || chr(778) || 'ngstro' || chr(776) || 'm' ELSE '' END)""".stripMargin

  private def denormText: Column = concat(col("text"), denormSuffix)

  /** Shared oracle for `t_bm25_topk` AND `t_bm25_indexed` — the index is a
    * storage layout, not a semantics change, so both paths must reproduce
    * this exact result. Same fixed-point formula as [[Retrieval]]
    * but the NAIVE `(idf * ratio) // 1e6` product (the hash match proves
    * the Spark side's overflow decomposition semantics-free).
    */
  private val bm25OracleSql: String = {
    val termsList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH t AS (SELECT doc_id,
       |  CASE WHEN length(trim(text)) = 0 THEN []
       |       ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS l
       |FROM documents),
       |base AS (SELECT doc_id, l, CAST(len(l) AS BIGINT) AS dl FROM t),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(dl) AS BIGINT) // CAST(count(*) AS BIGINT) AS avgdl FROM base),
       |tf AS (SELECT doc_id, dl, token AS term, CAST(count(*) AS BIGINT) AS tf
       |       FROM (SELECT doc_id, dl, unnest(l) AS token FROM base)
       |       WHERE token IN ($termsList) GROUP BY 1, 2, 3),
       |dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT tf.doc_id, tf.tf,
       |    ((s.n_docs - dfx.df) * 1000000) // dfx.df AS idf_x1m,
       |    250000 + (750000 * tf.dl) // s.avgdl AS norm_x1m
       |  FROM tf JOIN dfx USING (term) CROSS JOIN stats s),
       |sc2 AS (SELECT doc_id,
       |    (idf_x1m * ((tf * 2200000000000) //
       |      (tf * 1000000 + (1200000 * norm_x1m) // 1000000))) // 1000000 AS score_x1m
       |  FROM sc)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
       |  CAST(sum(score_x1m) AS BIGINT) AS score_x1m
       |FROM sc2 GROUP BY 1 ORDER BY score_x1m DESC, doc_id LIMIT $Bm25K""".stripMargin
  }

  /** LM-fluency CTE chain (twin of [[LangModel.bigramModel]] +
    * [[LangModel.lmScore]]): ends in
    * `sc(doc_id, n_bigrams, seen_bigrams, sum_ppm, avg_ppm)` — one row
    * per document. Shared by `t_lm_score` and the tier oracles so the
    * tier twins provably cut the SAME score distribution.
    */
  private[graft] val lmScoreCte =
    """t AS (SELECT doc_id, lang,
      |  CASE WHEN length(trim(text)) = 0 THEN []
      |       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS l
      |FROM documents),
      |b AS (SELECT doc_id, lang, z[1] AS w1, z[2] AS w2
      |  FROM (SELECT doc_id, lang, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
      |        FROM t WHERE len(l) >= 2)),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM b WHERE lang = 'en' GROUP BY 1, 2),
      |c1 AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
      |m AS (SELECT c12.w1, c12.w2, (c12.c12 * 1000000) // c1.c1 AS p_ppm
      |  FROM c12 JOIN c1 USING (w1) WHERE c12.c12 >= 2),
      |s AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  CAST(count(m.p_ppm) AS BIGINT) AS seen_bigrams,
      |  CAST(coalesce(sum(m.p_ppm), 0) AS BIGINT) AS sum_ppm
      |  FROM b LEFT JOIN m ON b.w1 = m.w1 AND b.w2 = m.w2 GROUP BY 1),
      |sc AS (SELECT d.doc_id,
      |  CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |  CAST(coalesce(s.seen_bigrams, 0) AS BIGINT) AS seen_bigrams,
      |  CAST(coalesce(s.sum_ppm, 0) AS BIGINT) AS sum_ppm,
      |  CAST(coalesce(s.sum_ppm, 0) // greatest(coalesce(s.n_bigrams, 0), 1) AS BIGINT) AS avg_ppm
      |FROM documents d LEFT JOIN s USING (doc_id))""".stripMargin

  /** [[lmScoreCte]] plus `bnd(b1, b2)`, the exact tertile bounds of
    * `avg_ppm` from the score histogram (twin of [[lmTiers]]'s cut). */
  private[graft] val lmTierCte: String =
    s"""$lmScoreCte,
       |h AS (SELECT avg_ppm AS s, count(*) AS c FROM sc GROUP BY 1),
       |cm AS (SELECT s, sum(c) OVER (ORDER BY s) AS cum, sum(c) OVER () AS n FROM h),
       |bnd AS (SELECT min(CASE WHEN cum * 3 >= n THEN s END) AS b1,
       |               min(CASE WHEN cum * 3 >= n * 2 THEN s END) AS b2 FROM cm)""".stripMargin

  /** Spark side of [[lmScoreCte]]: every doc of `d` scored by the bigram
    * model of its `en` docs (bigrams seen at least twice). */
  private[graft] def lmScored(d: DataFrame): DataFrame =
    LangModel.lmScore(d, LangModel.bigramModel(d.where(col("lang") === "en"), "doc_id", "text", minCount = 2),
      "doc_id", "text")

  /** Spark side of [[lmTierCte]]: [[lmScored]]'s `avg_ppm` cut into three
    * quality tiers, 2 the most fluent. */
  private[graft] def lmTiers(d: DataFrame): DataFrame =
    graft.sample.Tiering.assignTiers(lmScored(d).select(col("doc_id"), col("avg_ppm")), "avg_ppm", numTiers = 3)

  /** The tier index of [[lmTiers]] as its name. */
  private[graft] def tierName: Column =
    when(col("tier") === 2, lit("head")).when(col("tier") === 1, lit("middle")).otherwise(lit("tail"))

  /** Redaction chain over a source expression (twin of
    * [[Redactor.redact]]).
    */
  private[graft] def redactSql(src: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($src,
       |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |    '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g'),
       |    '\\+[0-9]{7,15}', '<PHONE>', 'g')""".stripMargin

  /** Quality predicate columns over `text` (twin of `t_quality`), reused by
    * the domain-stats oracle.
    */
  private[graft] val qualityPredSql =
    s"""(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tok) END) >= 5
       |  AND (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))) * 100 <= length(text) * 20
       |  AND (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))) * 100 <= length(text) * 30
       |  AND length(text) <= (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tok) END) * 20""".stripMargin

  /** SQL twin of the stopword count's regex (English stopwords as whole
    * words), shared by the stopword and clean-corpus oracles. */
  private[graft] val stopRe: String = "\\b(?:" + TextAnalytics.EnStopwords.mkString("|") + ")\\b"

  /** SQL twin of [[TextAnalytics.LangMarkers]]' marker masses: one
    * `m_<lang>` column each over `p`, the lowercased text with its
    * whitespace runs collapsed and one space on either side. */
  private[graft] val langMassesSql: String = TextAnalytics.LangMarkers
    .map { case (lang, ms) =>
      val mass = ms.map(m => s"(length(p) - length(replace(p, ' $m ', '')))").mkString(" + ")
      s"CAST($mass AS BIGINT) AS m_$lang"
    }
    .mkString(",\n  ")

  /** SQL twin of the language argmax over the `m_<lang>` masses: ties go
    * en, es, de, fr in that order, and no marker at all is 'und'. */
  private[graft] val langGuessSql: String = {
    val gm = "greatest(m_en, m_es, m_de, m_fr)"
    s"""CASE WHEN $gm > 0 THEN
       |    CASE WHEN m_en = $gm THEN 'en' WHEN m_es = $gm THEN 'es'
       |         WHEN m_de = $gm THEN 'de' ELSE 'fr' END
       |  ELSE 'und' END""".stripMargin
  }

  val all: Seq[Gated] = Seq(
    // T7+ iterative BPE merge-table learning (tokenizer training): the
    // corpus collapses to the pretoken vocab ONCE; each of the 20
    // iterations aggregates pairs over the vocab only and applies the
    // winning merge map-side. Rows-only by design (the argmax loop is
    // not SQL-expressible); canonical semantics pinned in BpeTrainerSpec.
    Gated("t_bpe_merges", (s, dir) =>
      BpeTrainer.learnMerges(docs(s, dir), "text", numMerges = 20), None),
    // T7++ tokenizer APPLY, end-to-end: learn a small merge table on the
    // corpus (8 iterations over the Zipf-bounded vocab), then
    // segment every document with it — the map-only, zero-shuffle pass a
    // trainer feed runs over 100 TB. Rows-only by design (greedy
    // lowest-rank merge replay is not SQL-expressible); apply semantics
    // pinned in BpeTrainerSpec (hand fixture + determinism across
    // parallelism).
    Gated("t_bpe_segment", (s, dir) => {
      val d = docs(s, dir)
      val merges = BpeTrainer.learnMerges(d, "text", numMerges = 8)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      BpeTrainer.segment(d, "text", merges, "doc_id")
        .select(col("doc_id"),
          size(col("symbols")).cast("long").as("n_symbols"),
          array_join(slice(col("symbols"), 1, 12), "|").as("head_symbols"))
    }, None),
    Gated("t_token_count", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TextAnalytics.tokenCount(col("text")).cast("long").as("n_tokens")),
      Some(s"SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tok) END AS BIGINT) AS n_tokens FROM documents")),
    // whitespace vs BPE-pretokenizer counts side by side — the ratio is
    // the "subword inflation" a training pipeline budgets against
    Gated("t_token_bpe", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalytics.tokenCount(col("text")).cast("long").as("n_ws"),
        TextAnalytics.bpeTokenCount(col("text")).as("n_bpe")), Some(
      s"""SELECT doc_id,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tok) END AS BIGINT) AS n_ws,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe
         |FROM documents""".stripMargin)),
    // adjacent-pair statistics for BPE merge learning: the one-exchange
    // vocab aggregate carries the corpus; the pair fan-out runs on the
    // vocabulary only; deterministic top-K via TakeOrdered
    Gated("t_bpe_pairs", (s, dir) =>
      graft.stats.CorpusStats.bpePairStats(docs(s, dir), "text", topK = 50), Some(
      """WITH t AS (SELECT unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]')) AS token FROM documents),
        |v AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM t WHERE len(token) >= 2 GROUP BY token),
        |p AS (SELECT substr(token, CAST(i AS INT), 2) AS pair, cnt
        |      FROM (SELECT token, cnt, unnest(generate_series(1, len(token) - 1)) AS i FROM v))
        |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 50""".stripMargin)),
    // NFC normalization via the native codegen'd graft_nfc expression,
    // over mixed-form synthesis: decomposed sequences compose, the
    // precomposed fixed point and pure-ASCII rows pass through untouched
    // mojibake round trip: corrupt (UTF-8 read as cp1252) then repair —
    // md5 must land back on the ORIGINAL text's md5, which the oracle
    // computes straight off the documents table; the noop column proves
    // clean multi-script text passes the repairer untouched. The
    // corrupted flag pins that the corruption genuinely fired (every doc
    // with a non-ASCII suffix, i.e. doc_id % 12 != 0).
    // mojibake twin: the oracle never corrupts anything — it md5s the
    // clean text directly, so the Spark corrupt→repair round trip must
    // be a true inverse (and the repairer a no-op on clean text)
    Gated("t_mojibake", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), multiScriptText.as("st"))
      val fix = TextAnalytics.fixMojibakeNative(d) _
      val bad = TextAnalytics.mojibakeNative(d) _
      d.select(col("doc_id"),
        md5(fix(bad(col("st")))).as("roundtrip_md5"),
        md5(fix(col("st"))).as("noop_md5"),
        (bad(col("st")) =!= col("st")).as("corrupted"))
    }, Some(
      multiScriptCte + """
        |SELECT doc_id, md5(st) AS roundtrip_md5, md5(st) AS noop_md5,
        |  (doc_id % 12 <> 0) AS corrupted
        |FROM t""".stripMargin)),
    Gated("t_nfc", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), denormText.as("raw"))
      d.select(col("doc_id"), col("raw"),
          TextAnalytics.nfcNative(d)(col("raw")).as("nfc_text"))
        .select(col("doc_id"), col("nfc_text"),
          (col("raw") =!= col("nfc_text")).as("changed"),
          length(col("raw")).cast("long").as("n_before"),
          length(col("nfc_text")).cast("long").as("n_after"))
    }, Some(
      s"""WITH r AS (SELECT doc_id, text || $denormSuffixSql AS raw
         |FROM documents)
         |SELECT doc_id, nfc_normalize(raw) AS nfc_text,
         |  raw <> nfc_normalize(raw) AS changed,
         |  CAST(len(raw) AS BIGINT) AS n_before,
         |  CAST(len(nfc_normalize(raw)) AS BIGINT) AS n_after
         |FROM r""".stripMargin)),
    // stopword-ratio quality signal (Gopher-style: ≥ 2 common function
    // words); integer counts only, ratio left to the consumer
    Gated("t_stopword", (s, dir) => {
      // native single-pass signal kernels (the oracle replays the regex
      // formulations; NativeSignalsSpec pins the field-level parity)
      val d = docs(s, dir)
      d.select(col("doc_id"),
          TextAnalytics.textStatsNative(d)(col("text")).as("_ts"),
          TextAnalytics.langSignalsNative(d)(col("text")).as("_ls"))
        .select(col("doc_id"),
          col("_ts").getField("words").as("n_tokens"),
          col("_ls").getField("stop").as("stop_tokens"),
          (col("_ls").getField("stop") >= 2).as("has_min_stop"))
    }, Some(
      s"""SELECT doc_id,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tok) END AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '$stopRe')) AS BIGINT) AS stop_tokens,
         |  (len(regexp_extract_all(lower(text), '$stopRe')) >= 2) AS has_min_stop
         |FROM documents""".stripMargin)),
    // tokenizer fertility per language: BPE-ish tokens per whitespace
    // token in ppm — the "subword inflation" data-card row a multilingual
    // mixture budget reads; one slim (lang) aggregate. The ×10^6 runs in
    // DECIMAL(38,0): a language's token sum reaches ~10^14 at the design
    // point and the BIGINT product would wrap silently (same envelope
    // handling as w_domain_gini; the oracle widens to HUGEINT)
    // fertility twin: same per-doc counts, lang rollup, positive DIV
    Gated("t_fertility", (s, dir) =>
      docs(s, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalytics.tokenCount(col("text")).cast("long")).as("ws_tokens"),
          sum(TextAnalytics.bpeTokenCount(col("text"))).as("bpe_tokens"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"), col("bpe_tokens"),
          expr("CAST((CAST(bpe_tokens AS DECIMAL(38,0)) * 1000000) DIV greatest(ws_tokens, 1L) AS BIGINT)")
            .as("fertility_ppm")), Some(
      s"""WITH a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tok) END) AS BIGINT) AS ws_tokens,
         |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]'))) AS BIGINT) AS bpe_tokens
         |FROM documents GROUP BY 1)
         |SELECT lang, n_docs, ws_tokens, bpe_tokens,
         |  CAST(CAST(bpe_tokens AS HUGEINT) * 1000000 // greatest(ws_tokens, 1) AS BIGINT) AS fertility_ppm
         |FROM a""".stripMargin)),
    // per-document keyphrases: top-3 terms by the integer tf·10^6 DIV df
    // surrogate (rank-equivalent to TF-IDF within a doc) — slim term
    // aggregates, vocabulary-bounded df join, per-DOC top-k window
    // keyphrase twin: same case-folded terms, same integer surrogate,
    // same (score DESC, term) per-doc cut
    Gated("t_keyphrases", (s, dir) =>
      TextAnalytics.keyphrases(docs(s, dir), "doc_id", "text", k = 3)
        .withColumnRenamed("id", "doc_id"), Some(
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
        |  CAST(tf.tf * 1000000 // dfq.df AS BIGINT) AS score_ppm
        |  FROM tf JOIN dfq USING (term))
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, score_ppm FROM (
        |  SELECT doc_id, term, tf, df, score_ppm,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, term) AS rank
        |  FROM sc) WHERE rank <= 3""".stripMargin)),
    // OOV rate vs the corpus's own top-K vocabulary: one slim token
    // agg into TakeOrdered, then a map-only broadcast-literal probe —
    // documents never shuffle (the synthesis has 31 distinct tokens, so
    // K=16 leaves real OOV mass at the gated scales)
    // OOV twin: same case-folded tokens, same (tf DESC, token) top-K cut,
    // left-join null-probe instead of the broadcast literal
    Gated("t_oov_rate", (s, dir) =>
      TextAnalytics.oovStats(docs(s, dir), "doc_id", "text", vocabSize = 16), Some(
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0),
        |v AS (SELECT token FROM (
        |  SELECT token, count(*) AS tf FROM t GROUP BY 1
        |  ORDER BY tf DESC, token LIMIT 16) q),
        |c AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |      CAST(count(*) FILTER (WHERE v.token IS NULL) AS BIGINT) AS n_oov
        |      FROM t LEFT JOIN v ON v.token = t.token GROUP BY 1)
        |SELECT d.doc_id AS doc_id, CAST(COALESCE(c.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(c.n_oov, 0) AS BIGINT) AS n_oov,
        |  CAST(CASE WHEN COALESCE(c.n_tokens, 0) = 0 THEN 0
        |       ELSE c.n_oov * 1000000 // c.n_tokens END AS BIGINT) AS oov_ppm
        |FROM documents d LEFT JOIN c ON c.doc_id = d.doc_id""".stripMargin)),
    // corpus vocabulary: term + document frequency, deterministic top-50
    // (ties broken by token). TakeOrderedAndProject keeps the "top-k"
    // collection cost at k rows; countDistinct is Spark's standard
    // two-phase expand — the price of an exact df at any scale
    Gated("t_vocab_topk", (s, dir) => {
      val toks = when(length(trim(col("text"))) === 0, array().cast("array<string>"))
        .otherwise(split(trim(lower(col("text"))), "\\s+"))
      docs(s, dir).select(col("doc_id"), explode(toks).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(desc("tf"), asc("token"))
        .limit(50)
    }, Some(
      """WITH t AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT token, CAST(count(*) AS BIGINT) AS tf, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |FROM t GROUP BY 1 ORDER BY tf DESC, token LIMIT 50""".stripMargin)),
    // BM25 keyword retrieval (fixed-point integer scoring): inverted-
    // index shape — the probe-term prune runs map-side with the explode,
    // df/corpus stats broadcast back, top-k via TakeOrderedAndProject
    Gated("t_bm25_topk", (s, dir) =>
      Retrieval.bm25TopK(docs(s, dir), "doc_id", "text", Bm25Terms, Bm25K), Some(bm25OracleSql)),
    // the write-once / query-many retrieval shape: persistent inverted
    // index partitioned on a term hash bucket; the probe reads ONLY the
    // partitions its terms hash into (directory pruning, PlanSpec-gated)
    // and must return byte-identically what the corpus re-scan returns —
    // both share one oracle
    // BM25 twin: same fixed-point integer formula (k1=1.2, b=0.75,
    // rational rarity idf), but the NAIVE (idf * ratio) // 1e6 product —
    // the hash match proves the Spark side's quotient/remainder
    // decomposition semantics-free (cf. w_domain_rank). The indexed
    // variant must return the identical result, so it shares this oracle.
    Gated("t_bm25_indexed", (s, dir) => {
      val path = java.nio.file.Files.createTempDirectory("graft-bm25-idx").toString
      Retrieval.buildIndex(docs(s, dir), "doc_id", "text", path, termBuckets = 16)
      Retrieval.bm25FromIndex(s, path, "doc_id", Bm25Terms, Bm25K, termBuckets = 16)
    }, Some(bm25OracleSql)),
    // exact-phrase search, scan path: matched postings vote for their
    // occurrence start (pos − slot); a start with all slots matched is an
    // occurrence. Term prune rides the posexplode map-side.
    Gated("t_phrase", (s, dir) =>
      Retrieval.phraseOccurrences(
        docs(s, dir), "doc_id", "text", PhraseTerms), Some(phraseOracleSql)),
    // the same phrase through the persistent positional index: reads only
    // the phrase terms' hash-bucket partitions, explodes stored position
    // lists, identical tail — SAME oracle as the scan path
    Gated("t_phrase_indexed", (s, dir) => {
      val path = java.nio.file.Files.createTempDirectory("graft-phrase-idx").toString
      Retrieval.buildIndex(docs(s, dir), "doc_id", "text", path, termBuckets = 16)
      Retrieval.phraseFromIndex(s, path, "doc_id", PhraseTerms, termBuckets = 16)
    }, Some(phraseOracleSql)),
    // Gopher-family repetition filter: duplicate-token mass + hottest
    // adjacent bigram, HOF-free (slice/arrays_zip/explode + hash aggs)
    Gated("t_repetition", (s, dir) =>
      TextAnalytics.repetitionStats(docs(s, dir), "doc_id", "text"), Some(
      s"""WITH t AS (SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(trim(text), '\\s+') END AS l
         |FROM documents),
         |base AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(l)) AS BIGINT) AS n_distinct, l FROM t),
         |bg AS (SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
         |  FROM base WHERE n_tokens >= 2),
         |cnt AS (SELECT doc_id, z[1] AS w1, z[2] AS w2, count(*) AS c FROM bg GROUP BY 1, 2, 3),
         |top AS (SELECT doc_id, max(c) AS top_bigram_n FROM cnt GROUP BY 1)
         |SELECT b.doc_id, b.n_tokens, b.n_distinct,
         |  b.n_tokens - b.n_distinct AS dup_tokens,
         |  CAST(coalesce(t2.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
         |  ((b.n_tokens - b.n_distinct) * 100 > b.n_tokens * 75
         |   OR coalesce(t2.top_bigram_n, 0) * 100 > greatest(b.n_tokens - 1, 1) * 20) AS is_repetitive
         |FROM base b LEFT JOIN top t2 USING (doc_id)""".stripMargin)),
    // CCNet-style LM fluency: bigram model trained on the en slice
    // (pruned, broadcast), every doc scored by fixed-point mean
    // conditional probability — integer-only so both engines agree
    // LM fluency twin: same lowercased-token bigrams, same en-slice
    // training, integer `//` division end to end (= Spark DIV)
    Gated("t_lm_score", (s, dir) => {
      lmScored(docs(s, dir))
    }, Some(
      s"""WITH $lmScoreCte
        |SELECT doc_id, n_bigrams, seen_bigrams, sum_ppm, avg_ppm FROM sc""".stripMargin)),
    // stupid-backoff trigram LM (Brants et al. 2007): trigram hit →
    // p3; miss → 0.4 × bigram p2; miss → 0.16 × unigram p1; miss → 0 —
    // all fixed-point ppm. Trained on the en slice like t_lm_score; all
    // three pruned model tables broadcast, scoring probes map-side.
    // stupid-backoff twin: the same three pruned count-ratio tables
    // (contexts summed before pruning), the same ×4 DIV 10 / ×16 DIV 100
    // integer backoff weights, hit levels classified per position
    Gated("t_lm_backoff", (s, dir) => {
      val d = docs(s, dir)
      val model = LangModel.stupidBackoffModel(
        d.where(col("lang") === "en"), "doc_id", "text", minCount = 2)
      LangModel.stupidBackoffScore(d, model, "doc_id", "text")
    }, Some(
      """WITH t AS (SELECT doc_id, lang,
        |  CASE WHEN length(trim(text)) = 0 THEN []
        |       ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS l
        |FROM documents),
        |g AS (SELECT doc_id, z[1] AS w1, z[2] AS w2, z[3] AS w3
        |  FROM (SELECT doc_id, unnest(list_zip(l[1:len(l)-2], l[2:len(l)-1], l[3:len(l)])) AS z
        |        FROM t WHERE len(l) >= 3)),
        |gt AS (SELECT g.* FROM g JOIN t USING (doc_id) WHERE t.lang = 'en'),
        |c123 AS (SELECT w1, w2, w3, count(*) AS c FROM gt GROUP BY 1, 2, 3),
        |c12 AS (SELECT w1, w2, sum(c) AS cc FROM c123 GROUP BY 1, 2),
        |m3 AS (SELECT c123.w1, c123.w2, c123.w3, (c * 1000000) // cc AS p3
        |  FROM c123 JOIN c12 USING (w1, w2) WHERE c >= 2),
        |b AS (SELECT doc_id, z[1] AS v1, z[2] AS v2
        |  FROM (SELECT doc_id, unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS z
        |        FROM t WHERE len(l) >= 2)),
        |bt AS (SELECT b.* FROM b JOIN t USING (doc_id) WHERE t.lang = 'en'),
        |c23 AS (SELECT v1, v2, count(*) AS c FROM bt GROUP BY 1, 2),
        |c2 AS (SELECT v1, sum(c) AS cc FROM c23 GROUP BY 1),
        |m2 AS (SELECT c23.v1, c23.v2, (c * 1000000) // cc AS p2
        |  FROM c23 JOIN c2 USING (v1) WHERE c >= 2),
        |u AS (SELECT doc_id, unnest(l) AS w FROM t),
        |ut AS (SELECT u.* FROM u JOIN t USING (doc_id) WHERE t.lang = 'en'),
        |cu AS (SELECT w, count(*) AS c FROM ut GROUP BY 1),
        |nn AS (SELECT sum(c) AS n FROM cu),
        |m1 AS (SELECT w, (c * 1000000) // n AS p1 FROM cu, nn WHERE c >= 2),
        |sc AS (SELECT g.doc_id, m3.p3, m2.p2, m1.p1,
        |  COALESCE(m3.p3, (4 * m2.p2) // 10, (16 * m1.p1) // 100, 0) AS s
        |  FROM g LEFT JOIN m3 ON g.w1 = m3.w1 AND g.w2 = m3.w2 AND g.w3 = m3.w3
        |         LEFT JOIN m2 ON g.w2 = m2.v1 AND g.w3 = m2.v2
        |         LEFT JOIN m1 ON g.w3 = m1.w),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
        |  CAST(count(p3) AS BIGINT) AS tri_hits,
        |  CAST(sum(CASE WHEN p3 IS NULL AND p2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS bi_hits,
        |  CAST(sum(CASE WHEN p3 IS NULL AND p2 IS NULL AND p1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS uni_hits,
        |  CAST(sum(s) AS BIGINT) AS sum_ppm FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_trigrams, 0) AS BIGINT) AS n_trigrams,
        |  CAST(coalesce(a.tri_hits, 0) AS BIGINT) AS tri_hits,
        |  CAST(coalesce(a.bi_hits, 0) AS BIGINT) AS bi_hits,
        |  CAST(coalesce(a.uni_hits, 0) AS BIGINT) AS uni_hits,
        |  CAST(coalesce(a.sum_ppm, 0) AS BIGINT) AS sum_ppm,
        |  CAST(coalesce(a.sum_ppm, 0) // greatest(coalesce(a.n_trigrams, 0), 1) AS BIGINT) AS avg_ppm
        |FROM documents d LEFT JOIN agg a USING (doc_id)""".stripMargin)),
    // CCNet-style quality tiers over the LM fluency score: exact discrete
    // tertile boundaries from a bounded score histogram (one slim agg +
    // a histogram-sized window), then a broadcast map-only assignment —
    // documents never shuffle, ties land low by score value
    // CCNet-style tier twin: exact discrete tertiles of avg_ppm via the
    // same histogram-cumulative product comparison (cum·3 >= k·n) as
    // Tiering.tierBoundaries — no division anywhere, ties land low
    Gated("t_quality_tiers", (s, dir) =>
      lmTiers(docs(s, dir)).select(col("doc_id"), col("avg_ppm"), tierName.as("tier")), Some(
      s"""WITH $lmTierCte
        |SELECT sc.doc_id, sc.avg_ppm,
        |  CASE WHEN sc.avg_ppm > bnd.b2 THEN 'head'
        |       WHEN sc.avg_ppm > bnd.b1 THEN 'middle' ELSE 'tail' END AS tier
        |FROM sc, bnd""".stripMargin)),
    Gated("t_fingerprint", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TextAnalytics.fingerprint(col("text")).as("fp")),
      Some(s"SELECT doc_id, $fpSql AS fp FROM documents")),
    // Gopher quality rules (Rae et al. 2021): bullet/ellipsis line
    // fractions, symbol-to-word ratio, mean word length, alpha-word
    // invisible/bidi sanitization (Trojan Source class): zero-widths
    // break byte equality of visually identical text (dedup evasion),
    // bidi controls reorder rendering vs logical bytes (filter
    // smuggling). Pollution synthesized by moduli; `restored` proves
    // stripping recovers the original fingerprint except where VISIBLE
    // residue was also injected — map-only codegen
    // Gopher twin: same enriched text, same cross-multiplied thresholds;
    // note regexp_replace needs the 'g' flag in DuckDB (Spark replaces
    // all matches by default) and '...'-replace is literal on both
    // invisible/bidi twin: same chr()-synthesized pollution, same RE2
    // character classes, same strip-then-fingerprint comparison
    Gated("t_strip_invisible", (s, dir) => {
      val id = col("doc_id")
      val polluted = concat(
        substring(col("text"), 1, 10),
        when(id % 5 === 0, lit("\u200B")).otherwise(lit("")),
        substring(col("text"), 11, 1000000),
        when(id % 11 === 0, lit(" \u202Edesrever\u202C")).otherwise(lit("")),
        when(id % 7 === 0, lit("\u00AD\uFEFF")).otherwise(lit("")))
      docs(s, dir).select(id, col("text"), polluted.as("t")).select(
        id,
        TextAnalytics.invisibleChars(col("t")).as("n_invisible"),
        TextAnalytics.bidiChars(col("t")).as("n_bidi"),
        (TextAnalytics.bidiChars(col("t")) > 0L).as("suspicious"),
        TextAnalytics.fingerprint(TextAnalytics.stripInvisible(col("t"))).as("clean_fp"),
        (TextAnalytics.fingerprint(TextAnalytics.stripInvisible(col("t"))) ===
          TextAnalytics.fingerprint(col("text"))).as("restored"))
    }, Some(
      """WITH a AS (SELECT doc_id, text,
        |  substr(text, 1, 10) ||
        |  CASE WHEN doc_id % 5 = 0 THEN chr(8203) ELSE '' END ||
        |  substr(text, 11) ||
        |  CASE WHEN doc_id % 11 = 0 THEN ' ' || chr(8238) || 'desrever' || chr(8236) ELSE '' END ||
        |  CASE WHEN doc_id % 7 = 0 THEN chr(173) || chr(65279) ELSE '' END AS t
        |FROM documents),
        |m AS (SELECT doc_id, text, t,
        |  CAST(length(t) - length(regexp_replace(t, '[\x{200B}\x{200C}\x{200D}\x{2060}\x{00AD}\x{FEFF}]', '', 'g')) AS BIGINT) AS n_invisible,
        |  CAST(length(t) - length(regexp_replace(t, '[\x{202A}-\x{202E}\x{2066}-\x{2069}]', '', 'g')) AS BIGINT) AS n_bidi,
        |  regexp_replace(regexp_replace(t, '[\x{200B}\x{200C}\x{200D}\x{2060}\x{00AD}\x{FEFF}]', '', 'g'),
        |                 '[\x{202A}-\x{202E}\x{2066}-\x{2069}]', '', 'g') AS clean
        |FROM a)
        |SELECT doc_id, n_invisible, n_bidi, n_bidi > 0 AS suspicious,
        |  md5(regexp_replace(lower(trim(clean)), '\s+', ' ', 'g')) AS clean_fp,
        |  md5(regexp_replace(lower(trim(clean)), '\s+', ' ', 'g')) =
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS restored
        |FROM m""".stripMargin)),
    // C4 cleaning recipe (Raffel et al. 2020): line-level keep rules +
    // page gates; the corpus text is enriched with deterministic lines so
    // every rule fires both ways (terminal punct, ≥5 words, javascript,
    // <3 sentences, badword, lorem ipsum, curly brace) — map-only
    // C4 twin: same synthesized page, same list_filter line rules, same
    // terminal-mark sentence proxy and padded badword containment
    Gated("t_c4_clean", (s, dir) => {
      val id = col("doc_id")
      val page = concat(
        col("text"),
        lit("\nThe quick study of "), substring(col("text"), 1, 20), lit(" now concludes properly."),
        lit("\nShort line."),
        lit("\nIs this layout really working fine today?"),
        lit("\nNo terminal punctuation here at all"),
        lit("\nThe javascript menu needs to be enabled fully."),
        when(id % 3 === 0, lit("\nAn extra closing sentence appears right here!")).otherwise(lit("")),
        when(id % 31 === 0, lit("\nthe casino bonus spins are waiting now.")).otherwise(lit("")),
        when(id % 37 === 0, lit("\nlorem ipsum dolor sit amet sample.")).otherwise(lit("")),
        when(id % 41 === 0, lit("\nthis page contains { a brace clearly.")).otherwise(lit("")))
      C4.c4Stats(docs(s, dir).select(id, page.as("page")), "doc_id", "page", Seq("casino"))
    }, Some(
      """WITH a AS (SELECT doc_id, text ||
        |  chr(10) || 'The quick study of ' || substr(text, 1, 20) || ' now concludes properly.' ||
        |  chr(10) || 'Short line.' ||
        |  chr(10) || 'Is this layout really working fine today?' ||
        |  chr(10) || 'No terminal punctuation here at all' ||
        |  chr(10) || 'The javascript menu needs to be enabled fully.' ||
        |  CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'An extra closing sentence appears right here!' ELSE '' END ||
        |  CASE WHEN doc_id % 31 = 0 THEN chr(10) || 'the casino bonus spins are waiting now.' ELSE '' END ||
        |  CASE WHEN doc_id % 37 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet sample.' ELSE '' END ||
        |  CASE WHEN doc_id % 41 = 0 THEN chr(10) || 'this page contains { a brace clearly.' ELSE '' END AS t
        |FROM documents),
        |l AS (SELECT doc_id, t, string_split(t, chr(10)) AS ls FROM a),
        |k AS (SELECT doc_id, t, len(ls) AS n_lines, list_filter(ls, x ->
        |    length(trim(x)) > 0 AND regexp_matches(trim(x), '[.!?"]$')
        |    AND len(regexp_split_to_array(trim(x), '\s+')) >= 5
        |    AND NOT contains(lower(x), 'javascript')) AS kept FROM l),
        |c AS (SELECT doc_id, t, n_lines, len(kept) AS n_kept,
        |    array_to_string(kept, chr(10)) AS cleaned FROM k),
        |m AS (SELECT doc_id, n_lines, n_kept, cleaned,
        |    CAST(length(cleaned) - length(regexp_replace(cleaned, '[.!?]', '', 'g')) AS BIGINT) AS n_sentences,
        |    contains(' ' || regexp_replace(lower(t), '\s+', ' ', 'g') || ' ', ' casino ') AS has_badword,
        |    contains(lower(t), 'lorem ipsum') AS has_lorem,
        |    contains(t, '{') AS has_curly
        |FROM c)
        |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines, CAST(n_kept AS BIGINT) AS n_kept,
        |  n_sentences, has_badword,
        |  (n_sentences >= 3 AND NOT has_badword AND NOT has_lorem AND NOT has_curly) AS keep,
        |  md5(cleaned) AS cleaned_fp
        |FROM m""".stripMargin)),
    // share — map-only integer arithmetic, thresholds cross-multiplied;
    // the corpus text is enriched with deterministic bullet / ellipsis /
    // symbol lines (mirrored in the oracle) so every rule fires both ways
    Gated("t_gopher", (s, dir) => {
      val id = col("doc_id")
      val gt = concat_ws("\n", multilineText,
        when(id % 3 === 0, lit("- bullet one")),
        when(id % 3 === 0, lit("* bullet two")),
        when(id % 6 === 0, lit("to be continued...")),
        when(id % 11 === 0, lit("# # # # # # # # # #")))
      docs(s, dir).select(id.as("doc_id"), gt.as("gt"))
        .select(col("doc_id"),
          TextAnalytics.tokenCount(col("gt")).cast("long").as("n_words"),
          TextAnalytics.tokenChars(col("gt")).cast("long").as("token_chars"),
          size(split(col("gt"), "\n")).cast("long").as("n_lines"),
          TextAnalytics.bulletLineCount(col("gt")).cast("long").as("bullet_lines"),
          TextAnalytics.ellipsisLineCount(col("gt")).cast("long").as("ellipsis_lines"),
          TextAnalytics.gopherSymbolCount(col("gt")).cast("long").as("symbols"),
          TextAnalytics.alphaWordCount(col("gt")).cast("long").as("alpha_words"),
          TextAnalytics.isGopherQuality(col("gt"), minWords = 10).as("gopher_ok"))
    }, Some(
      s"""WITH g AS (SELECT doc_id, concat_ws(chr(10), ${multilineSql("text")},
         |    CASE WHEN doc_id % 3 = 0 THEN '- bullet one' END,
         |    CASE WHEN doc_id % 3 = 0 THEN '* bullet two' END,
         |    CASE WHEN doc_id % 6 = 0 THEN 'to be continued...' END,
         |    CASE WHEN doc_id % 11 = 0 THEN '# # # # # # # # # #' END) AS gt
         |  FROM documents),
         |m AS (SELECT doc_id,
         |  CAST(CASE WHEN length(trim(gt)) = 0 THEN 0
         |       ELSE len(regexp_split_to_array(trim(gt), '\\s+')) END AS BIGINT) AS n_words,
         |  CAST(length(regexp_replace(gt, '\\s', '', 'g')) AS BIGINT) AS token_chars,
         |  CAST(len(string_split(gt, chr(10))) AS BIGINT) AS n_lines,
         |  CAST(len(regexp_extract_all(gt, '(?m)^(- |\\* )')) AS BIGINT) AS bullet_lines,
         |  CAST(len(regexp_extract_all(gt, '(?m)\\.\\.\\.$$')) AS BIGINT) AS ellipsis_lines,
         |  CAST((length(gt) - length(regexp_replace(gt, '#', '', 'g')))
         |    + (length(gt) - length(replace(gt, '...', ''))) // 3 AS BIGINT) AS symbols,
         |  CAST(len(regexp_extract_all(gt, '[^\\s]*[A-Za-z][^\\s]*')) AS BIGINT) AS alpha_words
         |FROM g)
         |SELECT doc_id, n_words, token_chars, n_lines, bullet_lines, ellipsis_lines,
         |  symbols, alpha_words,
         |  (n_words >= 10 AND n_words <= 100000
         |   AND token_chars >= n_words * 3 AND token_chars <= n_words * 10
         |   AND symbols * 10 <= n_words
         |   AND bullet_lines * 10 <= n_lines * 9
         |   AND ellipsis_lines * 10 <= n_lines * 3
         |   AND alpha_words * 10 >= n_words * 8) AS gopher_ok
         |FROM m""".stripMargin)),
    // model-based quality gate: hashed unigram+bigram naive-Bayes
    // classifier trained on the corpus itself (label: lang == 'en'),
    // <=64-row posterior table broadcast, map-side probe — the
    // fastText-shaped stage of CCNet-style pipelines. B=64 so every
    // bucket trains at sf0.01.
    // naive-Bayes twin: same md5 bucket hash as the DSIR oracle, unigram
    // UNION ALL bigram feature stream, smoothed posterior in integer ppm
    Gated("t_quality_nb", (s, dir) =>
      QualityClassifier.trainAndScore(
        docs(s, dir).withColumn("y", col("lang") === "en"),
        "doc_id", "text", "y", buckets = 64), Some(
      s"""WITH w AS (SELECT doc_id, (lang = 'en') AS y, $tok AS ws FROM documents),
         |feat AS (
         |  SELECT doc_id, y, unnest(ws) AS gm FROM w
         |  UNION ALL
         |  SELECT doc_id, y, unnest(list_transform(generate_series(1, len(ws) - 1),
         |    i -> ws[i] || ' ' || ws[i+1])) AS gm FROM w),
         |b AS (SELECT doc_id, y,
         |  ('0x' || substr(md5(gm), 1, 8))::BIGINT % 64 AS bucket FROM feat),
         |cnt AS (SELECT bucket,
         |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS cn FROM b GROUP BY 1),
         |wt AS (SELECT bucket, ((cp + 1) * 1000000) // (cp + cn + 2) AS w_ppm FROM cnt),
         |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |  CAST(sum(w_ppm) AS BIGINT) AS score
         |  FROM b JOIN wt USING (bucket) GROUP BY 1)
         |SELECT d.doc_id,
         |  CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
         |  CAST(coalesce(sc.score, 0) AS BIGINT) AS score,
         |  CAST(coalesce(sc.score, 0) // greatest(coalesce(sc.n_feats, 0), 1) AS BIGINT) AS post_ppm,
         |  (coalesce(sc.score, 0) * 2 >= coalesce(sc.n_feats, 0) * 1000000) AS keep
         |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin)),
    Gated("t_quality", (s, dir) => {
      // native single-pass stats kernel; the quality flag recombines its
      // integer fields exactly like TextAnalytics.isQuality (oracle-gated)
      val d = docs(s, dir)
      val ts = col("_ts")
      val chars = ts.getField("chars"); val words = ts.getField("words")
      d.select(col("doc_id"), TextAnalytics.textStatsNative(d)(col("text")).as("_ts"))
        .select(col("doc_id"),
          chars.as("chars"),
          words.as("n_tokens"),
          ts.getField("punct").as("punct_chars"),
          ts.getField("upper").as("upper_chars"),
          ts.getField("digits").as("digit_chars"),
          ((words >= lit(5)) &&
            (ts.getField("punct") * lit(100) <= chars * lit(20)) &&
            (ts.getField("upper") * lit(100) <= chars * lit(30)) &&
            (chars <= words * lit(20))).as("is_quality"))
    }, Some(
      s"""SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS chars,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($tok) END AS BIGINT) AS n_tokens,
         |  CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS punct_chars,
         |  CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS BIGINT) AS upper_chars,
         |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digit_chars,
         |  (n_tokens >= 5 AND punct_chars * 100 <= chars * 20
         |   AND upper_chars * 100 <= chars * 30 AND chars <= n_tokens * 20) AS is_quality
         |FROM documents""".stripMargin)),
    // per-paragraph language ID over a deliberately MIXED document: the
    // body paragraph is the (en-marked) corpus soup; Spanish / German /
    // French paragraphs attach by moduli, plus a marker-free line that
    // must come back 'und'. Map-only split + native signal kernel.
    // per-paragraph twin: same split, same padded marker-mass argmax per
    // paragraph, same precedence/tie rules
    Gated("t_para_lang", (s, dir) => {
      val id = col("doc_id")
      val mixed = concat_ws("\n",
        col("text"),
        when(id % 3 === 0, lit("el la los es dias de sol")).otherwise(lit(null)),
        when(id % 2 === 0, lit("der die und das haus am see")).otherwise(lit(null)),
        when(id % 4 === 1, lit("le les des et la rue")).otherwise(lit(null)),
        when(id % 5 === 0, lit("12345 67890 !!!")).otherwise(lit(null)))
      TextAnalytics.paragraphLangs(
        docs(s, dir).select(id, mixed.as("text")), "doc_id", "text")
    }, Some(
      s"""WITH lt AS (SELECT doc_id, concat_ws(chr(10),
         |  text,
         |  CASE WHEN doc_id % 3 = 0 THEN 'el la los es dias de sol' END,
         |  CASE WHEN doc_id % 2 = 0 THEN 'der die und das haus am see' END,
         |  CASE WHEN doc_id % 4 = 1 THEN 'le les des et la rue' END,
         |  CASE WHEN doc_id % 5 = 0 THEN '12345 67890 !!!' END) AS t FROM documents),
         |w AS (SELECT doc_id, string_split(t, chr(10)) AS ps FROM lt),
         |px AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ps[i] AS para
         |  FROM (SELECT doc_id, ps, unnest(generate_series(1, len(ps))) AS i FROM w)),
         |n AS (SELECT doc_id, pos, para,
         |  ' ' || regexp_replace(lower(trim(para)), '\\s+', ' ', 'g') || ' ' AS p FROM px),
         |m AS (SELECT doc_id, pos, para,
         |  $langMassesSql
         |FROM n)
         |SELECT doc_id, pos,
         |  CAST(CASE WHEN length(trim(para)) = 0 THEN 0
         |       ELSE len(regexp_split_to_array(trim(para), '\\s+')) END AS BIGINT) AS n_tokens,
         |  $langGuessSql AS para_lang
         |FROM m""".stripMargin)),
    Gated("t_lang_id", (s, dir) => {
      // native language-signal kernel: 2 byte scans instead of 17 regex
      // passes; the argmax consumes the struct fields
      val d = docs(s, dir)
      val ls = col("_ls")
      d.select(col("doc_id"), TextAnalytics.langSignalsNative(d)(col("text")).as("_ls"))
        .select(col("doc_id") +:
          TextAnalytics.LangMarkers.map { case (lang, _) =>
            ls.getField(s"m_$lang").as(s"m_$lang") } :+
          TextAnalytics.langIdFromSignals(ls).as("lang_guess"): _*)
    }, Some(
      s"""WITH n AS (SELECT doc_id, ' ' || regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') || ' ' AS p FROM documents),
         |m AS (SELECT doc_id,
         |  $langMassesSql
         |FROM n)
         |SELECT doc_id, m_en, m_es, m_de, m_fr,
         |  $langGuessSql AS lang_guess
         |FROM m""".stripMargin)),
    // deflate-compressibility quality signal (rows-only: no deflate in
    // DuckDB; semantics pinned by EntropySpec — the long-period
    // repetition gate t_repetition's bigram horizon misses). Every 25th
    // doc is replaced by repeated spam filler so BOTH branches of the
    // gate run on the gated corpus, not just in the spec
    Gated("t_entropy", (s, dir) =>
      Entropy.stats(
        docs(s, dir).withColumn("text",
          when(col("doc_id") % 25 === 0,
            repeat(lit("subscribe now and buy cheap pills "), 20))
            .otherwise(col("text"))),
        "doc_id", "text"), None),
    // writing-system detection over multi-script synthesis: four
    // replace-and-measure passes + argmax, map-only codegen
    Gated("t_script", (s, dir) => {
      val st = multiScriptText
      docs(s, dir).select(col("doc_id"),
        TextAnalytics.scriptChars(st, "latin").as("latin_chars"),
        TextAnalytics.scriptChars(st, "han").as("han_chars"),
        TextAnalytics.scriptChars(st, "cyrillic").as("cyr_chars"),
        TextAnalytics.scriptChars(st, "arabic").as("ara_chars"),
        TextAnalytics.dominantNonLatin(st).as("dominant_nonlatin"))
    }, Some(
      multiScriptCte + """,
        |c AS (SELECT doc_id,
        |  CAST(length(st) - length(regexp_replace(st, '[A-Za-z]', '', 'g')) AS BIGINT) AS latin_chars,
        |  CAST(length(st) - length(regexp_replace(st, '[\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS han_chars,
        |  CAST(length(st) - length(regexp_replace(st, '[\x{0400}-\x{04ff}]', '', 'g')) AS BIGINT) AS cyr_chars,
        |  CAST(length(st) - length(regexp_replace(st, '[\x{0600}-\x{06ff}]', '', 'g')) AS BIGINT) AS ara_chars
        |FROM t)
        |SELECT doc_id, latin_chars, han_chars, cyr_chars, ara_chars,
        |  CASE WHEN greatest(han_chars, cyr_chars, ara_chars) = 0 THEN 'none'
        |       WHEN han_chars = greatest(han_chars, cyr_chars, ara_chars) THEN 'han'
        |       WHEN cyr_chars = greatest(han_chars, cyr_chars, ara_chars) THEN 'cyrillic'
        |       ELSE 'arabic' END AS dominant_nonlatin
        |FROM c""".stripMargin)),
    // PII scrub: three codegen'd regexp passes + audit counts, map-only
    Gated("t_redact", (s, dir) =>
      docs(s, dir).select(col("doc_id"), piiText.as("pii"))
        .select(col("doc_id"),
          Redactor.emailCount(col("pii")).as("n_emails"),
          Redactor.ipCount(col("pii")).as("n_ips"),
          Redactor.phoneCount(col("pii")).as("n_phones"),
          Redactor.redact(col("pii")).as("redacted")), Some(
      s"""WITH t AS (SELECT doc_id, $piiSqlExpr AS pii
         |FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(regexp_replace(pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(regexp_replace(regexp_replace(pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g'), '\\+[0-9]{7,15}')) AS BIGINT) AS n_phones,
         |  ${redactSql("pii")} AS redacted
         |FROM t""".stripMargin)),
    // token-window packing for a fixed-context trainer: slice/sequence/
    // array_join collection exprs, zero shuffle
    Gated("t_chunks", (s, dir) =>
      Chunker.chunks(docs(s, dir), "doc_id", "text", window = 16, stride = 12), Some(
      s"""WITH t AS (SELECT doc_id, $tok AS tk FROM documents WHERE length(trim(text)) > 0),
         |n AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t),
         |c AS (SELECT doc_id, tk, n,
         |  CASE WHEN n <= 16 THEN 1 ELSE 1 + (n - 16 + 11) // 12 END AS nc FROM n),
         |e AS (SELECT doc_id, tk, n, unnest(generate_series(0, nc - 1)) AS i FROM c)
         |SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         |  CAST(least(16, n - i*12) AS BIGINT) AS n_chunk_tokens,
         |  array_to_string(tk[i*12 + 1 : i*12 + 16], ' ') AS chunk_text
         |FROM e""".stripMargin)),
    // per-source length distribution (exact quartiles, ×4-integerized so
    // the interpolated values hash engine-portably)
    Gated("t_len_quartiles", (s, dir) =>
      graft.stats.CorpusStats.quartilesX4(docs(s, dir), "source", "n_chars"), Some(
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(n_chars) AS BIGINT) AS v_min,
        |  CAST(quantile_cont(n_chars, 0.25) * 4 AS BIGINT) AS p25_x4,
        |  CAST(quantile_cont(n_chars, 0.5) * 4 AS BIGINT) AS p50_x4,
        |  CAST(quantile_cont(n_chars, 0.75) * 4 AS BIGINT) AS p75_x4,
        |  CAST(max(n_chars) AS BIGINT) AS v_max
        |FROM documents GROUP BY 1""".stripMargin))
  )
}
