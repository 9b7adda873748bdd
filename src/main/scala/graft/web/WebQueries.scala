package graft.web

import graft.Fixtures._
import graft.Gated
import graft.pages.PagesGen
import graft.text.TextAnalytics
import graft.text.TextQueries.{piiSqlExpr, qualityPredSql}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gated queries over the web operators (`w_`): url canonicalisation,
  * robots and sitemaps, the link graph and its rankings, templates and
  * mirrors.
  */
object WebQueries {

  /** Blocklist for `w_blocklist_keep` (mirrored in the oracle SQL). */
  private val BlockedDomains: Seq[String] =
    Seq("site3.com", "site5.org", "site7.net", "site0.com")

  /** Deterministic sitemap XML per document (mirrored in the oracle SQL):
    * 1–3 `<url>` blocks into the same site0–12 × {com,org,net} domain
    * space the other web ops use; `<lastmod>` present only on alternating
    * (doc_id + j) parities so the optional-field path is exercised both
    * ways.
    */
  private[graft] def sitemapXml: Column = {
    val id = col("doc_id")
    def block(j: Int): Column = {
      val site = (id * 3 + lit(j * 5 + 1)) % 13
      val tld = when((id + lit(j)) % 3 === 0, lit(".com"))
        .when((id + lit(j)) % 3 === 1, lit(".org")).otherwise(lit(".net"))
      val lastmod = when((id + lit(j)) % 2 === 0,
        concat(lit("<lastmod>2024-0"), ((id + lit(j)) % 9 + 1).cast("string"),
          lit("-15</lastmod>"))).otherwise(lit(""))
      val b = concat(lit("<url><loc>https://site"), site.cast("string"), tld,
        lit(s"/sm$j</loc>"), lastmod, lit("</url>"))
      if (j == 0) b else when(id % 3 >= j, b).otherwise(lit(""))
    }
    concat(lit("<?xml version=\"1.0\"?><urlset>"),
      block(0), block(1), block(2), lit("</urlset>"))
  }

  /** SQL twin of [[sitemapXml]]. */
  private[graft] def sitemapSqlExpr: String = {
    def blk(j: Int): String = {
      val site = s"CAST((doc_id * 3 + ${j * 5 + 1}) % 13 AS VARCHAR)"
      val tld = s"(CASE WHEN (doc_id + $j) % 3 = 0 THEN '.com' " +
        s"WHEN (doc_id + $j) % 3 = 1 THEN '.org' ELSE '.net' END)"
      val lastmod = s"(CASE WHEN (doc_id + $j) % 2 = 0 THEN '<lastmod>2024-0' || " +
        s"CAST((doc_id + $j) % 9 + 1 AS VARCHAR) || '-15</lastmod>' ELSE '' END)"
      val b = s"'<url><loc>https://site' || $site || $tld || '/sm$j</loc>' || $lastmod || '</url>'"
      if (j == 0) b else s"(CASE WHEN doc_id % 3 >= $j THEN $b ELSE '' END)"
    }
    s"""'<?xml version="1.0"?><urlset>' || ${blk(0)} || ${blk(1)} || ${blk(2)} || '</urlset>'"""
  }

  /** Synthetic page head for the metadata-extraction gate: every field
    * varies by doc_id moduli so the oracle recomputes EXPECTED values from
    * the moduli alone — the Spark side must actually parse the html to
    * agree. Exercises: missing title (%5==4), messy title whitespace +
    * `&amp;` entity, meta description in BOTH attribute orders and quote
    * styles (%3), OpenGraph title (%4==0), canonical link in both orders
    * (%2), charset as `<meta charset>` and as `http-equiv` content (%6),
    * plus keyword/og:image/stylesheet DECOYS that anchored patterns must
    * skip.
    */
  private def metaHtml: Column = {
    val id = col("doc_id")
    val title = when(id % 5 === 4, lit(""))
      .otherwise(concat(lit("<TITLE>\n  Doc "), (id % 100).cast("string"),
        lit("   &amp; co </TITLE>")))
    val desc = when(id % 3 === 0,
        concat(lit("<meta name=\"description\" content=\"Summary "),
          (id % 17).cast("string"), lit(" &amp; more\">")))
      .when(id % 3 === 1,
        concat(lit("<meta content='Alt summary "), (id % 17).cast("string"),
          lit("' name='description'>")))
      .otherwise(lit(""))
    val og = when(id % 4 === 0,
        concat(lit("<meta property=\"og:title\" content=\"OG "),
          (id % 13).cast("string"), lit("\">")))
      .otherwise(lit(""))
    val canon = when(id % 2 === 0,
        concat(lit("<link rel=\"canonical\" href=\"https://site"),
          (id % 13).cast("string"), lit(".com/c"), (id % 50).cast("string"), lit("\">")))
      .otherwise(concat(lit("<LINK HREF='https://alt"), (id % 13).cast("string"),
        lit(".org/c' REL='canonical'>")))
    val cs = when(id % 6 === 0, lit("<meta charset=\"UTF-8\">"))
      .when(id % 6 === 3,
        lit("<meta http-equiv=\"Content-Type\" content=\"text/html; charset=ISO-8859-1\">"))
      .otherwise(lit(""))
    val decoys = lit("<meta name=\"keywords\" content=\"k1, k2\">" +
      "<meta property=\"og:image\" content=\"https://img.example/i.png\">" +
      "<link rel=\"stylesheet\" href=\"/s.css\">")
    concat(lit("<html><head>"), cs, title, decoys, desc, og, canon,
      lit("</head><body><p>body</p></body></html>"))
  }

  /** Text with deterministic synthetic outlinks appended (mirrored in the
    * oracle SQL): 1–3 absolute urls per document into the same
    * site0–12 × {com,org,net} domain space [[synthUrl]] draws page urls
    * from, so the harvested link graph connects.
    */
  private def outlinkText: Column = {
    val id = col("doc_id")
    def link(j: Int): Column = {
      val site = (id * 3 + lit(j * 5 + 1)) % 13
      val tld = when((id + lit(j)) % 3 === 0, lit(".com"))
        .when((id + lit(j)) % 3 === 1, lit(".org")).otherwise(lit(".net"))
      concat(lit(" https://site"), site.cast("string"), tld, lit(s"/p$j"))
    }
    concat(col("text"), link(0),
      when(id % 3 >= 1, link(1)).otherwise(lit("")),
      when(id % 3 >= 2, link(2)).otherwise(lit("")))
  }

  /** The synthetic-outlink text expression (twin of [[outlinkText]]).
    * Single line for the same stripMargin reason as [[piiSqlExpr]].
    */
  private val outlinkSqlExpr: String = {
    def link(j: Int) =
      s"' https://site' || CAST((doc_id * 3 + ${j * 5 + 1}) % 13 AS VARCHAR) || " +
        s"(CASE WHEN (doc_id + $j) % 3 = 0 THEN '.com' WHEN (doc_id + $j) % 3 = 1 THEN '.org' ELSE '.net' END) || '/p$j'"
    s"text || ${link(0)} || (CASE WHEN doc_id % 3 >= 1 THEN ${link(1)} ELSE '' END)" +
      s" || (CASE WHEN doc_id % 3 >= 2 THEN ${link(2)} ELSE '' END)"
  }

  /** Text with deterministic in-content citation anchors appended
    * (mirrored in the oracle SQL): every 5th document links
    * `https://cite.example/p{id%17}`, every 10th repeats the same anchor
    * — so the anchor harvest sees variable per-target inlink counts AND
    * a mentions > inlinks case (same page citing a target twice). The
    * moduli are deliberately coprime to the generator's `% 3 == 0` PDF
    * route (a `% 6` citation would only ever land on PDF pages and the
    * harvest branch would be dead).
    */
  private def citedText: Column = {
    val id = col("doc_id")
    def cite: Column = concat(
      lit(" <a href=\"https://cite.example/p"), (id % 17).cast("string"),
      lit("\">cite p"), (id % 17).cast("string"), lit("</a>"))
    concat(col("text"),
      when(id % 5 === 0, cite).otherwise(lit("")),
      when(id % 10 === 0, cite).otherwise(lit("")))
  }

  /** Synthetic page markup for the robots gate (mirrored in the oracle
    * SQL as modulus math): every 7th doc opts out via
    * `<meta name="robots" content="noindex,nofollow">`, every 11th uses
    * the ATTRIBUTE-SWAPPED spelling `<meta content="nofollow"
    * name="robots">` — so the Spark-side regex must handle both orders
    * while the oracle stays closed-form.
    */
  private[graft] def robotsHtml: Column = {
    val id = col("doc_id")
    concat(lit("<html><head>"),
      when(id % 7 === 0, lit("<meta name=\"robots\" content=\"noindex,nofollow\">"))
        .when(id % 11 === 0, lit("<meta content=\"nofollow\" name=\"robots\">"))
        .otherwise(lit("")),
      lit("<title>d</title></head><body>"), col("text"), lit("</body></html>"))
  }

  /** Synthetic CMS-style markup for the template-fingerprint query
    * (mirrored in the oracle SQL): three page templates chosen by doc_id —
    * an article whose repeated-paragraph count varies with `id % 3` (one
    * logical template splits into three structural variants), a
    * nav/listing page, and a bare table page. The visible text differs per
    * page (a prefix of the document body rides inside the tags) while the
    * tag skeleton is family-constant — exactly the share-structure /
    * differ-text shape the text-level dedup family cannot group.
    */
  private def templHtml: Column = {
    val id = col("doc_id")
    val body = substring(col("text"), 1, 40)
    val para = concat(lit("<p>"), body, lit("</p>"))
    val article = concat(
      lit("<html><head><title>t</title></head><body><article><h1>h</h1>"),
      para,
      when(id % 3 >= 1, para).otherwise(lit("")),
      when(id % 3 === 2, para).otherwise(lit("")),
      lit("</article></body></html>"))
    val listing = concat(
      lit("<html><head><title>t</title></head><body><nav><a>a</a><a>b</a></nav><ul><li>"),
      body, lit("</li><li>x</li></ul><footer><p>c</p></footer></body></html>"))
    val tablePage = concat(
      lit("<html><body><table><tr><td>"), body,
      lit("</td><td>y</td></tr></table></body></html>"))
    when(id % 5 <= 2, article).when(id % 5 === 3, listing).otherwise(tablePage)
  }

  /** SQL twin of [[templHtml]]. NB interpolated into an oracle string that
    * itself calls `.stripMargin` — no line here may start with `|`, or the
    * outer strip eats one pipe of a `||` operator.
    */
  private val templHtmlSql: String =
    """CASE WHEN doc_id % 5 <= 2 THEN
      |    '<html><head><title>t</title></head><body><article><h1>h</h1>' ||
      |    '<p>' || substr(text, 1, 40) || '</p>' ||
      |    (CASE WHEN doc_id % 3 >= 1 THEN '<p>' || substr(text, 1, 40) || '</p>' ELSE '' END) ||
      |    (CASE WHEN doc_id % 3 = 2 THEN '<p>' || substr(text, 1, 40) || '</p>' ELSE '' END) ||
      |    '</article></body></html>'
      |  WHEN doc_id % 5 = 3 THEN
      |    '<html><head><title>t</title></head><body><nav><a>a</a><a>b</a></nav><ul><li>' ||
      |    substr(text, 1, 40) || '</li><li>x</li></ul><footer><p>c</p></footer></body></html>'
      |  ELSE '<html><body><table><tr><td>' || substr(text, 1, 40) ||
      |    '</td><td>y</td></tr></table></body></html>' END""".stripMargin

  /** Shared CTE chain for the link-graph oracles: outlink-augmented text
    * (`lt`), harvested urls (`hv`, twin of [[LinkGraph.harvestUrls]]),
    * destination registered domains (`dp` — strips fragment/scheme/port like
    * [[UrlOps.host]] + [[UrlOps.registeredDomain]]; stripping ALL ports is
    * equivalent to the scheme-conditional strip because registeredDomain
    * strips any remaining port), and the weighted `edges` list.
    * Assumes nothing; starts its own chain from [[urlCte]]'s `p5`.
    */
  private val linkEdgesCte =
    s"""$urlCte,
       |lt AS (SELECT domain AS src, $outlinkSqlExpr AS ltext FROM p5),
       |hv AS (SELECT src, unnest(regexp_extract_all(ltext, '${LinkGraph.UrlPattern}')) AS ourl FROM lt),
       |nf AS (SELECT src, regexp_replace(ourl, '#.*$$', '') AS u2 FROM hv),
       |hp AS (SELECT src, split_part(split_part(CASE WHEN instr(u2, '://') = 0 THEN u2 ELSE substr(u2, instr(u2, '://') + 3) END, '/', 1), '?', 1) AS hostport FROM nf),
       |dp AS (SELECT src, regexp_extract(regexp_replace(lower(hostport), ':[0-9]+$$', ''), '([^.]+\\.[^.]+)$$', 1) AS dst FROM hp),
       |edges AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS weight FROM dp GROUP BY 1, 2)""".stripMargin

  /** Spark side of [[linkEdgesCte]]: [[LinkGraph.domainEdges]] over the
    * [[outlinkText]] of pages at their [[synthUrl]]s. */
  private def linkEdges(s: SparkSession, dir: String): DataFrame =
    LinkGraph.domainEdges(docs(s, dir).select(synthUrl.as("url"), outlinkText.as("text")), "url", "text")

  /** Unrolled fixed-iteration PageRank (twin of
    * [[LinkGraph.domainRank]]): chained CTEs r0..rN, all integer
    * arithmetic (`//` in DuckDB = `DIV` in Spark for the non-negative
    * values here). Each iteration carries the DANGLING-MASS term: the
    * sink slice's total rank (NOT EXISTS mirrors Spark's left_anti null
    * semantics) divided by the node count, added to every node's received
    * mass before damping.
    */
  private def domainRankSql(iters: Int): String =
    domainRankChain(iters) + s"\nSELECT domain, rank_mass FROM r$iters"

  /** Convergence-telemetry twin ([[LinkGraph.domainRankWithDeltas]]):
    * the SAME unrolled chain, then one |r_k − r_{k−1}| L1 sum per round —
    * so the oracle gate proves the telemetry integers, not just the
    * final vector.
    */
  private def domainRankDeltasSql(iters: Int): String =
    domainRankChain(iters) + "\n" + (1 to iters).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS iter,
         |  CAST(sum(abs(a.rank_mass - b.rank_mass)) AS BIGINT) AS l1_delta
         |  FROM r$k a JOIN r${k - 1} b ON b.domain = a.domain""".stripMargin
    }.mkString(" UNION ALL ")

  private def domainRankChain(iters: Int): String = {
    val head =
      s"""WITH $linkEdgesCte,
         |capped AS (SELECT src, dst, CAST(least(weight, 3) AS BIGINT) AS weight FROM edges),
         |nodes AS (SELECT DISTINCT domain FROM (SELECT src AS domain FROM capped UNION ALL SELECT dst AS domain FROM capped) t),
         |pr AS (SELECT CAST(${LinkGraph.RankScale} // count(*) AS BIGINT) AS init, count(*) AS n FROM nodes),
         |ow AS (SELECT src, CAST(sum(weight) AS BIGINT) AS out_w FROM capped GROUP BY 1),
         |e2 AS (SELECT e.src, e.dst, e.weight, o.out_w FROM capped e JOIN ow o ON e.src = o.src),
         |r0 AS (SELECT domain, (SELECT init FROM pr) AS rank_mass FROM nodes)""".stripMargin
    val iterCtes = (1 to iters).map { k =>
      s""",
         |s$k AS (SELECT CAST(COALESCE(sum(r.rank_mass), 0) // (SELECT n FROM pr) AS BIGINT) AS share
         |  FROM r${k - 1} r WHERE NOT EXISTS (SELECT 1 FROM capped c2 WHERE c2.src = r.domain)),
         |r$k AS (SELECT n.domain, CAST((15 * (SELECT init FROM pr)) // 100 + (85 * (COALESCE(c.s, 0) + (SELECT share FROM s$k))) // 100 AS BIGINT) AS rank_mass
         |  FROM nodes n LEFT JOIN (SELECT e2.dst AS domain, CAST(sum((r.rank_mass * e2.weight) // e2.out_w) AS BIGINT) AS s
         |    FROM e2 JOIN r${k - 1} r ON r.domain = e2.src GROUP BY 1) c ON n.domain = c.domain)""".stripMargin
    }.mkString
    head + iterCtes
  }

  /** Unrolled fixed-iteration HITS (twin of
    * [[LinkGraph.hitsRank]]): chained CTEs a1/h1..aN/hN, all
    * integer (`//` == `DIV` on the non-negative values here). Each round
    * renormalizes by `max(total DIV HitsScale, 1)` exactly as the Spark
    * side does, so the hash match proves the integer normalization
    * semantics, not just the fixpoint direction.
    */
  private def hitsSql(iters: Int): String =
    hitsChain(iters) +
      s"\nSELECT a.domain, a.auth, h.hub FROM a$iters a JOIN h$iters h ON h.domain = a.domain"

  /** HITS convergence-telemetry twin ([[LinkGraph.hitsRankWithDeltas]]):
    * the SAME unrolled chain, then per-round L1 sums for both sides
    * (round 0 = the uniform init both vectors start from) — the jitter-
    * floor behavior the spec documents becomes oracle-gated integers.
    */
  private def hitsDeltasSql(iters: Int): String =
    hitsChain(iters) + "\n" + (1 to iters).map { k =>
      s"""SELECT CAST($k AS BIGINT) AS iter,
         |  (SELECT CAST(sum(abs(x.auth - y.auth)) AS BIGINT)
         |     FROM a$k x JOIN a${k - 1} y ON y.domain = x.domain) AS l1_delta_auth,
         |  (SELECT CAST(sum(abs(x.hub - y.hub)) AS BIGINT)
         |     FROM h$k x JOIN h${k - 1} y ON y.domain = x.domain) AS l1_delta_hub""".stripMargin
    }.mkString(" UNION ALL ")

  private def hitsChain(iters: Int): String = {
    val sc = LinkGraph.HitsScale
    val head =
      s"""WITH $linkEdgesCte,
         |capped AS (SELECT src, dst, CAST(least(weight, 3) AS BIGINT) AS weight FROM edges),
         |nodes AS (SELECT DISTINCT domain FROM (SELECT src AS domain FROM capped UNION ALL SELECT dst AS domain FROM capped) t),
         |h0 AS (SELECT domain, CAST($sc AS BIGINT) AS hub FROM nodes),
         |a0 AS (SELECT domain, CAST($sc AS BIGINT) AS auth FROM nodes)""".stripMargin
    val iterCtes = (1 to iters).map { k =>
      s""",
         |ar$k AS (SELECT e.dst AS domain, CAST(sum(h.hub * e.weight) AS BIGINT) AS raw
         |  FROM capped e JOIN h${k - 1} h ON h.domain = e.src GROUP BY 1),
         |da$k AS (SELECT greatest(sum(raw) // $sc, 1) AS d FROM ar$k),
         |a$k AS (SELECT n.domain, CAST(COALESCE(ar.raw, 0) // (SELECT d FROM da$k) AS BIGINT) AS auth
         |  FROM nodes n LEFT JOIN ar$k ar ON ar.domain = n.domain),
         |hr$k AS (SELECT e.src AS domain, CAST(sum(a.auth * e.weight) AS BIGINT) AS raw
         |  FROM capped e JOIN a$k a ON a.domain = e.dst GROUP BY 1),
         |dh$k AS (SELECT greatest(sum(raw) // $sc, 1) AS d FROM hr$k),
         |h$k AS (SELECT n.domain, CAST(COALESCE(hr.raw, 0) // (SELECT d FROM dh$k) AS BIGINT) AS hub
         |  FROM nodes n LEFT JOIN hr$k hr ON hr.domain = n.domain)""".stripMargin
    }.mkString
    head + iterCtes
  }

  val all: Seq[Gated] = Seq(
    // publisher opt-out gate: meta-robots directives detected in either
    // attribute order, map-only — composable with the scan so opted-out
    // payloads drop before they ever shuffle
    // closed-form twin of the robotsHtml synthesis: %7 docs carry
    // noindex,nofollow (name-first attr order), %11 docs nofollow only
    // (content-first order); the Spark side must parse both spellings
    Gated("w_robots_gate", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), robotsHtml.as("html"))
      d.select(col("doc_id"),
        UrlOps.metaRobots(col("html"), "noindex").as("noindex"),
        UrlOps.metaRobots(col("html"), "nofollow").as("nofollow"))
    }, Some(
      """SELECT doc_id, (doc_id % 7 = 0) AS noindex,
        |  (doc_id % 7 = 0 OR doc_id % 11 = 0) AS nofollow
        |FROM documents""".stripMargin)),
    // robots.txt scheduling directives: Crawl-delay per winning group
    // (decimal seconds → ms, MAX over RFC-combined duplicate groups) and
    // GLOBAL Sitemap lines. Synthesis exercises: '*' fallback when no
    // graftbot group exists (www hosts → 2000 ms), a graftbot group with
    // a fractional delay (cdn → 1.5 s), a duplicate graftbot group later
    // in the file (.org → max(1500, 4000)), and 1 vs 2 sitemap lines.
    // directives twin: expected delays/sitemaps recomputed from the host
    // predicates the synthesis used — the Spark side must actually parse
    // group selection, duplicate-group max-merge, and global sitemaps
    Gated("w_robots_directives", (s, dir) => {
      val hosts = docs(s, dir).select(UrlOps.host(synthUrl).as("host")).distinct()
      val body = concat(
        lit("Sitemap: https://"), col("host"), lit("/sitemap.xml\n"),
        lit("User-agent: *\nDisallow: /private\nCrawl-delay: 2\n\n"),
        when(col("host").startsWith("cdn."),
          lit("User-agent: graftbot\nDisallow: /x\nCrawl-delay: 1.5\n"))
          .otherwise(lit("")),
        when(col("host").endsWith(".org"), concat(
          lit("Sitemap: https://"), col("host"),
          lit("/s2.xml\nUser-agent: graftbot\nCrawl-delay: 4\n")))
          .otherwise(lit("")))
      RobotsTxt.directivesFrame(
          hosts.withColumn("body", body), "host", "body", "graftbot/1.0")
        .select(col("host"), col("crawl_delay_ms"),
          array_join(col("sitemaps"), ",").as("sitemaps"))
    }, Some(
      s"""WITH $urlCte,
         |h AS (SELECT DISTINCT host FROM p5)
         |SELECT host,
         |  CAST(CASE WHEN host LIKE 'cdn.%' AND host LIKE '%.org' THEN 4000
         |            WHEN host LIKE 'cdn.%' THEN 1500
         |            WHEN host LIKE '%.org' THEN 4000
         |            ELSE 2000 END AS BIGINT) AS crawl_delay_ms,
         |  CASE WHEN host LIKE '%.org'
         |       THEN 'https://' || host || '/sitemap.xml,https://' || host || '/s2.xml'
         |       ELSE 'https://' || host || '/sitemap.xml' END AS sitemaps
         |FROM h""".stripMargin)),
    // WAT-analog page metadata: the Spark side PARSES the synthesized
    // head (both attribute orders, both quote styles, decoy tags, messy
    // whitespace, entities); the oracle recomputes expected values from
    // the synthesis moduli alone — agreement proves the parse, not the
    // synthesis. Map-only codegen regexps; zero exchanges.
    // metadata twin: expected values recomputed from the metaHtml moduli
    // (never from the html), so the Spark side must genuinely parse
    Gated("w_meta_extract", (s, dir) => {
      val h = docs(s, dir).select(col("doc_id"), metaHtml.as("html"))
      h.select(col("doc_id"),
        graft.html.MetaExtract.title(col("html")).as("title"),
        graft.html.MetaExtract.metaContent(col("html"), "description").as("description"),
        graft.html.MetaExtract.ogContent(col("html"), "og:title").as("og_title"),
        graft.html.MetaExtract.canonical(col("html")).as("canonical"),
        graft.html.MetaExtract.charset(col("html")).as("charset"))
    }, Some(
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 4 THEN ''
        |       ELSE 'Doc ' || CAST(doc_id % 100 AS VARCHAR) || ' & co' END AS title,
        |  CASE WHEN doc_id % 3 = 0 THEN 'Summary ' || CAST(doc_id % 17 AS VARCHAR) || ' & more'
        |       WHEN doc_id % 3 = 1 THEN 'Alt summary ' || CAST(doc_id % 17 AS VARCHAR)
        |       ELSE '' END AS description,
        |  CASE WHEN doc_id % 4 = 0 THEN 'OG ' || CAST(doc_id % 13 AS VARCHAR) ELSE '' END AS og_title,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN 'https://site' || CAST(doc_id % 13 AS VARCHAR) || '.com/c' || CAST(doc_id % 50 AS VARCHAR)
        |       ELSE 'https://alt' || CAST(doc_id % 13 AS VARCHAR) || '.org/c' END AS canonical,
        |  CASE WHEN doc_id % 6 = 0 THEN 'utf-8'
        |       WHEN doc_id % 6 = 3 THEN 'iso-8859-1'
        |       ELSE '' END AS charset
        |FROM documents""".stripMargin)),
    // url canonicalization: the key-normalization step every url-keyed op
    // (dedup, resume, frontier, domain stats) depends on — map-only
    Gated("w_url_canon", (s, dir) => {
      val withUrl = docs(s, dir).select(col("doc_id"), synthUrl.as("url"))
      withUrl.select(col("doc_id"), col("url"),
        UrlOps.canonicalize(col("url")).as("canon_url"),
        UrlOps.host(col("url")).as("host"),
        UrlOps.registeredDomain(UrlOps.host(col("url"))).as("domain"))
    }, Some(
      s"""WITH $urlCte
         |SELECT doc_id, url,
         |  scheme || '://' || host || path || (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END) AS canon_url,
         |  host, domain
         |FROM p5""".stripMargin)),
    // per-registered-domain curation stats: map-side partial agg, only
    // (domain, counters) shuffle
    Gated("w_domain_stats", (s, dir) =>
      UrlOps.domainStats(
        docs(s, dir).select(synthUrl.as("url"), TextAnalytics.isQuality(col("text")).as("q")),
        "url", "q"), Some(
      s"""WITH $urlCte
         |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
         |  CAST(count(*) FILTER (WHERE $qualityPredSql) AS BIGINT) AS n_quality
         |FROM p5 GROUP BY 1""".stripMargin)),
    // url-structure frontier features: depth / param count / root flag —
    // the pre-fetch prioritization signals, map-only string expressions
    // (%11 docs get a root url so depth 0 / is_root true really occur)
    // url-features twin: same fragment strip, authority split, and
    // path/query cuts; %11 root-url override replayed with a CASE
    Gated("w_url_features", (s, dir) => {
      val u = when(col("doc_id") % 11 === 0,
        concat(lit("https://root"), (col("doc_id") % 5).cast("string"), lit(".com/")))
        .otherwise(synthUrl)
      docs(s, dir).select(col("doc_id"), u.as("url"))
        .select(col("doc_id"),
          UrlOps.pathDepth(col("url")).as("path_depth"),
          UrlOps.queryParamCount(col("url")).as("n_params"),
          (UrlOps.pathDepth(col("url")) === 0).as("is_root"))
    }, Some(
      s"""WITH $urlCte,
         |uu AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
         |  THEN 'https://root' || CAST(doc_id % 5 AS VARCHAR) || '.com/' ELSE url END AS u2 FROM u),
         |nf AS (SELECT doc_id, regexp_replace(u2, '#.*$$', '') AS nfu FROM uu),
         |r AS (SELECT doc_id, CASE WHEN instr(nfu, '://') = 0 THEN nfu
         |  ELSE substr(nfu, instr(nfu, '://') + 3) END AS rest FROM nf),
         |pq AS (SELECT doc_id, regexp_replace(rest, '^[^/?]*', '') AS pathq FROM r),
         |f AS (SELECT doc_id, split_part(pathq, '?', 1) AS path,
         |  CASE WHEN instr(pathq, '?') = 0 THEN ''
         |       ELSE substr(pathq, instr(pathq, '?') + 1) END AS q FROM pq)
         |SELECT doc_id,
         |  CAST(len(list_filter(string_split(path, '/'), x -> x <> '')) AS BIGINT) AS path_depth,
         |  CAST(CASE WHEN q = '' THEN 0 ELSE len(string_split(q, '&')) END AS BIGINT) AS n_params,
         |  (len(list_filter(string_split(path, '/'), x -> x <> '')) = 0) AS is_root
         |FROM f""".stripMargin)),
    // domain-concentration data card: exact Gini + top share over the
    // per-domain doc counts via the counts-of-counts closed form — the
    // only ordered relation is distinct count VALUES (metadata-sized);
    // DECIMAL(38,0) arithmetic, HUGEINT-replayed by the oracle
    // gini twin: same counts-of-counts closed form, HUGEINT for the
    // 10^26-scale numerator, same non-negative floor division
    Gated("w_domain_gini", (s, dir) =>
      graft.stats.CorpusStats.concentration(
        docs(s, dir).select(
          UrlOps.registeredDomain(UrlOps.host(synthUrl)).as("domain")), "domain"), Some(
      s"""WITH $urlCte,
         |counts AS (SELECT domain, count(*) AS cnt FROM p5 GROUP BY 1),
         |cc AS (SELECT cnt, count(*) AS m FROM counts GROUP BY 1),
         |w AS (SELECT cnt, m, COALESCE(sum(m) OVER (ORDER BY cnt
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS a FROM cc),
         |t AS (SELECT
         |  -- m·a and the m·(m+1)/2 tie term widened BEFORE the products
         |  -- (BIGINT m*(m+1) wraps past m ≈ 3e9; Spark mirrors with the
         |  -- even-half split in DECIMAL(38,0))
         |  CAST(sum(CAST(cnt AS HUGEINT) * (CAST(m AS HUGEINT) * a +
         |    (CASE WHEN m % 2 = 0 THEN m // 2 ELSE m END) *
         |    CAST(CASE WHEN m % 2 = 0 THEN m + 1 ELSE (m + 1) // 2 END AS HUGEINT))) AS HUGEINT) AS sumic,
         |  CAST(sum(m) AS HUGEINT) AS n,
         |  CAST(sum(CAST(cnt AS HUGEINT) * m) AS HUGEINT) AS s,
         |  CAST(max(cnt) AS HUGEINT) AS mx FROM w)
         |SELECT CAST(n AS BIGINT) AS n_keys, CAST(s AS BIGINT) AS n_docs,
         |  CAST(((2 * sumic - (n + 1) * s) * 1000000) // (n * s) AS BIGINT) AS gini_ppm,
         |  CAST((mx * 1000000) // s AS BIGINT) AS top_share_ppm
         |FROM t""".stripMargin)),
    // smoothed per-domain quality prior: α pseudo-observations at the
    // global rate, so thin domains regress to the corpus mean instead of
    // outranking well-sampled ones — the frontier's ranking signal
    // prior twin: same per-domain counts, same one-row global rate, same
    // positive integer DIV smoothing
    Gated("w_domain_prior", (s, dir) =>
      UrlOps.domainPriors(
        docs(s, dir).select(synthUrl.as("url"), TextAnalytics.isQuality(col("text")).as("q")),
        "url", "q", alpha = 20), Some(
      s"""WITH $urlCte,
         |ds AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) FILTER (WHERE $qualityPredSql) AS BIGINT) AS n_quality
         |FROM p5 GROUP BY 1),
         |g AS (SELECT CAST(sum(n_quality) * 1000000 // sum(n_docs) AS BIGINT) AS global_ppm FROM ds)
         |SELECT domain, n_docs, n_quality, global_ppm,
         |  CAST((n_quality * 1000000 + 20 * global_ppm) // (n_docs + 20) AS BIGINT) AS prior_ppm
         |FROM ds, g""".stripMargin)),
    // recrawl consolidation: canonical-url revision stats (fetch count,
    // distinct content versions, latest-wins id + fingerprint) — one slim
    // (canon_url, id, fp) exchange, payloads never move
    // revision twin: same canonical assembly as w_url_canon, same
    // normalized-md5 fingerprint as t_fingerprint; latest-wins = max_by
    // on the unique doc_id (fetch order)
    Gated("w_url_revisions", (s, dir) =>
      UrlOps.urlRevisions(
        docs(s, dir).select(col("doc_id"), synthUrl.as("url"),
          TextAnalytics.fingerprint(col("text")).as("fp")),
        "url", "doc_id", "fp"), Some(
      s"""WITH $urlCte,
         |c AS (SELECT doc_id,
         |  scheme || '://' || host || path || (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END) AS canon_url,
         |  $fpSql AS fp FROM p5)
         |SELECT canon_url, CAST(count(*) AS BIGINT) AS n_fetches,
         |  CAST(count(DISTINCT fp) AS BIGINT) AS n_versions,
         |  CAST(max(doc_id) AS BIGINT) AS latest_id,
         |  max_by(fp, doc_id) AS latest_fp
         |FROM c GROUP BY 1""".stripMargin)),
    // change-rate recrawl scheduling (Cho & Garcia-Molina refresh
    // policy): revisit interval inversely proportional to the observed
    // per-url change rate, tiered for the frontier — rides the
    // urlRevisions aggregate, map-only on top
    // recrawl twin: same canonical/fingerprint aggregate, same DIV
    // arithmetic and clamps
    Gated("w_recrawl_sched", (s, dir) => {
      val id = col("doc_id")
      // fetch history synthesis: every even doc refetched once (url from
      // the ORIGINAL id), every 4th refetch observing changed content —
      // so hot (changed), cold-with-evidence (unchanged refetch) and
      // cold-no-evidence (single fetch) all occur at the gated scale
      val base = docs(s, dir).select(id, synthUrl.as("url"),
        TextAnalytics.fingerprint(col("text")).as("fp"))
      val refetch = docs(s, dir).filter(id % 2 === 0)
        .select((id + lit(1000000L)).as("doc_id"), synthUrl.as("url"),
          TextAnalytics.fingerprint(
            when(id % 4 === 0, concat(col("text"), lit(" updated"))).otherwise(col("text"))).as("fp"))
      UrlOps.recrawlSchedule(base.unionAll(refetch), "url", "doc_id", "fp")
    }, Some(
      s"""WITH $urlCte,
         |c0 AS (SELECT doc_id,
         |  scheme || '://' || host || path || (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END) AS canon_url,
         |  text FROM p5),
         |c AS (SELECT doc_id, canon_url, $fpSql AS fp FROM c0
         |      UNION ALL
         |      SELECT doc_id + 1000000 AS doc_id, canon_url,
         |        md5(regexp_replace(lower(trim(
         |          CASE WHEN doc_id % 4 = 0 THEN text || ' updated' ELSE text END)), '\\s+', ' ', 'g')) AS fp
         |      FROM c0 WHERE doc_id % 2 = 0),
         |r AS (SELECT canon_url, CAST(count(*) AS BIGINT) AS n_fetches,
         |  CAST(count(DISTINCT fp) AS BIGINT) AS n_versions FROM c GROUP BY 1),
         |s AS (SELECT canon_url, n_fetches, n_versions,
         |  CAST((n_versions - 1) * 1000000 // greatest(n_fetches - 1, 1) AS BIGINT) AS change_ppm FROM r)
         |SELECT canon_url, n_fetches, n_versions, change_ppm,
         |  CASE WHEN change_ppm >= 500000 THEN 'hot'
         |       WHEN change_ppm >= 100000 THEN 'warm' ELSE 'cold' END AS tier,
         |  CAST(least(720, greatest(6, 6 * 1000000 // greatest(change_ppm, 1))) AS BIGINT) AS interval_h
         |FROM s""".stripMargin)),
    // blocklist pruning as a broadcast anti-join (never isin literals):
    // the corpus side stays map-only
    Gated("w_blocklist_keep", (s, dir) => {
      import s.implicits._
      val blocked = BlockedDomains.toDF("domain")
      UrlOps.dropBlockedDomains(docs(s, dir).select(col("doc_id"), synthUrl.as("url")), "url", blocked)
        .select(col("doc_id"), col("domain"))
    }, Some(
      s"""WITH $urlCte
         |SELECT doc_id, domain FROM p5
         |WHERE domain NOT IN (${BlockedDomains.map(d => s"'$d'").mkString(", ")})""".stripMargin)),
    // outlink harvesting → weighted registered-domain edge list: map-only
    // regexp harvest + explode, then a (src, dst) count with map-side
    // partials — the corpus never shuffles, only domain pairs
    Gated("w_link_graph", (s, dir) =>
      linkEdges(s, dir), Some(
      s"""WITH $linkEdgesCte
         |SELECT src, dst, weight FROM edges""".stripMargin)),
    // per-domain triangle count + clustering coefficient: the link-farm
    // density signal, via degree-ordered orientation (wedge join bounded
    // O(sqrt m) per vertex — hub triangles counted at their low-degree
    // neighbors)
    // triangle twin: canonical name-ordered triple join over the
    // undirected simple edge set (orientation is an enumeration detail —
    // per-domain counts are orientation-free)
    Gated("w_link_triangles", (s, dir) =>
      LinkGraph.triangleStats(linkEdges(s, dir)), Some(
      s"""WITH $linkEdgesCte,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
         |        FROM edges WHERE src <> dst),
         |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS degree FROM (
         |        SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) GROUP BY 1),
         |tri AS (SELECT e1.a AS u, e1.b AS x, e2.b AS y
         |        FROM und e1 JOIN und e2 ON e2.a = e1.b
         |        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
         |pd AS (SELECT v, CAST(count(*) AS BIGINT) AS n_triangles FROM (
         |        SELECT u AS v FROM tri UNION ALL SELECT x AS v FROM tri
         |        UNION ALL SELECT y AS v FROM tri) GROUP BY 1)
         |SELECT deg.v AS domain, degree,
         |  CAST(coalesce(pd.n_triangles, 0) AS BIGINT) AS n_triangles,
         |  CAST(CASE WHEN degree >= 2
         |       THEN 2 * coalesce(pd.n_triangles, 0) * 1000000 // (degree * (degree - 1))
         |       ELSE 0 END AS BIGINT) AS clustering_ppm
         |FROM deg LEFT JOIN pd ON pd.v = deg.v""".stripMargin)),
    // fixed-iteration integerized PageRank over the harvested graph: five
    // join rounds over slim (domain, rank) rows; documents appear only in
    // the one edge-building pass
    // weightCap = 3 exercises the link-farm clamp; the oracle keeps the
    // NAIVE (rank * weight) DIV out_w product, so the hash match also
    // proves the overflow-safe decomposition is semantics-free
    Gated("w_domain_rank", (s, dir) =>
      LinkGraph.domainRank(linkEdges(s, dir), iters = 5, weightCap = 3L), Some(domainRankSql(5))),
    // the convergence-telemetry twin of the same 5-round run: one slim
    // (domain, score) join + 1-row agg per round emits (iter, l1_delta);
    // the oracle recomputes every |r_k − r_{k−1}| sum from the unrolled
    // chain, so the telemetry integers themselves are oracle-gated
    Gated("w_rank_deltas", (s, dir) =>
      LinkGraph.domainRankWithDeltas(linkEdges(s, dir), iters = 5, weightCap = 3L, stopDelta = None)._2,
      Some(domainRankDeltasSql(5))),
    // HITS convergence telemetry over the same 3-round run: the oracle
    // recomputes both sides' per-round L1 sums from the unrolled chain
    // (round 0 = the uniform init), so the documented jitter-floor
    // behavior is gated as integers, mirroring w_rank_deltas
    Gated("w_hits_deltas", (s, dir) =>
      LinkGraph.hitsRankWithDeltas(linkEdges(s, dir), iters = 3, weightCap = 3L, stopDelta = None)._2,
      Some(hitsDeltasSql(3))),
    // HITS hubs & authorities over the same harvested graph: per round,
    // two slim joins + integer L1 renormalization — aggregators earn hub
    // without inlinks, cited references earn auth without outlinks (the
    // signal PageRank's single score conflates). weightCap = 3 as above.
    Gated("w_hits", (s, dir) =>
      LinkGraph.hitsRank(linkEdges(s, dir), iters = 3, weightCap = 3L), Some(hitsSql(3))),
    // anchor-text aggregation over REAL synthesized page bytes: sniff-
    // gated map-only regexp harvest, relative hrefs resolved against the
    // page host, one slim (target, page_url, anchor) exchange — payloads
    // never shuffle. Citations injected into the text exercise variable
    // inlink counts and the mentions > inlinks (self-repeat) case.
    // anchor harvest reconstructed from the page generator's math: every
    // sniffed-html document carries the 11 constant boilerplate anchors
    // (resolved against the synth.example host); citation anchors follow
    // the [[citedText]] moduli, with %10 documents mentioning their
    // target twice (mentions > inlinks) and giant (%97) pages replicating
    // their body — and its citations — ×25
    Gated("w_anchor_text", (s, dir) => {
      import s.implicits._
      val pages = docs(s, dir)
        .select(col("doc_id"), citedText.as("text"), col("lang"))
        .as[(Long, String, String)]
        .map { case (id, t, lang) =>
          PagesGen.row(id, Option(t).getOrElse(""), Option(lang).getOrElse("und")) }
      LinkGraph.anchorStats(pages.toDF())
    }, Some(
      """WITH h AS (SELECT doc_id FROM documents
        |  WHERE doc_id % 3 <> 0 AND doc_id % 41 <> 0 AND doc_id % 53 <> 0),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM h),
        |boiler(path, a) AS (VALUES ('/', 'home'), ('/news', 'news'),
        |  ('/about', 'about'), ('/contact', 'contact'), ('/promo', 'promo'),
        |  ('/deal', 'deal'), ('/sale', 'sale'), ('/r1', 'rel 1'),
        |  ('/r2', 'rel 2'), ('/terms', 'terms'), ('/privacy', 'privacy')),
        |b AS (SELECT 'https://synth.example' || path AS target, n AS inlinks,
        |  n AS mentions, a AS anchor FROM boiler, tot),
        |c AS (SELECT 'https://cite.example/p' || CAST(doc_id % 17 AS VARCHAR) AS target,
        |  CAST(count(*) AS BIGINT) AS inlinks,
        |  CAST(sum((CASE WHEN doc_id % 97 = 0 THEN 25 ELSE 1 END)
        |         * (CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 1 END)) AS BIGINT) AS mentions,
        |  min('cite p' || CAST(doc_id % 17 AS VARCHAR)) AS anchor
        |  FROM h WHERE doc_id % 5 = 0 GROUP BY doc_id % 17)
        |SELECT * FROM b UNION ALL SELECT * FROM c""".stripMargin)),
    // sitemap parse (sitemaps.org): the crawler's owner-declared
    // discovery input — map-only regex-over-blocks explode, optional
    // lastmod exercised both ways by the synthesis
    // sitemap twin: same block-explode via the 1-indexed generate_series
    // convention; entries without a <loc> drop per the protocol
    Gated("w_sitemap", (s, dir) =>
      Sitemap.entries(
        docs(s, dir).select(col("doc_id"), sitemapXml.as("xml")), "doc_id", "xml"), Some(
      s"""WITH x AS (SELECT doc_id, $sitemapSqlExpr AS xml FROM documents),
         |a AS (SELECT doc_id, regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1) AS bs FROM x),
         |e AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, bs[i] AS b
         |  FROM (SELECT doc_id, bs, unnest(generate_series(1, len(bs))) AS i FROM a))
         |SELECT doc_id, pos,
         |  regexp_extract(b, '<loc>([^<]*)</loc>', 1) AS loc,
         |  regexp_extract(b, '<lastmod>([^<]*)</lastmod>', 1) AS lastmod
         |FROM e WHERE regexp_extract(b, '<loc>([^<]*)</loc>', 1) <> ''""".stripMargin)),
    // sitemapindex nesting (the 50k-url overflow mechanism): every 4th
    // doc serves an INDEX payload instead of a urlset; discover()
    // classifies entries as page urls vs child sitemaps to fetch next
    // index twin: same payload branch, both block parses unioned with
    // their kinds
    Gated("w_sitemap_index", (s, dir) => {
      val id = col("doc_id")
      val idxXml = concat(lit("<?xml version=\"1.0\"?><sitemapindex>"),
        lit("<sitemap><loc>https://site"), (id % 13).cast("string"),
        lit(".com/sitemap-a.xml</loc><lastmod>2024-01-0"), (id % 9 + 1).cast("string"),
        lit("</lastmod></sitemap>"),
        when(id % 8 === 0, concat(lit("<sitemap><loc>https://site"), (id % 13).cast("string"),
          lit(".com/sitemap-b.xml</loc></sitemap>"))).otherwise(lit("")),
        lit("</sitemapindex>"))
      val xml = when(id % 4 === 0, idxXml).otherwise(sitemapXml)
      Sitemap.discover(
        docs(s, dir).select(id, xml.as("xml")), "doc_id", "xml")
    }, Some(
      s"""WITH x AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 0 THEN
         |    '<?xml version="1.0"?><sitemapindex>' ||
         |    '<sitemap><loc>https://site' || CAST(doc_id % 13 AS VARCHAR) ||
         |    '.com/sitemap-a.xml</loc><lastmod>2024-01-0' || CAST(doc_id % 9 + 1 AS VARCHAR) ||
         |    '</lastmod></sitemap>' ||
         |    (CASE WHEN doc_id % 8 = 0 THEN
         |      '<sitemap><loc>https://site' || CAST(doc_id % 13 AS VARCHAR) ||
         |      '.com/sitemap-b.xml</loc></sitemap>' ELSE '' END) ||
         |    '</sitemapindex>'
         |  ELSE $sitemapSqlExpr END AS xml FROM documents),
         |u AS (SELECT doc_id, 'url' AS kind, regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1) AS bs FROM x
         |      UNION ALL
         |      SELECT doc_id, 'sitemap' AS kind, regexp_extract_all(xml, '(?s)<sitemap>(.*?)</sitemap>', 1) AS bs FROM x),
         |e AS (SELECT doc_id, kind, CAST(i - 1 AS BIGINT) AS pos, bs[i] AS b
         |  FROM (SELECT doc_id, kind, bs, unnest(generate_series(1, len(bs))) AS i FROM u))
         |SELECT doc_id, kind, pos,
         |  regexp_extract(b, '<loc>([^<]*)</loc>', 1) AS loc,
         |  regexp_extract(b, '<lastmod>([^<]*)</lastmod>', 1) AS lastmod
         |FROM e WHERE regexp_extract(b, '<loc>([^<]*)</loc>', 1) <> ''""".stripMargin)),
    // robots.txt gate (RFC 9309): per-host bodies parsed once into a slim
    // rules relation, urls evaluated map-side after the host join. The
    // synthesis exercises group selection (an OtherBot disallow-all decoy
    // that must NOT apply), longest-match with Allow override
    // (/Docs/Page12 beats /Docs/Page1), the $ end anchor (/Docs/Page4$
    // blocks Page4 but not Page40–49, cdn hosts only), and absent robots
    // (.net hosts have none → allowed by default)
    // robots twin: the fixed rule template replayed as closed-form CASE
    // logic over the url CTE's host + PATH+QUERY (pathq, fragment already
    // stripped). Decision order mirrors longest-match: Allow /Docs/Page12
    // (12) ties-or-beats every Disallow it can co-match with, the
    // anchored /Docs/Page7$ requires pathq EXACTLY (a query breaks it),
    // and the merged duplicate group's /*?id= fires on any ?id= query
    Gated("w_robots_txt", (s, dir) => {
      val u = docs(s, dir).select(col("doc_id"), synthUrl.as("url"))
      val hosts = u.select(UrlOps.host(col("url")).as("host")).distinct()
        .filter(!col("host").endsWith(".net"))
      // the synthesis exercises every decision path ON the gated corpus:
      // the OtherBot decoy (group selection), Allow-beats-shorter-Disallow
      // (/Docs/Page12 over /Docs/Page1), the `$` end anchor on an ODD page
      // (/Docs/Page7$ — cdn hosts are odd ids, so it genuinely fires, and
      // id≡207 (mod 300) carries a fragment the gate must strip before the
      // anchor can match), path+query matching (/*?id= fires on the %4==2
      // urls), and a DUPLICATE graftbot group later in the file whose
      // rules must merge per RFC 9309 §2.2.1
      val robots = hosts.withColumn("body", concat(
        lit("User-agent: OtherBot\nDisallow: /\n\n# crawler group\n" +
          "User-agent: graftbot\nDisallow: /Docs/Page1\nAllow: /Docs/Page12\n"),
        when(col("host").startsWith("cdn."), lit("Disallow: /Docs/Page7$\n"))
          .otherwise(lit("")),
        lit("\n# hand-edited later addition: same agent, separate group\n" +
          "User-agent: graftbot\nDisallow: /*?id=\n")))
      RobotsTxt.gate(u, "url", robots, "host", "body", "graftbot/1.0")
    }, Some(
      s"""WITH $urlCte
         |SELECT host, doc_id, url,
         |  NOT (host NOT LIKE '%.net'
         |    AND NOT pathq LIKE '/Docs/Page12%'
         |    AND ((host LIKE 'cdn.%' AND pathq = '/Docs/Page7')
         |      OR pathq LIKE '/Docs/Page1%'
         |      OR pathq LIKE '%?id=%')
         |  ) AS robots_allowed
         |FROM p5""".stripMargin)),
    // crawl-frontier politeness scheduling: hosts pinned to one worker
    // (map-side hash), per-host fetch sequence + delay slots from ONE
    // host-key exchange shared with the window rank
    // frontier twin: same disjoint md5 windows (1–8 worker, 9–24 order)
    Gated("w_frontier", (s, dir) => {
      val u = docs(s, dir).select(col("doc_id"), synthUrl.as("url"))
      // doc_id tie-break: the synthetic url space COLLIDES at sf0.1
      // (ids 3900 apart can synthesize one url), and duplicate urls tie
      // the md5 sort key — nondeterministic row_number without it
      Frontier.schedule(u, "url", numWorkers = 4, perHostDelayMs = 500L,
        tieCols = Seq("doc_id"))
    }, Some(
      s"""WITH $urlCte,
         |sch AS (SELECT doc_id, url, host,
         |  ('0x' || substr(md5(host), 1, 8))::BIGINT % 4 AS worker,
         |  CAST(row_number() OVER (PARTITION BY host
         |    ORDER BY substr(md5(url), 9, 16), url, doc_id) - 1 AS BIGINT) AS seq_in_host
         |FROM p5)
         |SELECT doc_id, url, host, CAST(worker AS BIGINT) AS worker, seq_in_host,
         |  seq_in_host * 500 AS fetch_offset_ms FROM sch""".stripMargin)),
    // templated-page families via DOM-skeleton fingerprinting: map-only
    // regexp harvest of the tag sequence (payload never shuffles), one
    // slim (32-hex fp) group-by — the structure-level dedup signal the
    // text-level family cannot see
    Gated("w_template_fp", (s, dir) =>
      Templates.templateGroups(
        docs(s, dir).select(col("doc_id"), templHtml.as("html")),
        "doc_id", "html", minPages = 2L), Some(
      s"""WITH h AS (SELECT doc_id, $templHtmlSql AS html FROM documents),
         |f AS (SELECT doc_id,
         |  md5(array_to_string(regexp_extract_all(lower(html), '<([a-z][a-z0-9]*)', 1), ',')) AS template_fp,
         |  CAST(len(regexp_extract_all(lower(html), '<([a-z][a-z0-9]*)', 1)) AS BIGINT) AS n_tags
         |FROM h)
         |SELECT template_fp, CAST(count(*) AS BIGINT) AS n_pages,
         |  min(doc_id) AS rep_id, max(n_tags) AS n_tags
         |FROM f GROUP BY 1 HAVING count(*) >= 2""".stripMargin)),
    // cross-domain mirror detection: domains serving the same content
    // under different hosts — every 7th doc synthesized ALSO under a
    // 'mirror-' twin host (the full-mirror structure a per-url dedup and
    // a per-domain cap both miss); pairing is fp-keyed with a boilerplate
    // hot-key bound, gate = containment of the smaller side ≥ 50 %
    // mirror twin: same urlCte domain, same normalized-md5 fingerprint,
    // same UNION-ALL mirror synthesis, same hot-key bound and
    // cross-multiplied containment gate
    Gated("w_mirror_pairs", (s, dir) => {
      def slim(d: DataFrame) = d.select(
        UrlOps.registeredDomain(UrlOps.host(synthUrl)).as("domain"),
        TextAnalytics.fingerprint(col("text")).as("fp"))
      val base = slim(docs(s, dir))
      val mirrored = slim(docs(s, dir).filter(col("doc_id") % 7 === 0))
        .withColumn("domain", concat(lit("mirror-"), col("domain")))
      Mirrors.mirrorPairs(base.unionAll(mirrored), "domain", "fp", tauPct = 50)
    }, Some(
      s"""WITH $urlCte,
         |mb AS (SELECT domain, $fpSql AS fp FROM p5
         |       UNION ALL
         |       SELECT 'mirror-' || domain AS domain, $fpSql AS fp FROM p5 WHERE doc_id % 7 = 0),
         |c AS (SELECT DISTINCT domain, fp FROM mb),
         |ok AS (SELECT fp FROM c GROUP BY fp HAVING count(*) >= 2 AND count(*) <= 10),
         |sl AS (SELECT c.domain, c.fp FROM c JOIN ok USING (fp)),
         |sz AS (SELECT domain, count(*) AS n_fp FROM c GROUP BY domain),
         |p AS (SELECT a.domain AS d1, b.domain AS d2, CAST(count(*) AS BIGINT) AS shared
         |      FROM sl a JOIN sl b ON a.fp = b.fp AND a.domain < b.domain GROUP BY 1, 2)
         |SELECT d1, d2, shared, CAST(z1.n_fp AS BIGINT) AS n1, CAST(z2.n_fp AS BIGINT) AS n2
         |FROM p JOIN sz z1 ON p.d1 = z1.domain JOIN sz z2 ON p.d2 = z2.domain
         |WHERE shared * 100 >= least(z1.n_fp, z2.n_fp) * 50""".stripMargin)),
    // mirror FAMILIES: transitive closure of the pair relation — one
    // curation decision per family (keep the lexicographic-min member);
    // min-label propagation over whole-domain pairs, never fingerprints
    // family twin: same pair chain over the three-tier synthesis, then
    // undirected reachability; family = min reached domain (string min)
    Gated("w_mirror_families", (s, dir) => {
      // TWO mirror tiers chain a->mirror-a->mirror2-a transitively: the
      // full clone pairs with both others, the %14 sub-clone only with
      // its supersets — the family must still unite all three. The
      // corpus is fingerprinted ONCE (lazy checkpoint); both clone tiers
      // are filters over that pass, not re-normalizations (the 3×-md5
      // version benched 8.7 s at sf0.1; this shape shares the scan)
      val base0 = docs(s, dir).select(col("doc_id"),
          UrlOps.registeredDomain(UrlOps.host(synthUrl)).as("domain"),
          TextAnalytics.fingerprint(col("text")).as("fp"))
        .localCheckpoint(eager = false)
      val m1 = base0.filter(col("doc_id") % 7 === 0)
        .withColumn("domain", concat(lit("mirror-"), col("domain")))
      val m2 = base0.filter(col("doc_id") % 14 === 0)
        .withColumn("domain", concat(lit("mirror2-"), col("domain")))
      Mirrors.mirrorFamilies(
        base0.unionAll(m1).unionAll(m2).drop("doc_id"), "domain", "fp", tauPct = 50)
    }, Some(
      s"""WITH RECURSIVE $urlCte,
         |mb AS (SELECT domain, $fpSql AS fp FROM p5
         |       UNION ALL
         |       SELECT 'mirror-' || domain AS domain, $fpSql AS fp FROM p5 WHERE doc_id % 7 = 0
         |       UNION ALL
         |       SELECT 'mirror2-' || domain AS domain, $fpSql AS fp FROM p5 WHERE doc_id % 14 = 0),
         |c AS (SELECT DISTINCT domain, fp FROM mb),
         |ok AS (SELECT fp FROM c GROUP BY fp HAVING count(*) >= 2 AND count(*) <= 10),
         |sl AS (SELECT c.domain, c.fp FROM c JOIN ok USING (fp)),
         |sz AS (SELECT domain, count(*) AS n_fp FROM c GROUP BY domain),
         |p AS (SELECT a.domain AS d1, b.domain AS d2, CAST(count(*) AS BIGINT) AS shared
         |      FROM sl a JOIN sl b ON a.fp = b.fp AND a.domain < b.domain GROUP BY 1, 2),
         |vp AS (SELECT d1, d2 FROM p JOIN sz z1 ON p.d1 = z1.domain
         |       JOIN sz z2 ON p.d2 = z2.domain
         |       WHERE shared * 100 >= least(z1.n_fp, z2.n_fp) * 50),
         |e AS (SELECT d1 AS src, d2 AS dst FROM vp UNION SELECT d2 AS src, d1 AS dst FROM vp),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
         |lab AS (SELECT id AS domain, min(r) AS family FROM reach GROUP BY 1),
         |fs AS (SELECT family, CAST(count(*) AS BIGINT) AS n_members FROM lab GROUP BY 1)
         |SELECT lab.domain AS domain, lab.family AS family, fs.n_members,
         |  (lab.domain = lab.family) AS is_canonical
         |FROM lab JOIN fs USING (family)""".stripMargin)),
    // per-registered-domain quota (≤ 5 docs, hash-order subsample): exact
    // two-phase top-k — sub-stream prefilter bounds the mega-domain hot
    // key; the one-phase oracle proves the prefilter changes nothing
    Gated("w_domain_cap", (s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), synthUrl.as("url"))
      UrlOps.capPerDomain(d, "url", "doc_id", maxPerDomain = 5, subStreams = 4,
          domainOut = Some("domain"))
        .select(col("doc_id"), col("domain"))
    }, Some(
      s"""WITH $urlCte,
         |r AS (SELECT doc_id, domain,
         |  row_number() OVER (PARTITION BY domain ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
         |FROM p5)
         |SELECT doc_id, domain FROM r WHERE rn <= 5""".stripMargin)),
    // redirect-chain resolution by POINTER JUMPING: R slim self-joins
    // follow 2^R hops (6 rounds = 64); synthetic chains of 7 with two
    // planted 2-cycles — loops come back resolved=false, never hang
    // redirects twin: same synthesized edges; bounded recursive walk to
    // 64 hops, last row per src, terminal = no outgoing edge
    Gated("w_redirects", (s, dir) => {
      val u = docs(s, dir).select(col("doc_id").as("id"),
        concat(lit("https://r"), (col("doc_id") % 13).cast("string"),
          lit(".example/p"), col("doc_id").cast("string")).as("url"))
      val fwd = u.as("a").join(u.as("b"), col("b.id") === col("a.id") + 1)
        .filter(col("a.id") % 7 =!= 6)
        .select(col("a.url").as("src"), col("b.url").as("dst"))
      val back = u.as("a").join(u.as("b"), col("b.id") === col("a.id") - 1)
        .filter(col("a.id") % 7 === 6 && col("a.id") % 41 === 0)
        .select(col("a.url").as("src"), col("b.url").as("dst"))
      Redirects.resolve(fwd.unionAll(back), "src", "dst", rounds = 6)
    }, Some(
      """WITH RECURSIVE uu AS (SELECT doc_id AS id,
        |  'https://r' || CAST(doc_id % 13 AS VARCHAR) || '.example/p' || CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |eb AS (SELECT a.url AS src, b.url AS dst FROM uu a JOIN uu b ON b.id = a.id + 1
        |       WHERE a.id % 7 <> 6
        |       UNION ALL
        |       SELECT a.url AS src, b.url AS dst FROM uu a JOIN uu b ON b.id = a.id - 1
        |       WHERE a.id % 7 = 6 AND a.id % 41 = 0),
        |e AS (SELECT DISTINCT src, dst FROM eb),
        |walk(src, cur, hops) AS (
        |  SELECT src, dst, CAST(1 AS BIGINT) FROM e
        |  UNION ALL
        |  SELECT w.src, e2.dst, w.hops + 1 FROM walk w JOIN e e2 ON e2.src = w.cur
        |  WHERE w.hops < 64),
        |lst AS (SELECT src, max(hops) AS hops FROM walk GROUP BY src),
        |fin AS (SELECT w.src, w.cur AS final, w.hops FROM walk w
        |        JOIN lst l ON l.src = w.src AND l.hops = w.hops)
        |SELECT src, final, hops,
        |  NOT EXISTS (SELECT 1 FROM e e3 WHERE e3.src = fin.final) AS resolved
        |FROM fin""".stripMargin)),
    // CDX index over assembled .warc.gz archives: the index is built in
    // the SAME serialization pass as the blobs (offsets can never drift),
    // then flattened map-only into (surt, url, ts_ms, digest) rows. The
    // gate proves framing + indexing lose nothing: every synthesized
    // messy url (mixed case, ports, fragments) must surface exactly once
    // with its SURT key and payload md5 — the oracle recomputes all three
    // straight from the documents table, never touching a WARC byte.
    // CDX twin: surt key (reversed host labels + ')' + path?query, '/'
    // when the url has neither) and payload digest recomputed from the
    // documents table — the Spark side must surface identical rows out
    // of the assembled archives' write-time index
    Gated("w_cdx_index", (s, dir) => {
      graft.warc.WarcShards.cdxIndex(indexedArchives(s, dir))
        .select(col("surt"), col("url"), col("ts_ms"), col("digest"))
    }, Some(
      s"""WITH $urlCte
         |SELECT array_to_string(list_reverse(string_split(host, '.')), ',')
         |    || ')' || (CASE WHEN pathq = '' THEN '/' ELSE pathq END) AS surt,
         |  url,
         |  CAST(1700000000000 + doc_id * 1000 AS BIGINT) AS ts_ms,
         |  md5(text) AS digest
         |FROM p5""".stripMargin)),
    // reciprocity: fraction of a domain's outlink targets linking back —
    // the link-exchange signal one hop before triangles (2-cycles)
    // reciprocity twin: distinct non-loop pairs left-joined to their own
    // reversal, per-source rollup
    Gated("w_link_recip", (s, dir) =>
      LinkGraph.reciprocity(linkEdges(s, dir)), Some(
      s"""WITH $linkEdgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |j AS (SELECT e.src, e.dst, (r.src IS NOT NULL) AS has_back
         |      FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src)
         |SELECT src AS domain, CAST(count(*) AS BIGINT) AS n_out,
         |  CAST(count(*) FILTER (WHERE has_back) AS BIGINT) AS n_recip,
         |  CAST(count(*) FILTER (WHERE has_back) * 1000000 // count(*) AS BIGINT) AS recip_ppm
         |FROM j GROUP BY 1""".stripMargin))
  )
}
