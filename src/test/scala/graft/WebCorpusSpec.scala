package graft

import graft.dedup.Decontaminate
import graft.text.{Chunker, Redactor}
import graft.web.UrlOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the web-corpus operator family: url canonicalization,
  * domain stats/blocklist, PII redaction, token-window chunking, and
  * eval-set decontamination. Value-exactness vs DuckDB is gated by the
  * driver (`w_url_canon`, `w_domain_stats`, `w_blocklist_keep`, `t_redact`,
  * `t_chunks`, `q_decontaminate`); these tests pin the SEMANTICS on
  * hand-built edge cases the synthetic corpus may not hit.
  */
class WebCorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def urls(us: String*): DataFrame = {
    import spark.implicits._
    us.zipWithIndex.map { case (u, i) => (i.toLong, u) }.toDF("id", "url")
  }

  private def canon(u: String): String =
    urls(u).select(UrlOps.canonicalize(col("url"))).collect()(0).getString(0)

  test("canonicalize: lowercases scheme+host, strips default port, fragment, tracking params") {
    assert(canon("HTTPS://WWW.Example.COM:443/Path/Page?a=1&utm_source=f&b=2#frag")
      == "https://www.example.com/Path/Page?a=1&b=2")
    assert(canon("http://Host.Org:80/x") == "http://host.org/x")
  }

  test("canonicalize: keeps non-default ports, path case, and param order") {
    assert(canon("https://h.com:8443/A/B?z=1&a=2") == "https://h.com:8443/A/B?z=1&a=2")
    assert(canon("http://h.com:443/x") == "http://h.com:443/x") // 443 is not http's default
  }

  test("canonicalize: all-tracking query drops its '?'; empty query unchanged") {
    assert(canon("https://h.com/p?utm_campaign=x&fbclid=abc") == "https://h.com/p")
    assert(canon("https://h.com/p?gclid=1") == "https://h.com/p")
    assert(canon("https://h.com/p") == "https://h.com/p")
  }

  test("canonicalize: url embedded in the query does not hijack the host") {
    assert(canon("https://A.com/redirect?to=https://b.com/x")
      == "https://a.com/redirect?to=https://b.com/x")
  }

  test("registeredDomain strips non-default ports; blocklist cannot be evaded via a port") {
    import spark.implicits._
    val df = urls("http://www.bad.com:8080/x", "https://ok.org/y")
    val kept = UrlOps.dropBlockedDomains(df, "url", Seq("bad.com").toDF("domain"))
      .select(col("id")).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(1L))
  }

  test("host and registeredDomain") {
    val r = urls("HTTPS://a.B.Site7.ORG:443/x?q=1")
      .select(UrlOps.host(col("url")).as("h"))
      .select(col("h"), UrlOps.registeredDomain(col("h")).as("d")).collect()(0)
    assert(r.getString(0) == "a.b.site7.org")
    assert(r.getString(1) == "site7.org")
  }

  test("meta extraction: attribute orders, quote styles, decoys, entity decode, first-match-wins") {
    import graft.html.MetaExtract
    def row(html: String): org.apache.spark.sql.Row = {
      import spark.implicits._
      Seq(html).toDF("h").select(
        MetaExtract.title(col("h")).as("t"),
        MetaExtract.metaContent(col("h"), "description").as("d"),
        MetaExtract.ogContent(col("h"), "og:title").as("o"),
        MetaExtract.canonical(col("h")).as("c"),
        MetaExtract.charset(col("h")).as("cs")).collect()(0)
    }
    // messy whitespace + entities in title; attributes on the title tag
    val r1 = row("""<title id="x">  A &amp;
                   |  B </title><meta content='D1' name='description'>
                   |<link href='/c1' rel='canonical'>""".stripMargin)
    assert(r1.getString(0) == "A & B")
    assert(r1.getString(1) == "D1")   // reversed order, single quotes
    assert(r1.getString(3) == "/c1")  // reversed order
    // decoys must not satisfy anchored patterns; og:title found behind og:image
    val r2 = row("<meta name=\"keywords\" content=\"nope\">" +
      "<link rel=\"stylesheet\" href=\"/s.css\">" +
      "<meta property=\"og:image\" content=\"/i.png\">" +
      "<meta property=\"og:title\" content=\"OG!\">")
    assert(r2.getString(0) == "" && r2.getString(1) == "" && r2.getString(3) == "")
    assert(r2.getString(2) == "OG!")
    // first match wins on repeated tags (browser behavior for <title>)
    val r3 = row("<title>first</title><title>second</title>" +
      "<meta name=\"description\" content=\"one\">" +
      "<meta name=\"description\" content=\"two\">")
    assert(r3.getString(0) == "first" && r3.getString(1) == "one")
    // charset: unquoted, spaced, and http-equiv forms all normalize
    assert(row("<meta charset=utf-8>").getString(4) == "utf-8")
    assert(row("<meta charset = 'Windows-1252'>").getString(4) == "windows-1252")
    assert(row("<meta http-equiv=\"Content-Type\" content=\"text/html; charset=ISO-8859-1\">")
      .getString(4) == "iso-8859-1")
    // entity decode order: &amp;lt; is the literal text "&lt;", not "<"
    assert(row("<title>x &amp;lt; y</title>").getString(0) == "x &lt; y")
    // absent everything → empty strings, never nulls (stable hashing)
    val r4 = row("<html><body>no head</body></html>")
    (0 to 4).foreach(i => assert(r4.getString(i) == ""))
  }

  test("charset decode: prescan sniff + routing on hand-built payloads, unknown flagged, latin-1 lossless") {
    import graft.html.CharsetDecode
    import java.nio.charset.StandardCharsets
    def row(bytes: Array[Byte]): (String, Boolean, String) = {
      import spark.implicits._
      val r = Seq(Tuple1(bytes)).toDF("p").select(
        CharsetDecode.sniffCharset(col("p")),
        CharsetDecode.charsetKnown(col("p")),
        CharsetDecode.decodeRouted(col("p"))).collect()(0)
      (r.getString(0), r.getBoolean(1), r.getString(2))
    }
    // declared utf-8, multi-byte body round-trips
    val utf8 = "<meta charset=utf-8><p>中文 café</p>"
    assert(row(utf8.getBytes(StandardCharsets.UTF_8)) == (("utf-8", true, utf8)))
    // declared latin-1, latin-1 bytes round-trip (0xE9 is NOT valid utf-8)
    val lat = "<meta charset='ISO-8859-1'><p>café ±½</p>"
    assert(row(lat.getBytes(StandardCharsets.ISO_8859_1)) == (("iso-8859-1", true, lat)))
    // no declaration → utf-8 default
    val plain = "<p>no declaration 漢字</p>"
    assert(row(plain.getBytes(StandardCharsets.UTF_8)) == (("", true, plain)))
    // unknown charset → flagged, byte-preserving latin-1 fallback
    val (cs, known, out) = row("<meta charset=Shift_JIS><p>abc</p>".getBytes(StandardCharsets.UTF_8))
    assert(cs == "shift_jis" && !known)
    assert(out == "<meta charset=Shift_JIS><p>abc</p>", "ascii survives the fallback")
    // a LYING declaration (says latin-1, bytes are utf-8) stays lossless:
    // the latin-1 view preserves every byte for a later re-decode
    val lying = "<meta charset=iso-8859-1>é".getBytes(StandardCharsets.UTF_8)
    val (_, _, out2) = row(lying)
    assert(out2.getBytes(StandardCharsets.ISO_8859_1).sameElements(lying))
    // empty payload: empty text, utf-8 default, known
    assert(row(Array.empty[Byte]) == (("", true, "")))
  }

  test("surt: reversed host labels, canonical host, path+query kept, fragment dropped") {
    def surtOf(u: String): String =
      urls(u).select(UrlOps.surt(col("url"))).collect()(0).getString(0)
    // subdomain ordering: deepest label last, so example.com/* is one prefix range
    assert(surtOf("https://news.Example.COM/a/b?q=1#frag") == "com,example,news)/a/b?q=1")
    // default port stripped by the canonical host; path case preserved
    assert(surtOf("HTTPS://WWW.Site7.ORG:443/Docs/Page12") == "org,site7,www)/Docs/Page12")
    // no path and no query → ')/' so the bare host sorts before its pages
    assert(surtOf("http://a.b.c") == "c,b,a)/")
    // query with no path keeps the query (deterministic engine convention)
    assert(surtOf("http://x.y?id=2") == "y,x)?id=2")
  }

  test("dropBlockedDomains removes exactly the blocked registered domains") {
    import spark.implicits._
    val df = urls(
      "https://www.bad.com/x", "https://sub.good.org/y", "https://Bad.COM/z")
    val blocked = Seq("bad.com").toDF("domain")
    val kept = UrlOps.dropBlockedDomains(df, "url", blocked)
      .select(col("id")).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L))
  }

  test("urlRevisions: spelling variants consolidate; latest fetch wins; drift counted") {
    import spark.implicits._
    // three spellings of ONE canonical page (tracking param, fragment,
    // case), two content versions; plus an untouched singleton page
    val df = Seq(
      (1L, "https://a.com/p?utm_source=x", "v1"),
      (2L, "HTTPS://A.com/p#frag", "v1"),
      (3L, "https://a.com/p", "v2"),
      (4L, "https://b.com/q", "v9")
    ).toDF("doc_id", "url", "fp")
    val got = UrlOps.urlRevisions(df, "url", "doc_id", "fp")
      .as[(String, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      ("https://a.com/p", 3L, 2L, 3L, "v2"),
      ("https://b.com/q", 1L, 1L, 4L, "v9")))
  }

  test("redact: all three PII shapes replaced, counts exact, order-safe") {
    import spark.implicits._
    val t = "Mail a.user+tag@sub.domain-x.co, host 10.0.255.7, call +4915512345678 or +1234567."
    val r = Seq(t).toDF("text").select(
      Redactor.redact(col("text")).as("red"),
      Redactor.emailCount(col("text")).as("e"),
      Redactor.ipCount(col("text")).as("i"),
      Redactor.phoneCount(col("text")).as("p")).collect()(0)
    assert(r.getString(0) == "Mail <EMAIL>, host <IP>, call <PHONE> or <PHONE>.")
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 1L, 2L)))
  }

  test("redact: email local/domain digits never leak into the IP pass; short +digits not a phone") {
    import spark.implicits._
    val t = "x 1.2.3.4567 y +123456 z a1.2@3.4.example.com"
    val r = Seq(t).toDF("text").select(Redactor.redact(col("text"))).collect()(0).getString(0)
    // 1.2.3.456 matches (pattern is unanchored by design); +123456 is 6 digits → kept
    assert(r == "x <IP>7 y +123456 z <EMAIL>")
  }

  test("redact audit counts agree with the sequential scrub on overlapping shapes") {
    import spark.implicits._
    // 'user@1.2.3.4.com' is ONE e-mail replacement — the raw text also
    // contains an IP-shaped substring, but the scrub never replaces it, so
    // the audit must not report an IP redaction that never happened
    val r = Seq("ping user@1.2.3.4.com now").toDF("text").select(
      Redactor.redact(col("text")).as("red"),
      Redactor.emailCount(col("text")).as("e"),
      Redactor.ipCount(col("text")).as("i"),
      Redactor.phoneCount(col("text")).as("p")).collect()(0)
    assert(r.getString(0) == "ping <EMAIL> now")
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((1L, 0L, 0L)),
      s"counts must mirror the passes: ${(r.getLong(1), r.getLong(2), r.getLong(3))}")
  }

  private def chunkRows(text: String, w: Int, s: Int): Seq[(Long, Long, String)] = {
    import spark.implicits._
    Chunker.chunks(Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text", w, s)
      .select(col("chunk_id"), col("n_chunk_tokens"), col("chunk_text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sortBy(_._1)
  }

  test("chunks: short doc → one whole-document chunk; blank doc → none") {
    assert(chunkRows("a b c", 4, 2) == Seq((0L, 3L, "a b c")))
    assert(chunkRows("   ", 4, 2).isEmpty)
  }

  test("chunks: stride overlap and truncated tail; every token covered") {
    val toks = (1 to 10).map(i => s"t$i").mkString(" ") // n=10
    val rows = chunkRows(toks, 4, 3) // nc = 1 + ceil(6/3) = 3
    assert(rows == Seq(
      (0L, 4L, "t1 t2 t3 t4"),
      (1L, 4L, "t4 t5 t6 t7"),
      (2L, 4L, "t7 t8 t9 t10")))
    val n11 = chunkRows(toks + " t11", 4, 3) // nc = 1 + ceil(7/3) = 4; tail 2 tokens
    assert(n11.last == ((3L, 2L, "t10 t11")))
  }

  test("chunks: exact boundary n = window + stride → 2 chunks") {
    val toks = (1 to 7).map(i => s"t$i").mkString(" ")
    assert(chunkRows(toks, 4, 3).map(_._1) == Seq(0L, 1L))
  }

  test("decontaminate: corpus docs sharing an 8-gram with the bench set are flagged; others kept") {
    import spark.implicits._
    val quoted = (1 to 12).map(i => s"w$i").mkString(" ")
    val corpus = Seq(
      (1L, s"prefix $quoted suffix tokens here"), // contains the quote
      (2L, (100 to 120).map(i => s"v$i").mkString(" ")), // unrelated
      (3L, quoted)) // the quote verbatim
      .toDF("doc_id", "text")
    val bench = Seq(quoted).toDF("bench_text")
    val flagged = Decontaminate.overlap(corpus, "doc_id", "text", bench, "bench_text", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 12-token quote → 5 8-grams, all shared by doc 1 and doc 3
    assert(flagged == Map(1L -> 5L, 3L -> 5L))
    val kept = Decontaminate.dropContaminated(corpus, "doc_id", "text", bench, "bench_text", 8)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L))
  }

  test("training export composes: dedup survivor, decontamination drop, redacted chunks") {
    import spark.implicits._
    // 20 clean English tokens + an e-mail; doc 2 is an exact duplicate of 1;
    // doc 3 quotes the bench text; doc 4 fails the quality gate (too short)
    val body = "the data is clean and the text is long enough for the gate to pass " +
      "contact a.b@c.example.org now"
    val quoted = (1 to 12).map(i => s"q$i").mkString(" ")
    val corpus = Seq(
      (1L, body),
      (2L, body),
      (3L, s"the quote is here and the gate is passed with it $quoted trailing"),
      (4L, "too short")).toDF("doc_id", "text")
    val bench = Seq(quoted).toDF("bench_text")
    val out = graft.pipeline.TrainingExport.export(corpus, "doc_id", "text", bench, "bench_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    // only doc 1 survives (2 = dup, 3 = contaminated, 4 = unclean)
    assert(out.map(_._1).toSet == Set(1L))
    // its chunks carry the redacted text
    assert(out.exists(_._3.contains("<EMAIL>")))
    assert(!out.exists(_._3.contains("a.b@c.example.org")))
  }

  test("script detection: code-point counts per range, precedence argmax, latin excluded") {
    import spark.implicits._
    val t = "abc 中文 привет مرحبا 漢"
    val r = Seq(t).toDF("text").select(
      graft.text.TextAnalytics.scriptChars(col("text"), "latin").as("l"),
      graft.text.TextAnalytics.scriptChars(col("text"), "han").as("h"),
      graft.text.TextAnalytics.scriptChars(col("text"), "cyrillic").as("c"),
      graft.text.TextAnalytics.scriptChars(col("text"), "arabic").as("a"),
      graft.text.TextAnalytics.dominantNonLatin(col("text")).as("d")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 3L, 6L, 5L)))
    assert(r.getString(4) == "cyrillic")
    val none = Seq("only ascii words").toDF("text")
      .select(graft.text.TextAnalytics.dominantNonLatin(col("text"))).collect()(0).getString(0)
    assert(none == "none")
    // tie goes to the earlier script in precedence order (han)
    val tie = Seq("中 п").toDF("text")
      .select(graft.text.TextAnalytics.dominantNonLatin(col("text"))).collect()(0).getString(0)
    assert(tie == "han")
  }

  test("frequentGramStats: shared passages counted per doc; mostly-boiler docs flagged") {
    import spark.implicits._
    val boiler = (1 to 16).map(i => s"b$i").mkString(" ") // 16 shared tokens
    val corpus = Seq(
      (1L, boiler + " x1 x2"), // 18 tokens → 11 grams, 9 inside the boiler span
      (2L, boiler + " y1 y2"),
      (3L, (1 to 12).map(i => s"z$i").mkString(" "))) // 5 grams, all unique
      .toDF("doc_id", "text")
    val rows = graft.dedup.Dedup.frequentGramStats(corpus, "doc_id", "text", 8, 2, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, 11L, 9L, true),
      (2L, 11L, 9L, true),
      (3L, 5L, 0L, false)))
  }

  test("decontaminate: sub-n overlap is not flagged") {
    import spark.implicits._
    val bench = Seq((1 to 8).map(i => s"w$i").mkString(" ")).toDF("bench_text")
    val corpus = Seq((1L, (1 to 7).map(i => s"w$i").mkString(" ") + " other words following here now"))
      .toDF("doc_id", "text")
    assert(Decontaminate.overlap(corpus, "doc_id", "text", bench, "bench_text", 8).count() == 0)
  }

  test("link graph: urls harvested out of text, edges weighted by outlink count") {
    import spark.implicits._
    val d = Seq(
      (s"https://a.com/p", "see https://b.org/x and https://b.org/y plus http://c.net:8080/z#f"),
      (s"https://a.com/q", "again https://b.org/z, no other links"),
      // end-of-sentence dot must NOT harvest into the url (a trailing-dot
      // host fails registered-domain extraction → bogus empty-domain edge)
      (s"https://a.com/r", "cited as https://b.org."),
      (s"http://b.org/home", "loop https://b.org/self")).toDF("url", "text")
    val edges = graft.web.LinkGraph.domainEdges(d, "url", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // trailing ',' after b.org/z is not url-class, so the match ends cleanly;
    // the :8080 port never leaks into c.net's registered domain
    assert(edges == Map(("a.com", "b.org") -> 4L, ("a.com", "c.net") -> 1L,
      ("b.org", "b.org") -> 1L))
  }

  test("metaRobots: both attribute orders, either quote style, case-insensitive; body mention is not a directive") {
    import spark.implicits._
    def flags(html: String): (Boolean, Boolean) = {
      val d = Seq(html).toDF("html")
      val r = d.select(UrlOps.metaRobots(col("html"), "noindex").as("a"),
        UrlOps.metaRobots(col("html"), "nofollow").as("b")).collect()(0)
      (r.getBoolean(0), r.getBoolean(1))
    }
    assert(flags("""<head><meta name="robots" content="noindex,nofollow"></head>""") == ((true, true)))
    assert(flags("""<head><meta content="nofollow" name="robots"></head>""") == ((false, true)))
    assert(flags("""<head><META NAME='ROBOTS' CONTENT='NOINDEX'></head>""") == ((true, false)))
    assert(flags("""<head><meta name="viewport" content="width=1"></head><p>noindex nofollow</p>""") == ((false, false)),
      "directive words in body text or other meta tags must not trigger the gate")
    assert(flags("""<meta name="description" content="how to noindex a page">""") == ((false, false)))
    // token boundaries: a directive that is a SUBSTRING of another token
    // must not match — and real tokens still do at any position
    def flag(html: String, d: String): Boolean = {
      val r = Seq(html).toDF("html").select(UrlOps.metaRobots(col("html"), d).as("f")).collect()(0)
      r.getBoolean(0)
    }
    assert(!flag("""<meta name="robots" content="noimageindex">""", "index"))
    assert(!flag("""<meta name="robots" content="noindex">""", "index"))
    assert(flag("""<meta name="robots" content="index, follow">""", "index"))
    assert(flag("""<meta name="robots" content="follow, index">""", "index"))
    assert(flag("""<meta content="all, noarchive" name="robots">""", "noarchive"))
  }

  test("anchorStats: harvest, relative-href resolution, distinct-doc inlinks vs mentions") {
    import spark.implicits._
    val pages = Seq(
      ("https://a.com/1",
        """<html><body><a href="/x">go x</a> <a href='https://b.org/y'>to y</a>
          |<a href="/x">go x</a></body></html>""".stripMargin.getBytes("UTF-8")),
      ("https://c.net/2", """<html><p><a href="https://a.com/x">also x</a></p></html>""".getBytes("UTF-8")),
      ("https://d.com/3", "%PDF-1.4 <a href=\"/pdfnot\">nope</a>".getBytes("UTF-8")),
      ("https://e.com/4", Array.emptyByteArray),
      ("https://f.com/5", "plain text, no markup tags".getBytes("UTF-8"))
    ).toDF("url", "html")
    val out = graft.web.LinkGraph.anchorStats(pages).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).sortBy(_._1)
    assert(out.toSeq == Seq(
      // page a.com/1 cites /x twice (1 inlink, 2 mentions); c.net/2 adds an absolute cite
      ("https://a.com/x", 2L, 3L, "also x"),
      ("https://b.org/y", 1L, 1L, "to y")),
      s"pdf/empty/non-html payloads excluded; relative hrefs resolve to the page host: ${out.toSeq}")
  }

  test("anchorStats href resolution: path-relative, protocol-relative, non-link schemes") {
    import spark.implicits._
    val pages = Seq(
      ("https://a.com/dir/page.html",
        ("""<html><body><a href="about.html">path rel</a>""" +
          """ <a href="//cdn.other.com/x">proto rel</a>""" +
          """ <a href="mailto:x@y.com">mail</a>""" +
          """ <a href="javascript:void(0)">js</a>""" +
          """ <a href="#top">frag</a></body></html>""").getBytes("UTF-8")),
      // host-only page url: path-relative resolves under the root
      ("https://h.com", """<html><body><a href="p.html">p</a></body></html>""".getBytes("UTF-8"))
    ).toDF("url", "html")
    val got = graft.web.LinkGraph.anchorStats(pages).collect()
      .map(r => r.getString(0)).sorted.toSeq
    assert(got == Seq(
      "https://a.com/dir/about.html", // page directory, not host+href fusion
      "https://cdn.other.com/x",      // protocol-relative keeps its own host
      "https://h.com/p.html"),
      s"mailto/javascript/fragment-only dropped; got $got")
  }

  test("domainRank: hand-computed integerized PageRank on a 2-node graph") {
    import spark.implicits._
    // a → b (weight 1), b → a (weight 1): symmetric, so every iteration
    // keeps rank = init for both nodes (15% base + 85% of a full share)
    val sym = Seq(("a.com", "b.org", 1L), ("b.org", "a.com", 1L)).toDF("src", "dst", "weight")
    val init = graft.web.LinkGraph.RankScale / 2
    val expect = (15L * init) / 100 + (85L * init) / 100 // integer-rounding drift only
    val ranks = graft.web.LinkGraph.domainRank(sym, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks.keySet == Set("a.com", "b.org"))
    assert(ranks.values.toSet.size == 1, s"symmetric graph must rank equally: $ranks")
    assert(ranks("a.com") == expect, s"got ${ranks("a.com")}, want $expect")
  }

  test("domainRank: star graph ranks the hub above the leaves; mass never exceeds scale") {
    import spark.implicits._
    val star = (1 to 6).map(i => (s"leaf$i.com", "hub.org", 1L)).toDF("src", "dst", "weight")
    val ranks = graft.web.LinkGraph.domainRank(star, iters = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ranks.size == 7)
    val hub = ranks("hub.org")
    assert((1 to 6).forall(i => ranks(s"leaf$i.com") < hub), s"hub must dominate: $ranks")
    assert(ranks.values.forall(_ > 0) && ranks.values.sum <= graft.web.LinkGraph.RankScale,
      s"integerized mass never exceeds the scale: $ranks")
  }

  test("hitsRank: star graph — authority and hub roles separate exactly (hand-replayed integers)") {
    import spark.implicits._
    val star = (1 to 6).map(i => (s"leaf$i.com", "hub.org", 1L)).toDF("src", "dst", "weight")
    val got = graft.web.LinkGraph.hitsRank(star, iters = 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == 7)
    // replayed by hand at Scale=1e9: r1 auth(hub)=1e9, hub(leaf)=1e9/6;
    // r2 auth(hub)=6*166666666 (denom 1), hub(leaf)=.../5; r3 likewise /7
    assert(got("hub.org") == (1199999994L, 0L),
      s"pure authority: all auth, zero hub: $got")
    (1 to 6).foreach { i =>
      assert(got(s"leaf$i.com") == (0L, 171428570L),
        s"pure hubs: zero auth, equal hub: $got")
    }
  }

  test("hitsRank: deterministic across parallelism; envelope guard fires and weightCap remedies it") {
    import spark.implicits._
    val edges = (1 to 40).map(i => (s"s${i % 7}.com", s"d${i % 11}.org", (i % 3 + 1).toLong))
      .toDF("src", "dst", "weight").groupBy("src", "dst")
      .agg(org.apache.spark.sql.functions.sum("weight").as("weight"))
    val r1 = graft.web.LinkGraph.hitsRank(edges.repartition(1), iters = 4)
    val r8 = graft.web.LinkGraph.hitsRank(edges.repartition(8), iters = 4)
    assert(r1.except(r8).count() == 0 && r8.except(r1).count() == 0)
    // scores are bounded by the renormalization proof: < 2·Scale
    val mx = r1.agg(org.apache.spark.sql.functions.max("auth"),
      org.apache.spark.sql.functions.max("hub")).collect()(0)
    assert(mx.getLong(0) < 2 * graft.web.LinkGraph.HitsScale &&
      mx.getLong(1) < 2 * graft.web.LinkGraph.HitsScale)
    val farm = Seq(("spam.com", "x.org", Long.MaxValue / 1000000L)).toDF("src", "dst", "weight")
    val e = intercept[IllegalArgumentException] {
      graft.web.LinkGraph.hitsRank(farm, 2).collect()
    }
    assert(e.getMessage.contains("weightCap"))
    assert(graft.web.LinkGraph.hitsRank(farm, 2, weightCap = 5L).count() == 2)
  }

  test("domainRankWithDeltas: per-round L1 telemetry contracts monotonically; fixpoint stops early; ranks unchanged") {
    import spark.implicits._
    val edges = (1 to 40).map(i => (s"s${i % 7}.com", s"d${i % 11}.org", (i % 3 + 1).toLong))
      .toDF("src", "dst", "weight").groupBy("src", "dst")
      .agg(org.apache.spark.sql.functions.sum("weight").as("weight"))
    val (ranks, deltas) =
      graft.web.LinkGraph.domainRankWithDeltas(edges, iters = 8, stopDelta = None)
    val ds = deltas.orderBy("iter").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ds.map(_._1).toSeq == (1L to 8L) && ds.forall(_._2 >= 0))
    // damping + sink leakage contract the moving mass geometrically
    // (measured ratio ~0.33/round): STRICTLY decreasing on this graph
    assert(ds.map(_._2).sliding(2).forall(p => p(1) < p(0)),
      s"deltas must decrease monotonically: ${ds.toSeq}")
    assert(ds.last._2 < ds.head._2 / 100, s"must contract: ${ds.toSeq}")
    // telemetry must not change the answer
    val plain = graft.web.LinkGraph.domainRank(edges, iters = 8)
    assert(ranks.except(plain).count() == 0 && plain.except(ranks).count() == 0)
    // a symmetric 2-cycle is AT its fixpoint: delta 0 in round 1 stops
    // the default stopDelta=Some(0) run after a single round of 10
    val sym = Seq(("a.com", "b.org", 1L), ("b.org", "a.com", 1L)).toDF("src", "dst", "weight")
    val (_, sd) = graft.web.LinkGraph.domainRankWithDeltas(sym, iters = 10)
    assert(sd.count() == 1, "exact fixpoint must stop after round 1")
  }

  test("convergence deltas are deterministic across edge-list partitioning") {
    import spark.implicits._
    val edges = (1 to 40).map(i => (s"s${i % 7}.com", s"d${i % 11}.org", (i % 3 + 1).toLong))
      .toDF("src", "dst", "weight").groupBy("src", "dst")
      .agg(org.apache.spark.sql.functions.sum("weight").as("weight"))
    def prd(df: org.apache.spark.sql.DataFrame) =
      graft.web.LinkGraph.domainRankWithDeltas(df, iters = 4, stopDelta = None)
        ._2.orderBy("iter").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(prd(edges.repartition(1)) == prd(edges.repartition(8)))
    def hd(df: org.apache.spark.sql.DataFrame) =
      graft.web.LinkGraph.hitsRankWithDeltas(df, iters = 3, stopDelta = None)
        ._2.orderBy("iter").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hd(edges.repartition(1)) == hd(edges.repartition(8)))
  }

  test("hitsRankWithDeltas: deltas collapse to the documented jitter floor; exact-fixpoint graphs stop at zero") {
    import spark.implicits._
    val edges = (1 to 40).map(i => (s"s${i % 7}.com", s"d${i % 11}.org", (i % 3 + 1).toLong))
      .toDF("src", "dst", "weight").groupBy("src", "dst")
      .agg(org.apache.spark.sql.functions.sum("weight").as("weight"))
    val (scores, deltas) =
      graft.web.LinkGraph.hitsRankWithDeltas(edges, iters = 6, stopDelta = None)
    val ds = deltas.orderBy("iter").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(ds.map(_._1).toSeq == (1L to 6L))
    // integer renormalization admits a limit cycle, not a fixpoint: the
    // healthy signature is round-1 mass collapsing to a bounded floor
    // (measured: 1.7e10 → ≤ 1.2e8 from round 2 on), NOT strict monotone
    val floor = math.max(ds.head._2, ds.head._3) / 100
    assert(ds.drop(1).forall(d => d._2 < floor && d._3 < floor),
      s"post-round-1 deltas must sit under 1% of round 1: ${ds.toSeq}")
    val plain = graft.web.LinkGraph.hitsRank(edges, iters = 6)
    assert(scores.except(plain).count() == 0 && plain.except(scores).count() == 0)
    // the pure-role star DOES reach the exact fixpoint: both deltas hit 0
    // at round 5 and the default stopDelta=Some(0) run stops there
    val star = (1 to 6).map(i => (s"leaf$i.com", "hub.org", 1L)).toDF("src", "dst", "weight")
    val (_, hs) = graft.web.LinkGraph.hitsRankWithDeltas(star, iters = 6)
    val last = hs.orderBy("iter").collect().last
    assert(hs.count() == 5 && last.getLong(1) == 0L && last.getLong(2) == 0L,
      "star graph must stop at the zero-delta round")
  }

  test("domainRank: dangling mass redistributes — total conserved within the integer-remainder bound") {
    import spark.implicits._
    // hub.org is a pure sink (no outlinks): before the dangling term its
    // entire 85% share leaked every iteration (star-graph totals decayed
    // toward 15% of scale); with redistribution the only losses are the
    // documented integer remainders — one sub-unit per edge, per node
    // (init + two damping DIVs + sink share) per iteration
    val star = (1 to 6).map(i => (s"leaf$i.com", "hub.org", 1L)).toDF("src", "dst", "weight")
    val iters = 5
    val ranks = graft.web.LinkGraph.domainRank(star, iters = iters)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = 7L; val e = 6L
    val total = ranks.values.sum
    val scale = graft.web.LinkGraph.RankScale
    val bound = n + iters * (e + 3 * n + 2)
    assert(total <= scale, s"mass must never exceed the scale: $total")
    assert(total >= scale - bound,
      s"dangling mass must be redistributed, not leaked: total=$total scale=$scale " +
        s"(missing ${scale - total}, documented remainder bound $bound)")
    // sanity: without redistribution 5 iterations lose >50% of the mass
    // on this graph, so the bound above is a real behavioral gate
    assert(scale - total < scale / 2)
    val hub = ranks("hub.org")
    assert((1 to 6).forall(i => ranks(s"leaf$i.com") < hub), "hub still dominates")
  }

  test("capPerDomain: keeps exactly the k smallest md5(id) per domain; prefilter changes nothing") {
    import spark.implicits._
    val d = (0L until 90L).map(i => (i, s"https://d${i % 3}.com/p$i")).toDF("doc_id", "url")
    val capped = UrlOps.capPerDomain(d, "url", "doc_id", maxPerDomain = 4, subStreams = 7)
    val kept = capped.select("doc_id").as[Long].collect().toSet
    assert(capped.count() == 12, "3 domains x cap 4")
    // reference: k smallest md5 per domain, computed driver-side
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = (0L until 90L).groupBy(_ % 3)
      .flatMap { case (_, ids) => ids.sortBy(i => md5hex(i.toString)).take(4) }.toSet
    assert(kept == expect, s"hash-order subsample mismatch: $kept vs $expect")
    val onePhase = UrlOps.capPerDomain(d, "url", "doc_id", 4, subStreams = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(onePhase == kept, "the sub-stream prefilter must be semantics-free")
  }

  test("capPerDomain: domains under the cap keep everything") {
    import spark.implicits._
    val d = (0L until 6L).map(i => (i, s"https://d$i.org/x")).toDF("doc_id", "url")
    assert(UrlOps.capPerDomain(d, "url", "doc_id", 5).count() == 6)
  }

  test("domainRank: deterministic across parallelism levels") {
    import spark.implicits._
    val edges = (0 until 40).map { i =>
      (s"s${i % 7}.com", s"s${(i * 3 + 1) % 7}.com", 1L + i % 4)
    }.toDF("src", "dst", "weight")
    val r1 = graft.web.LinkGraph.domainRank(edges.repartition(1), iters = 4)
    val r8 = graft.web.LinkGraph.domainRank(edges.repartition(8), iters = 4)
    assert(r1.exceptAll(r8).isEmpty && r8.exceptAll(r1).isEmpty,
      "integer PageRank must be bit-identical at any parallelism")
  }

  test("domainRank: decomposed routing is BigInt-exact where the naive product would wrap; unsafe graphs fail loudly") {
    import spark.implicits._
    // rank_mass (~3.3e11) x weight (1e8) = 3.3e19 > Long.MaxValue: the
    // naive product wraps, the quotient/remainder decomposition must not
    val edges = Seq(
      ("a.com", "b.com", 100000000L),
      ("a.com", "c.com", 3L),
      ("b.com", "a.com", 5L),
      ("c.com", "a.com", 2L)).toDF("src", "dst", "weight")
    val iters = 5
    val got = graft.web.LinkGraph.domainRank(edges, iters)
      .as[(String, Long)].collect().toMap
    assert(got.values.forall(_ >= 0), s"wrapped rank went negative: $got")
    // BigInt reference of the SAME semantics (floor div throughout)
    val es = Seq(("a.com", "b.com", 100000000L), ("a.com", "c.com", 3L),
      ("b.com", "a.com", 5L), ("c.com", "a.com", 2L))
    val outW = es.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val init = BigInt(graft.web.LinkGraph.RankScale) / nodes.size
    val base = (BigInt(15) * init) / 100
    var rank = nodes.map(_ -> init).toMap
    for (_ <- 1 to iters) {
      val recv = es.groupBy(_._2).view.mapValues(
        _.map { case (s, _, w) => rank(s) * w / outW(s) }.sum).toMap
      rank = nodes.map(n => n -> (base + BigInt(85) * recv.getOrElse(n, BigInt(0)) / 100)).toMap
    }
    nodes.foreach { n =>
      assert(BigInt(got(n)) == rank(n), s"$n: got ${got(n)}, BigInt-exact ${rank(n)}")
    }
    // out_w x weight >= 2^63 cannot be routed exactly -> loud failure with
    // the weightCap remedy, never a silent wrap
    val farm = Seq(("x.com", "y.com", 4000000000L), ("y.com", "x.com", 1L))
      .toDF("src", "dst", "weight")
    val err = intercept[IllegalArgumentException] {
      graft.web.LinkGraph.domainRank(farm, 2).collect()
    }
    assert(err.getMessage.contains("weightCap"), err.getMessage)
    // the documented remedy unblocks the same graph
    assert(graft.web.LinkGraph.domainRank(farm, 2, weightCap = 1000000L).count() == 2)
  }

  // ---- templated-page fingerprinting -----------------------------------

  private def pagesOf(htmls: String*): DataFrame = {
    import spark.implicits._
    htmls.zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("id", "html")
  }

  test("templates: same skeleton groups regardless of text, attributes, and tag case") {
    val p = pagesOf(
      "<html><body><div><p>alpha beta</p></div></body></html>",
      "<HTML><BODY><DIV class=\"hero\"><P id='x'>totally different words</P></DIV></BODY></HTML>",
      "<html><body><div><p>third page, same bones</p></div></body></html>",
      // structurally different: an extra <p>
      "<html><body><div><p>a</p><p>b</p></div></body></html>")
    val fp = graft.web.Templates.templateFingerprint(p, "id", "html").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(0L) == fp(1L) && fp(1L) == fp(2L), "text/attrs/case must not split a template")
    assert(fp(0L) != fp(3L), "an extra element must split the template")
    val groups = graft.web.Templates.templateGroups(p, "id", "html", minPages = 2L).collect()
    assert(groups.length == 1, "only the 3-member family clears minPages")
    val g = groups(0)
    assert(g.getLong(1) == 3L && g.getLong(2) == 0L, "family size 3, representative = min id")
    assert(g.getLong(3) == 4L, "skeleton html,body,div,p has 4 tags")
  }

  test("robots.txt: group selection, longest-match, allow tie-break, wildcards, $ anchor") {
    import graft.web.RobotsTxt
    val body =
      """# global decoy
        |User-agent: OtherBot
        |Disallow: /
        |
        |User-agent: graftbot
        |User-agent: sidekickbot
        |Disallow: /private/
        |Allow: /private/ok
        |Disallow: /tmp*.pdf
        |Disallow: /exact$
        |Disallow:
        |""".stripMargin
    val rules = RobotsTxt.parse(body, "Mozilla/5.0 (compatible; graftbot/1.0)")
    assert(rules.map(_.pattern) == Seq("/private/", "/private/ok", "/tmp*.pdf", "/exact$"),
      s"got $rules")
    assert(RobotsTxt.isAllowed(rules, "/anything"), "unmatched path allowed")
    assert(!RobotsTxt.isAllowed(rules, "/private/secret"), "prefix disallow")
    assert(RobotsTxt.isAllowed(rules, "/private/ok/file"),
      "longer Allow overrides shorter Disallow")
    assert(!RobotsTxt.isAllowed(rules, "/tmp/deep/file.pdf"), "* wildcard spans segments")
    assert(RobotsTxt.isAllowed(rules, "/tmp/deep/file.html"), "wildcard tail must match")
    assert(!RobotsTxt.isAllowed(rules, "/exact"), "$ anchors the end")
    assert(RobotsTxt.isAllowed(rules, "/exactly"), "$ must not prefix-match")
    // allow wins EXACT specificity ties
    val tie = Seq(RobotsTxt.Rule(allow = false, "/a/"), RobotsTxt.Rule(allow = true, "/a/"))
    assert(RobotsTxt.isAllowed(tie, "/a/x"))
    // the decoy group governs OtherBot, not us
    val other = RobotsTxt.parse(body, "OtherBot/2.0")
    assert(!RobotsTxt.isAllowed(other, "/anything"))
    // no group matches an unknown agent → no rules → everything allowed
    assert(RobotsTxt.parse(body, "randombot").isEmpty)
  }

  test("robots.txt directives: crawl-delay group selection, duplicate-group max, global sitemaps") {
    import graft.web.RobotsTxt
    val body =
      """Sitemap: https://h.example/sitemap.xml
        |User-agent: *
        |Disallow: /private
        |Crawl-delay: 2
        |
        |User-agent: graftbot
        |Disallow: /x
        |Crawl-delay: 1.5
        |Sitemap: https://h.example/inside-group.xml
        |
        |# hand-edited later addition
        |User-agent: graftbot
        |Crawl-delay: 4
        |""".stripMargin
    val d = RobotsTxt.directives(body, "Mozilla/5.0 (compatible; graftbot/1.0)")
    // both graftbot groups win; duplicate-group delays merge by MAX;
    // fractional seconds floor to ms
    assert(d.crawlDelayMs.contains(4000L), d.toString)
    // sitemap lines are GLOBAL and keep file order, inside groups or not
    assert(d.sitemaps == Seq("https://h.example/sitemap.xml",
      "https://h.example/inside-group.xml"))
    // an agent with no specific group falls back to '*'
    assert(RobotsTxt.directives(body, "OtherBot/2.0").crawlDelayMs.contains(2000L))
    // no matching group at all → no delay, sitemaps still global
    val noStar = "User-agent: g2\nCrawl-delay: 9\nSitemap: https://s/x.xml\n"
    val nd = RobotsTxt.directives(noStar, "unrelatedbot")
    assert(nd.crawlDelayMs.isEmpty && nd.sitemaps == Seq("https://s/x.xml"))
    // malformed and negative delays are ignored, not errors
    assert(RobotsTxt.directives(
      "User-agent: *\nCrawl-delay: soon\n", "bot").crawlDelayMs.isEmpty)
    assert(RobotsTxt.directives(
      "User-agent: *\nCrawl-delay: -1\n", "bot").crawlDelayMs.isEmpty)
    // within ONE group the last well-formed delay wins
    assert(RobotsTxt.directives(
      "User-agent: *\nCrawl-delay: 1\nCrawl-delay: 0.25\n", "bot")
      .crawlDelayMs.contains(250L))
    // null body (host without robots.txt): default — no delay, no sitemaps
    val empty = RobotsTxt.directives(null, "bot")
    assert(empty.crawlDelayMs.isEmpty && empty.sitemaps.isEmpty)
  }

  test("robots.txt gate: host join, default-allow, path+query matching, fragment stripped") {
    import spark.implicits._
    val u = Seq(
      (1L, "https://a.com/private/x"),
      // a PREFIX rule anchors at the path start — a query merely
      // CONTAINING the pattern text must not gate
      (2L, "https://a.com/open/x?path=/private/"),
      (3L, "https://norobots.com/private/x"),
      // path+query matching: the de-facto REP '/*?sess=' idiom fires
      (4L, "https://a.com/open/x?sess=123"),
      // the fragment is NOT part of the match target: the $ anchor must
      // still fire on a fragment-bearing url...
      (5L, "https://a.com/exact#frag"),
      // ...and '*' must never match fragment text
      (6L, "https://a.com/open/y#?sess=1"),
      // a query breaks the $ anchor (the query IS part of the target)
      (7L, "https://a.com/exact?x=1"),
      // scheme-less input: no authority mis-slice (the old indexOf+3
      // sliced garbage); treated as path-less → "/"
      (8L, "a.com-relative-garbage")
    ).toDF("id", "url")
    val robots = Seq(("a.com",
      "User-agent: *\nDisallow: /private/\nDisallow: /*?sess=\nDisallow: /exact$\n"))
      .toDF("host", "body")
    val got = graft.web.RobotsTxt.gate(u, "url", robots, "host", "body", "graftbot")
      .select($"id", $"robots_allowed").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> true, 4L -> false,
      5L -> false, 6L -> true, 7L -> true, 8L -> true), got.toString)
  }

  test("robots.txt: duplicate user-agent groups merge (RFC 9309 2.2.1)") {
    import graft.web.RobotsTxt
    val body =
      """User-agent: graftbot
        |Disallow: /a/
        |
        |User-agent: other
        |Disallow: /
        |
        |# hand-edited later addition for the same agent
        |User-agent: graftbot
        |Disallow: /b/
        |""".stripMargin
    val rules = RobotsTxt.parse(body, "graftbot/1.0")
    assert(rules.map(_.pattern) == Seq("/a/", "/b/"),
      s"both graftbot groups' rules must combine: $rules")
    assert(!RobotsTxt.isAllowed(rules, "/a/x") && !RobotsTxt.isAllowed(rules, "/b/x"))
    assert(RobotsTxt.isAllowed(rules, "/c/x"))
    // a LONGER-token group still wins alone: the tie-merge only applies
    // at the winning specificity
    val rules2 = RobotsTxt.parse(body + "\nUser-agent: graftbot/1.0\nDisallow: /c/\n", "graftbot/1.0")
    assert(rules2.map(_.pattern) == Seq("/c/"), s"longest token owns the decision: $rules2")
  }

  test("frontier: hosts pin to one worker; per-host slots are gapless and delay-spaced") {
    import spark.implicits._
    val us = (0 until 60).map(i => (i.toLong, s"https://site${i % 5}.com/page$i")).toDF("id", "url")
    val plan = graft.web.Frontier.schedule(us, "url", numWorkers = 3, perHostDelayMs = 250L)
      .select($"url", $"host", $"worker", $"seq_in_host", $"fetch_offset_ms")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(plan.length == 60)
    // politeness invariant: one worker per host
    plan.groupBy(_._2).foreach { case (host, rows) =>
      assert(rows.map(_._3).distinct.length == 1, s"host $host split across workers")
      // gapless deterministic sequence 0..n-1, offsets = seq × delay
      assert(rows.map(_._4).sorted.toSeq == (0L until rows.length.toLong))
      rows.foreach(r => assert(r._5 == r._4 * 250L))
    }
    assert(plan.map(_._3).distinct.length > 1, "5 hosts must spread over >1 of 3 workers")
    // determinism: same schedule under different partitioning
    val again = graft.web.Frontier.schedule(us.repartition(7), "url", 3, 250L)
      .select($"url", $"seq_in_host").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(plan.map(p => p._1 -> p._4).toMap == again)
  }

  test("frontier: per-host crawl-delays widen slots; undeclared hosts take the default") {
    import spark.implicits._
    val us = (0 until 30).map(i => (i.toLong, s"https://h${i % 3}.com/p$i")).toDF("id", "url")
    val delays = Seq(("h0.com", Some(3000L)), ("h1.com", None))
      .toDF("host", "crawl_delay_ms") // h2.com absent entirely
    val plan = graft.web.Frontier.scheduleWithDelays(us, "url", numWorkers = 2,
        delays, defaultDelayMs = 500L)
      .select($"host", $"seq_in_host", $"fetch_offset_ms")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(plan.length == 30)
    plan.foreach { case (host, seq, off) =>
      val width = if (host == "h0.com") 3000L else 500L // null and absent → default
      assert(off == seq * width, s"$host seq $seq off $off")
    }
    // same ordering/worker semantics as the flat-delay form
    val flat = graft.web.Frontier.schedule(us, "url", 2, 500L)
      .select($"url", $"seq_in_host", $"worker").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val withD = graft.web.Frontier.scheduleWithDelays(us, "url", 2, delays, 500L)
      .select($"url", $"seq_in_host", $"worker").collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(flat == withD)
  }

  test("frontier: duplicate urls need a tie-break column for a total order") {
    import spark.implicits._
    // two rows share a url — without a tiebreak their relative order is
    // partition-luck; with the unique id it is total and deterministic
    val dup = Seq((1L, "https://d.com/x"), (2L, "https://d.com/x"), (3L, "https://d.com/y"))
      .toDF("id", "url")
    def run(parts: Int) = graft.web.Frontier
      .schedule(dup.repartition(parts), "url", 2, 100L, tieCols = Seq("id"))
      .select($"id", $"seq_in_host").as[(Long, Long)].collect().toMap
    val a = run(1)
    assert(a == run(3), "tie-broken schedule must be partitioning-invariant")
    assert(a(1L) < a(2L), "equal urls order by the tie column")
    assert(a.values.toSeq.sorted == Seq(0L, 1L, 2L))
  }

  test("templates: closing tags, comments, and text '<' noise never enter the skeleton") {
    val p = pagesOf("<html><!-- <fake> --><body>cost < 5 <b>bold</b></body></html>")
    val row = graft.web.Templates.templateFingerprint(p, "id", "html").collect()(0)
    // skeleton: html, body, b — the comment's <fake> IS an open-tag-shaped
    // token and real parsers skip comments; ours deliberately keeps the
    // harvest regex-simple, so assert the documented behavior: 'fake'
    // counted (comment content), '</b>' and 'cost <' not
    assert(row.getLong(2) == 4L, s"expected html,fake,body,b = 4 tags, got ${row.getLong(2)}")
  }

  test("sitemap: loc-less entries drop, lastmod optional, whitespace/newlines inside blocks, order kept") {
    import spark.implicits._
    val xml =
      """<?xml version="1.0"?><urlset>
        |<url>
        |  <loc>https://a.example/1</loc>
        |  <lastmod>2024-01-15</lastmod>
        |</url>
        |<url><lastmod>2024-02-01</lastmod></url>
        |<url><loc>https://a.example/3</loc></url>
        |</urlset>""".stripMargin
    val d = Seq((7L, xml)).toDF("doc_id", "xml")
    val got = graft.web.Sitemap.entries(d, "doc_id", "xml")
      .collect().map(r => (r.getLong(1), r.getString(2), r.getString(3))).sortBy(_._1)
    // block 1 (no loc) drops; positions keep document order of the BLOCKS
    assert(got.toSeq == Seq(
      (0L, "https://a.example/1", "2024-01-15"),
      (2L, "https://a.example/3", "")))
  }

  test("triangleStats: K4 counts, pendant zero, duplicate/reversed/self edges collapse") {
    import spark.implicits._
    // K4 on a,b,c,d (4 triangles; every vertex in 3) plus pendant e-a.
    // Noise: reversed duplicates, a self-loop, repeated weights.
    val k4 = Seq("a"->"b","a"->"c","a"->"d","b"->"c","b"->"d","c"->"d")
    val noisy = k4 ++ k4.map(_.swap) ++ Seq("a"->"a", "e"->"a", "a"->"e")
    val edges = noisy.toDF("src", "dst").withColumn("weight", lit(1L))
    val got = graft.web.LinkGraph.triangleStats(edges)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // K4 vertices: degree 3 (+1 for a's pendant), 3 triangles each;
    // clustering of b/c/d = 2*3/(3*2) = 1.0; a has degree 4 → 2*3/(4*3) = 0.5
    assert(got("b") == ((3L, 3L, 1000000L)))
    assert(got("c") == ((3L, 3L, 1000000L)))
    assert(got("d") == ((3L, 3L, 1000000L)))
    assert(got("a") == ((4L, 3L, 500000L)))
    assert(got("e") == ((1L, 0L, 0L)))
    // total triangle incidences = 3 × the 4 distinct triangles
    assert(got.values.map(_._2).sum == 12L)
  }

  test("sitemap discover: urlset rows are kind url, index rows kind sitemap; loc-less blocks drop") {
    import spark.implicits._
    val urlset = "<?xml version=\"1.0\"?><urlset>" +
      "<url><loc>https://a.example/1</loc></url></urlset>"
    val index = "<?xml version=\"1.0\"?><sitemapindex>" +
      "<sitemap><loc>https://a.example/s1.xml</loc><lastmod>2024-02-01</lastmod></sitemap>" +
      "<sitemap><lastmod>2024-03-01</lastmod></sitemap>" + // loc-less → drops
      "<sitemap><loc>https://a.example/s2.xml</loc></sitemap></sitemapindex>"
    val d = Seq((1L, urlset), (2L, index)).toDF("doc_id", "xml")
    val got = graft.web.Sitemap.discover(d, "doc_id", "xml")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getString(4))).toSet
    assert(got == Set(
      (1L, "url", 0L, "https://a.example/1", ""),
      (2L, "sitemap", 0L, "https://a.example/s1.xml", "2024-02-01"),
      (2L, "sitemap", 2L, "https://a.example/s2.xml", "")))
  }

  test("recrawlSchedule: interval inverse to change rate; hot/warm/cold tiers; single fetch = no evidence") {
    import spark.implicits._
    val rows =
      (0 until 5).map(i => (s"https://a.com/x", 100L + i, s"va$i")) ++      // 5 fetches, 5 versions → hot
      (0 until 11).map(i => (s"https://b.com/x", 200L + i, if (i == 0) "vb1" else "vb0")) ++ // 11 fetches, 2 versions → 10 % → warm
      (0 until 3).map(i => (s"https://c.com/x", 300L + i, "vc")) ++          // refetched, never changed → cold
      Seq(("https://d.com/x", 400L, "vd"))                                   // single fetch → cold
    val d = rows.toDF("url", "doc_id", "fp")
    val got = graft.web.UrlOps.recrawlSchedule(d, "url", "doc_id", "fp")
      .collect().map(r => (r.getString(0), (r.getLong(3), r.getString(4), r.getLong(5)))).toMap
    assert(got("https://a.com/x") == ((1000000L, "hot", 6L)))
    assert(got("https://b.com/x") == ((100000L, "warm", 60L)), s"${got("https://b.com/x")}")
    assert(got("https://c.com/x") == ((0L, "cold", 720L)))
    assert(got("https://d.com/x") == ((0L, "cold", 720L)))
  }

  test("domainPriors: thin domains regress to the global mean; evidence earns the raw rate") {
    import spark.implicits._
    // big.com: 90/100 quality; thin.org: 1/1 (raw rate 100 % — the trap);
    // bad.net: 0/100. Global = 91/201.
    val rows =
      (0 until 100).map(i => (s"https://big.com/$i", i < 90)) ++
      Seq(("https://thin.org/0", true)) ++
      (0 until 100).map(i => (s"https://bad.net/$i", false))
    val d = rows.toDF("url", "q")
    val got = graft.web.UrlOps.domainPriors(d, "url", "q", alpha = 20)
      .collect().map(r => (r.getString(0), r.getLong(4))).toMap
    val globalPpm = 91L * 1000000L / 201L // 452736
    assert(got("thin.org") == (1000000L + 20 * globalPpm) / 21,
      s"thin domain prior ${got("thin.org")}")
    // the 1-of-1 domain must NOT outrank the 90-of-100 one
    assert(got("big.com") > got("thin.org"), s"$got")
    // and the thin domain sits close to (slightly above) the global mean
    assert(got("thin.org") > globalPpm && got("thin.org") < globalPpm + 30000)
    assert(got("bad.net") < globalPpm / 5, s"bad.net prior ${got("bad.net")}")
  }

  test("mirror pairs: containment gate, smaller-side denominator, boilerplate fp excluded") {
    import spark.implicits._
    // a.com {f1 f2 f3 f4}; m.com {f1 f2} → shared 2, min 2 → 100 % ≥ 50: pair.
    // b.org {f3 f9} shares f3 with a.com → 1/2 = 50 %: exactly at the gate.
    // c.net {f9 f8} shares f9 with b.org → 1/2 passes too; but the
    // boilerplate fp 'hot' on ALL FOUR domains must not create pairs when
    // the cap is 3.
    val rows = Seq(
      "a.com" -> "f1", "a.com" -> "f2", "a.com" -> "f3", "a.com" -> "f4",
      "m.com" -> "f1", "m.com" -> "f2",
      "b.org" -> "f3", "b.org" -> "f9",
      "c.net" -> "f9", "c.net" -> "f8",
      "a.com" -> "hot", "m.com" -> "hot", "b.org" -> "hot", "c.net" -> "hot")
    val d = rows.toDF("domain", "fp")
    val got = graft.web.Mirrors.mirrorPairs(d, "domain", "fp", tauPct = 50, maxFpDomains = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // n_fp counts INCLUDE the boilerplate fp (it is real domain content);
    // with 'hot' excluded from pairing: a.com(5)/m.com(3) share 2 ≥ 50 %·3?
    // 2·100 = 200 ≥ 50·3 = 150 ✓; a.com/b.org share 1: 100 < 150 ✗;
    // b.org(3)/c.net(3) share 1: 100 < 150 ✗.
    assert(got == Set(("a.com", "m.com", 2L)))
    // raising the cap to 4 lets 'hot' pair everything ≥ gate:
    // b/c now share {f9, hot} = 2 ≥ 150 ✓ — the cap is what stops it
    val loose = graft.web.Mirrors.mirrorPairs(d, "domain", "fp", tauPct = 50, maxFpDomains = 4)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(loose.contains(("b.org", "c.net")))
  }

  test("reciprocity: back-links counted per source; self-loops and duplicate edges collapse") {
    import spark.implicits._
    val e = Seq(
      ("a.com", "b.org", 3L), ("b.org", "a.com", 1L), // reciprocal pair
      ("a.com", "c.net", 2L),                         // one-way
      ("d.io", "d.io", 5L),                           // self-loop: excluded
      ("c.net", "c2.net", 1L), ("c.net", "c2.net", 4L) // duplicate edge: one
    ).toDF("src", "dst", "weight")
    val got = graft.web.LinkGraph.reciprocity(e)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      "a.com" -> ((2L, 1L, 500000L)),
      "b.org" -> ((1L, 1L, 1000000L)),
      "c.net" -> ((1L, 0L, 0L))), s"got $got")
  }

  test("redirects: chains resolve with exact hop counts; cycles flagged; budget doubles per round; conflicts rejected") {
    import spark.implicits._
    // chain a→b→c→d; 2-cycle x↔y; isolated terminal (dst-only) needs no row
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"), ("y", "x"))
      .toDF("src", "dst")
    val got = graft.web.Redirects.resolve(e, "src", "dst", rounds = 3)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got("a") == (("d", 3L, true)))
    assert(got("b") == (("d", 2L, true)))
    assert(got("c") == (("d", 1L, true)))
    assert(!got("x")._3 && !got("y")._3, s"cycle must come back unresolved: $got")
    assert(got("x")._2 == 8L, "cycle walks the full 2^rounds budget")
    // a 20-hop chain: unresolved at rounds=4 (budget 16), resolved at 5
    val long = (0 until 20).map(i => (s"n$i", s"n${i + 1}")).toDF("src", "dst")
    val r4 = graft.web.Redirects.resolve(long, "src", "dst", rounds = 4)
      .filter(col("src") === "n0").collect()(0)
    assert(!r4.getBoolean(3) && r4.getLong(2) == 16L)
    val r5 = graft.web.Redirects.resolve(long, "src", "dst", rounds = 5)
      .filter(col("src") === "n0").collect()(0)
    assert(r5.getBoolean(3) && r5.getString(1) == "n20" && r5.getLong(2) == 20L)
    // conflicting sources fail loudly — the guard now rides inside the
    // first-round plan (raise_error at first action; no per-call eager
    // driver job), so the failure surfaces when the result is consumed
    val conflict = Seq(("a", "b"), ("a", "c")).toDF("src", "dst")
    val ex = intercept[Exception] {
      graft.web.Redirects.resolve(conflict, "src", "dst").collect()
    }
    assert(ex.getMessage.contains("conflicting redirect"))
    // exact-duplicate edges are NOT conflicts — they dedupe in the same
    // aggregate that runs the guard
    val dupEdge = Seq(("a", "b"), ("a", "b"), ("b", "c")).toDF("src", "dst")
    val gd = graft.web.Redirects.resolve(dupEdge, "src", "dst", rounds = 3)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(gd("a") == (("c", 2L, true)), s"got $gd")
  }

  test("redirects: a NULL dst is a distinct target, so NULL plus 'x' is a conflict") {
    import spark.implicits._
    val nullAndX = Seq(("a", null: String), ("a", "x")).toDF("src", "dst")
    val ex = intercept[Exception] {
      graft.web.Redirects.resolve(nullAndX, "src", "dst").collect()
    }
    assert(ex.getMessage.contains("conflicting redirect"))
    // a lone NULL edge is one target, not a conflict
    val onlyNull = Seq(("a", null: String), ("b", "c")).toDF("src", "dst")
    assert(graft.web.Redirects.resolve(onlyNull, "src", "dst").count() == 2L)
  }

  test("url features: depth counts non-empty segments, params split on &, fragment/query never leak into depth") {
    import spark.implicits._
    def f(u: String): (Long, Long) = {
      val r = Seq(u).toDF("url")
        .select(graft.web.UrlOps.pathDepth(col("url")),
          graft.web.UrlOps.queryParamCount(col("url"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    assert(f("https://a.com/x/y/z") == ((3L, 0L)))
    assert(f("https://a.com/") == ((0L, 0L)))
    assert(f("https://a.com") == ((0L, 0L)))
    assert(f("https://a.com/x?a=1&b=2&c=3") == ((1L, 3L)))
    assert(f("https://a.com?a=1") == ((0L, 1L)))           // path-less query
    assert(f("https://a.com/x//y/") == ((2L, 0L)))         // empty segments drop
    assert(f("https://a.com/x#frag/with/slashes") == ((1L, 0L))) // fragment out
    assert(f("https://a.com/x?q=v#f") == ((1L, 1L)))
  }

  test("mirror families: transitive closure unites chained pairs; canonical = min; isolated domains absent") {
    import spark.implicits._
    // a~b and b~c pair (50% of the smaller side) but a~c share NOTHING —
    // only the closure puts all three in one family
    val rows = Seq(
      "a.com" -> "f1", "a.com" -> "f2", "a.com" -> "f3", "a.com" -> "f4",
      "b.org" -> "f3", "b.org" -> "f4", "b.org" -> "f5", "b.org" -> "f6",
      "c.net" -> "f5", "c.net" -> "f6", "c.net" -> "f7", "c.net" -> "f8",
      "lone.io" -> "f9", "lone.io" -> "f10")
    val d = rows.toDF("domain", "fp")
    val fams = graft.web.Mirrors.mirrorFamilies(d, "domain", "fp", tauPct = 50)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(fams == Set(
      ("a.com", "a.com", 3L, true),
      ("b.org", "a.com", 3L, false),
      ("c.net", "a.com", 3L, false)), s"got $fams")
  }
}
