package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.html.HtmlTextExtractor
import graft.pdf.{MiniPdf, PdfLayoutParser, PdfParseException}
import graft.sniff.ContentSniffer
import org.scalatest.funsuite.AnyFunSuite

class PdfHtmlSpec extends AnyFunSuite {

  test("MiniPdf → PdfLayoutParser roundtrip: text, coordinates, zones") {
    val words = Seq(
      MiniPdf.PlacedWord("Nome:", 72, 700, 12),   // pdf-space y=700 → top = 792-700-12 = 80
      MiniPdf.PlacedWord("JOÃO", 120, 700, 12),
      MiniPdf.PlacedWord("rodapé", 72, 60, 12)    // bottom of page
    )
    val bytes = MiniPdf.build(words)
    assert(new String(bytes.take(5), UTF_8) == "%PDF-")
    val page = PdfLayoutParser.parse(bytes)
    assert(page.pageWidth == 612.0 && page.pageHeight == 792.0)
    assert(page.words.map(_.text) == Vector("Nome:", "JOÃO", "rodapé"))
    val w0 = page.words(0)
    assert(w0.x0 == 72.0 && w0.y0 == 80.0 && w0.y1 == 92.0)
    assert(w0.x1 == 72.0 + 0.6 * 12 * 5) // 5 chars
    assert(w0.zone == "TOP-LEFT")
    assert(page.words(2).zone == "BOTTOM-LEFT")
  }

  test("PDF special chars in strings escape and roundtrip") {
    val bytes = MiniPdf.build(Seq(MiniPdf.PlacedWord("a(b)c\\d", 100, 400, 10)))
    assert(PdfLayoutParser.parse(bytes).words.head.text == "a(b)c\\d")
  }

  test("empty PDF (zero pages) raises the reference's error") {
    val e = intercept[PdfParseException](PdfLayoutParser.parse(MiniPdf.buildEmpty()))
    assert(e.getMessage.contains("no pages"))
  }

  test("PDF with a page but no text operators → 'no text content'") {
    val bytes = MiniPdf.build(Nil)
    val e = intercept[PdfParseException](PdfLayoutParser.parse(bytes))
    assert(e.getMessage.contains("no text content"))
  }

  test("non-PDF bytes rejected") {
    intercept[PdfParseException](PdfLayoutParser.parse("hello".getBytes(UTF_8)))
  }

  test("parser is deterministic (byte-identical layout across calls)") {
    val words = (0 until 50).map(i => MiniPdf.PlacedWord(s"w$i", 72 + (i % 8) * 60.0, 720 - (i / 8) * 16.0, 11))
    val bytes = MiniPdf.build(words)
    val a = PdfLayoutParser.parse(bytes)
    val b = PdfLayoutParser.parse(bytes)
    assert(a == b)
  }

  test("sniffer: PDF magic, HTML heuristics, unknown, empty") {
    assert(ContentSniffer.sniff("%PDF-1.4 x".getBytes(UTF_8)) == ContentSniffer.Pdf)
    assert(ContentSniffer.sniff("<!DOCTYPE html><html></html>".getBytes(UTF_8)) == ContentSniffer.Html)
    assert(ContentSniffer.sniff("  \n <html lang='en'>".getBytes(UTF_8)) == ContentSniffer.Html)
    assert(ContentSniffer.sniff("<div>fragment</div>".getBytes(UTF_8)) == ContentSniffer.Html)
    assert(ContentSniffer.sniff("just plain text".getBytes(UTF_8)) == ContentSniffer.Unknown)
    assert(ContentSniffer.sniff(Array.emptyByteArray) == ContentSniffer.Unknown)
    assert(ContentSniffer.sniff(null) == ContentSniffer.Unknown)
  }

  test("HTML: entities decode") {
    assert(HtmlTextExtractor.decodeEntities("a &amp; b &lt;c&gt; &quot;d&quot; &#65; &#x42; &nbsp;e") ==
      "a & b <c> \"d\" A B  e")
  }

  test("HTML: boilerplate stripped, main content kept") {
    val html =
      """<html><head><title>T</title><script>var x = "<p>not text</p>";</script>
        |<style>p { color: red }</style></head>
        |<body><header><h1>Site</h1><nav><a href=/>home</a> <a href=/x>x</a></nav></header>
        |<article><h2>Real Title Here</h2>
        |<p>This is the main content paragraph with enough words to pass the minimum threshold easily.</p>
        |<p>Short follow-up sentence here too.</p></article>
        |<div><a href=/1>link</a> <a href=/2>farm</a> <a href=/3>block</a></div>
        |<footer><p>copyright legal boilerplate footer text that is quite long but must still vanish</p></footer>
        |</body></html>""".stripMargin
    val text = HtmlTextExtractor.extract(html)
    assert(text.contains("Real Title Here"))
    assert(text.contains("main content paragraph"))
    assert(text.contains("Short follow-up sentence")) // neighbour rule
    assert(!text.contains("Site")) // header boiler zone
    assert(!text.contains("home")) // nav
    assert(!text.contains("copyright")) // footer
    assert(!text.contains("link farm")) // high link density
    assert(!text.contains("not text")) // script content
    assert(!text.contains("color")) // style content
  }

  test("HTML: a raw-text element after U+0130 (İ) text still ends at its own close tag") {
    // İ lowercases to two chars under Locale.ROOT: an index found in a
    // lowercased copy of the page lands one char late per İ before it
    val turkish = "<p>" + ("İSTANBUL İZMİR " * 20) + "</p>"
    val html = s"<html><body>$turkish<script>var x = 1;</script>" +
      "<p>The paragraph after the script keeps every one of its words here.</p></body></html>"
    val text = HtmlTextExtractor.extract(html)
    assert(text.contains("The paragraph after the script keeps every one of its words here."), text)
    assert(!text.contains("var x"))
    // a close tag in any case still matches
    assert(HtmlTextExtractor.extract("<STYLE>p{}</StYlE><p>" + ("word " * 9) + "</p>") == ("word " * 9).trim)
  }

  test("HTML: title is kept as heading, extraction is deterministic") {
    val html = "<html><head><title>Doc Title</title></head><body><p>" +
      ("word " * 20) + "</p></body></html>"
    val a = HtmlTextExtractor.extract(html)
    assert(a.startsWith("Doc Title\n"))
    assert(a == HtmlTextExtractor.extract(html))
  }

  test("HTML: whitespace normalization collapses runs and trims") {
    assert(HtmlTextExtractor.normalizeWs("  a\n\t b   c ") == "a b c")
    assert(HtmlTextExtractor.countWords("a b c") == 3)
    assert(HtmlTextExtractor.countWords("") == 0)
  }

  test("HTML spans carry real character offsets into extracted_text") {
    import graft.job.ExtractKernel
    import graft.pages.PagesGen
    // doc_id 1 is an HTML payload with resolvable autor/data/registro markers
    val row = PagesGen.row(1L, "Some document body text here. More sentences follow. And more.", "en")
    val r = ExtractKernel.extract(row, ExtractKernel.DefaultRules,
      graft.extract.SpanExtractor.schemaHash(ExtractKernel.DefaultRules))
    assert(r.status == "ok" && r.doctype == "html")
    assert(r.spans.nonEmpty)
    r.spans.foreach { s =>
      val start = s.x0.toInt; val end = s.x1.toInt
      assert(start >= 0 && end > start && end <= r.extracted_text.length)
      val lineText = r.extracted_text.substring(start, end)
      assert(!lineText.contains("\n")) // exactly one block
      assert(lineText.toLowerCase.contains(s.value.toLowerCase.take(8))) // value sits in its source block
      assert(s.y0 == s.y1 && s.y0 >= 0) // block index
    }
  }
}
