package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.layout.{LineClusterer, TableDetector}
import graft.model.Word
import graft.pages.PagesGen
import graft.pdf.{MiniPdf, PdfLayoutParser}
import graft.sniff.ContentSniffer
import org.scalatest.funsuite.AnyFunSuite

/** The byte-level sniff and the primitive-array table detector agree with
  * their earlier implementations ([[KernelOracles]]) on the benchmark's
  * documents and on fuzz aimed at where the two could part. The output
  * digest covers neither `doctype` routing alone nor `has_tables`, so
  * these specs are what pins them.
  */
class KernelParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** The benchmark's base documents: (doc_id, text, lang). */
  private lazy val docs: Vector[(Long, String, String)] = {
    import spark.implicits._
    spark.read.parquet("perfbench/data/documents.parquet").select("doc_id", "text", "lang")
      .as[(Long, String, String)].collect().toVector
  }

  private def w(x0: Double, y0: Double) = Word("w", x0, y0, x0 + 10, y0 + 8, "Z")

  test("table detector: same flag as the Set-based oracle on every benchmark document laid out as a PDF") {
    var (flagged, total) = (0, 0)
    docs.foreach { case (id, text, lang) =>
      // every document, and every fifth one as a giant (text ×25, 600 words)
      val giant = if (id % 5 == 0) Seq((id * 3, (text + " ") * 25)) else Nil
      ((id * 3, text) +: giant).foreach { case (docId, t) =>
        val page = PdfLayoutParser.parse(MiniPdf.build(PagesGen.pdfWords(t, docId)))
        val groups = LineClusterer.clusterGroups(page.words)
        val got = TableDetector.detect(groups)
        assert(got == KernelOracles.detectTables(groups), s"doc $docId ($lang)")
        if (got) flagged += 1
        total += 1
      }
    }
    // both answers occur, so the comparison covers both
    assert(flagged > 0 && flagged < total, s"$flagged of $total flagged")
  }

  test("table detector: same flag as the Set-based oracle on random word grids") {
    val rnd = new scala.util.Random(8)
    val columns = Array(72.0, 200.0, 340.0, 3.0, -41.0)
    val odd = Array(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 1e19, -1e19, 0.0, -0.0, 0.9999, 1.0)
    var agreedTrue = 0
    (0 until 50000).foreach { n =>
      val lines = (0 until rnd.nextInt(12)).map { l =>
        (0 until rnd.nextInt(7)).map { _ =>
          val x = rnd.nextInt(10) match {
            case 0 => odd(rnd.nextInt(odd.length))
            case 1 | 2 => rnd.nextDouble() * 600
            // on a column, off by up to ±3 points: straddles the 2-point grid
            case _ => columns(rnd.nextInt(columns.length)) + (rnd.nextDouble() - 0.5) * 6
          }
          w(x, 100.0 + l * 20)
        }
      }
      val got = TableDetector.detect(lines)
      assert(got == KernelOracles.detectTables(lines), s"grid $n: ${lines.map(_.map(_.x0))}")
      if (got) agreedTrue += 1
    }
    assert(agreedTrue > 1000 && agreedTrue < 49000, s"$agreedTrue of 50000 flagged")
  }

  /** Payloads of every PagesGen class: three replicas of each benchmark
    * document (PDF, HTML, corrupt, empty and giant pages all occur).
    */
  test("sniff: same route as decode-and-lowercase on the benchmark corpus") {
    val seen = scala.collection.mutable.Map.empty[ContentSniffer.DocType, Int].withDefaultValue(0)
    docs.foreach { case (id, text, lang) =>
      (0 until 3).foreach { r =>
        val bytes = PagesGen.payload(id + r * 1000000L, text, lang)
        val got = ContentSniffer.sniff(bytes)
        assert(got == KernelOracles.sniff(bytes), s"doc ${id + r * 1000000L}")
        seen(got) += 1
      }
    }
    assert(seen.keySet == Set(ContentSniffer.Pdf, ContentSniffer.Html, ContentSniffer.Unknown), seen.toString)
  }

  test("sniff: only U+0130 and U+212A lowercase into ASCII, which the byte rule's equivalence rests on") {
    val intoAscii = (0x80 to Character.MAX_CODE_POINT).filter { cp =>
      Character.getType(cp) != Character.SURROGATE &&
        new String(Character.toChars(cp)).toLowerCase(java.util.Locale.ROOT).exists(_ < 0x80)
    }
    assert(intoAscii == Seq(0x130, 0x212A))
  }

  test("sniff: same route as decode-and-lowercase on fuzz around case, U+0130, U+212A, BOMs and the 1 KiB edge") {
    val rnd = new scala.util.Random(1024)
    val markers = Seq("<html", "<head", "<body", "<!doctype html", "<div", "<p>", "<title")
    def randomCase(s: String) = s.map(c => if (rnd.nextBoolean()) c.toUpper else c)
    val fragments: Vector[() => Array[Byte]] = Vector(
      () => randomCase(markers(rnd.nextInt(markers.size))).getBytes(UTF_8),
      () => { val m = markers(rnd.nextInt(markers.size)); m.take(1 + rnd.nextInt(m.length)).getBytes(UTF_8) },
      () => "İ".getBytes(UTF_8),
      () => "K".getBytes(UTF_8),
      () => Seq("<dİv", "<tİtle", "<DİV", "<Khtml", "<pK>").apply(rnd.nextInt(5)).getBytes(UTF_8),
      () => Array.fill(1 + rnd.nextInt(4))(rnd.nextInt(256).toByte),
      () => Array.fill(1 + rnd.nextInt(30))(('a' + rnd.nextInt(26)).toByte),
      () => "<".getBytes(UTF_8),
      () => Seq("é", "𝄞", "Ａ", " ", "﻿").apply(rnd.nextInt(5)).getBytes(UTF_8),
      // a truncated multi-byte sequence run into ASCII
      () => Seq(Array(0xC3), Array(0xE2, 0x84), Array(0xF0, 0x9D, 0x84), Array(0xED, 0xA0))
        .apply(rnd.nextInt(4)).map(_.toByte)
    )
    val prefixes = Vector("", "﻿", " \t\r\n", "﻿  ", "  ﻿", "\n\n\n", "%PDF-", "%pdf-", "%PDF").map(_.getBytes(UTF_8))
    def body(target: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      out.write(prefixes(rnd.nextInt(prefixes.size)))
      while (out.size() < target) out.write(fragments(rnd.nextInt(fragments.size))())
      out.toByteArray
    }
    /** A marker (or a malformed lead run into one) placed across byte 1,024. */
    def edge(): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream
      out.write(Array.fill(1010 + rnd.nextInt(15))('x'.toByte))
      if (rnd.nextBoolean()) out.write(Array(0xE2, 0x84, 0xC3, 0xF0, 0x9D).take(1 + rnd.nextInt(5)).map(_.toByte))
      out.write(randomCase(markers(rnd.nextInt(markers.size))).getBytes(UTF_8))
      out.write(body(rnd.nextInt(40)))
      out.toByteArray
    }
    val routes = scala.collection.mutable.Map.empty[ContentSniffer.DocType, Int].withDefaultValue(0)
    (0 until 200000).foreach { n =>
      val bytes = rnd.nextInt(4) match {
        case 0 => edge()
        case 1 => body(rnd.nextInt(24))
        case _ => body(rnd.nextInt(1200))
      }
      val got = ContentSniffer.sniff(bytes)
      if (got != KernelOracles.sniff(bytes)) fail(s"input $n: ${bytes.map(b => f"${b & 0xff}%02x").mkString}")
      routes(got) += 1
    }
    assert(routes.values.forall(_ > 10000) && routes.size == 3, routes.toString)
  }
}
