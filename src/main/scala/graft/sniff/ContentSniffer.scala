package graft.sniff

import java.nio.charset.StandardCharsets.US_ASCII

/** Per-row payload routing (north_star: "routed by content sniffing").
  *
  * Generalizes the reference's content-type gate
  * (`/root/reference/src/main.py:402-407`, which trusted the HTTP
  * Content-Type header) into byte-level sniffing, since a crawl table has no
  * trustworthy headers: `%PDF-` magic prefix → PDF; an HTML-ish tag in the
  * first 1 KiB → HTML; otherwise unknown.
  *
  * Byte rule: a payload is HTML iff one of [[Markers]] occurs, ASCII letters
  * matched case-insensitively, within its first [[Window]] bytes. No byte is
  * decoded and no lowercase copy is made. This routes every payload as
  * decoding the window as UTF-8, lowercasing it with `Locale.ROOT` and
  * searching the text does:
  *  - Java's UTF-8 decoder never folds an ASCII byte into a malformed
  *    sequence (it reports the bad prefix and decodes the ASCII byte on its
  *    own), and no non-ASCII byte decodes to an ASCII char, so the ASCII
  *    chars of the text are the ASCII bytes of the window, in order and
  *    with the same neighbours;
  *  - the only non-ASCII chars that lowercase into ASCII are U+212A (to
  *    `k`, which no marker contains) and U+0130 (to `i` + U+0307, and no
  *    marker has an `i` that ends it, so the U+0307 breaks every match);
  *  - a leading-whitespace `startsWith("<html")` or
  *    `startsWith("<!doctype html")` implies the marker occurs anyway.
  */
object ContentSniffer {
  sealed trait DocType { def name: String }
  case object Pdf extends DocType { val name = "pdf" }
  case object Html extends DocType { val name = "html" }
  case object Unknown extends DocType { val name = "unknown" }

  private val PdfMagic = "%PDF-".getBytes(US_ASCII)

  /** How many leading bytes the HTML markers are searched in. */
  private val Window = 1024

  /** The HTML markers, lower-case ASCII. */
  private val Markers: Array[Array[Byte]] =
    Array("<html", "<head", "<body", "<!doctype html", "<div", "<p>", "<title").map(_.getBytes(US_ASCII))

  def sniff(bytes: Array[Byte]): DocType = {
    if (bytes == null || bytes.length == 0) return Unknown
    if (bytes.length >= PdfMagic.length &&
      java.util.Arrays.equals(bytes, 0, PdfMagic.length, PdfMagic, 0, PdfMagic.length)) return Pdf
    val end = math.min(bytes.length, Window)
    var i = 0
    while (i < end) {
      if (bytes(i) == '<') {
        var m = 0
        while (m < Markers.length) {
          if (matchesAt(bytes, i, end, Markers(m))) return Html
          m += 1
        }
      }
      i += 1
    }
    Unknown
  }

  /** Does `marker` (lower-case ASCII) occur at `bytes(at)`, ending before
    * `end`, with ASCII upper-case letters folded to lower case?
    */
  private def matchesAt(bytes: Array[Byte], at: Int, end: Int, marker: Array[Byte]): Boolean = {
    if (end - at < marker.length) return false
    var k = 1 // bytes(at) == '<' == marker(0)
    while (k < marker.length) {
      val b = bytes(at + k)
      val lower = if (b >= 'A' && b <= 'Z') b + ('a' - 'A') else b
      if (lower != marker(k)) return false
      k += 1
    }
    true
  }
}
