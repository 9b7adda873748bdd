package graft.html

import scala.collection.mutable.ArrayBuffer

/** From-scratch HTML main-content extractor: tag tokenizer → block
  * segmentation → Boilerpipe/trafilatura-style text-density + link-density
  * boilerplate stripping (north_star's HTML branch; generalizes the
  * reference's only relevance filter, the keyword layout filter at
  * `/root/reference/src/core/extractor.py:308-384`).
  *
  * Deterministic classification rule (goldens are frozen against it):
  * a block is CONTENT iff
  *   - it is not inside `script/style/nav/header/footer/aside/form/noscript`,
  *   - its link density (anchor-text chars / total chars) < 0.33, and
  *   - it has ≥ `MinWords` words, OR is a heading (`h1..h6`,`title`) with
  *     ≥ 1 word, OR is a short gap block (< MinWords) sandwiched between two
  *     content blocks (Boilerpipe's neighbour rule, simplified to the
  *     preceding-block state).
  *
  * Entities `&amp; &lt; &gt; &quot; &apos; &#39; &nbsp;` and numeric
  * references are decoded; whitespace is normalized to single spaces per
  * block; blocks are joined with `\n`.
  */
object HtmlTextExtractor {

  final case class Block(text: String, words: Int, linkDensity: Double, heading: Boolean)

  val MinWords = 8
  val MaxLinkDensity = 0.33

  private val BlockTags = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "br",
    "table", "tr", "td", "th", "blockquote", "pre", "section", "article",
    "header", "footer", "nav", "aside", "main", "title", "body", "html", "head",
    "form", "figure", "figcaption", "dl", "dt", "dd", "hr"
  )
  private val SkipTags = Set("script", "style", "noscript", "svg", "template")
  private val BoilerTags = Set("nav", "header", "footer", "aside", "form")
  private val HeadingTags = Set("h1", "h2", "h3", "h4", "h5", "h6", "title")

  def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 10) {
          val ent = s.substring(i + 1, semi)
          val decoded: Option[String] = ent match {
            case "amp"  => Some("&")
            case "lt"   => Some("<")
            case "gt"   => Some(">")
            case "quot" => Some("\"")
            case "apos" => Some("'")
            case "nbsp" => Some(" ")
            case e if e.startsWith("#x") || e.startsWith("#X") =>
              try Some(Character.toChars(Integer.parseInt(e.drop(2), 16)).mkString)
              catch { case _: Exception => None }
            case e if e.startsWith("#") =>
              try Some(Character.toChars(Integer.parseInt(e.drop(1))).mkString)
              catch { case _: Exception => None }
            case _ => None
          }
          decoded match {
            case Some(d) => sb.append(d); i = semi + 1
            case None    => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Index in `html` of the first `</name` at or after `from`, or -1.
    * Matched in `html` itself, case-insensitively, one char at a time: an
    * index found in a lowercased copy is no index into `html`, since
    * lowercasing can lengthen the text (U+0130 `İ` becomes two chars).
    * `name` is an ASCII lowercase tag name.
    */
  private def closeTag(html: String, name: String, from: Int): Int = {
    // `c` lowercases to `t` as String.toLowerCase(Locale.ROOT) lowercases
    // it: Character.toLowerCase agrees, except that it maps U+0130 to 'i'
    // where the String rule yields "i\u0307"
    def lowersTo(c: Char, t: Char) = c != '\u0130' && Character.toLowerCase(c) == t
    val last = html.length - name.length - 2
    var i = html.indexOf("</", from)
    while (i >= 0 && i <= last) {
      var k = 0
      while (k < name.length && lowersTo(html.charAt(i + 2 + k), name.charAt(k))) k += 1
      if (k == name.length) return i
      i = html.indexOf("</", i + 1)
    }
    -1
  }

  /** Tokenize + segment into blocks with link-density stats. */
  def blocks(html: String): Vector[Block] = {
    val out = ArrayBuffer.empty[Block]
    val text = new StringBuilder
    val linkText = new StringBuilder
    var anchorDepth = 0
    var skipDepth = 0
    var boilerDepth = 0
    var headingDepth = 0

    def flush(): Unit = {
      val t = normalizeWs(decodeEntities(text.toString))
      if (t.nonEmpty && boilerDepth == 0) {
        val lt = normalizeWs(decodeEntities(linkText.toString))
        val ld = if (t.isEmpty) 0.0 else lt.length.toDouble / t.length
        out += Block(t, countWords(t), ld, headingDepth > 0)
      }
      text.clear(); linkText.clear()
    }

    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        if (i + 3 < n && html.charAt(i + 1) == '!' && html.charAt(i + 2) == '-' && html.charAt(i + 3) == '-') {
          val end = html.indexOf("-->", i + 4)
          i = if (end < 0) n else end + 3
        } else {
          var j = i + 1
          while (j < n && html.charAt(j) != '>') j += 1
          // parse [/]name + self-closing flag by index — the substring +
          // trim + dropWhile/takeWhile chain allocated 3-4 strings per tag
          var k = i + 1
          while (k < j && html.charAt(k).isWhitespace) k += 1
          val closing = k < j && html.charAt(k) == '/'
          while (k < j && html.charAt(k) == '/') k += 1
          val nameStart = k
          while (k < j && !html.charAt(k).isWhitespace && html.charAt(k) != '/') k += 1
          var e = j - 1
          while (e > i && html.charAt(e).isWhitespace) e -= 1
          val selfClosing = e > i && html.charAt(e) == '/'
          i = math.min(j + 1, n)
          val name = html.substring(nameStart, k).toLowerCase(java.util.Locale.ROOT)
          if (name.nonEmpty && name.head.isLetter) {
            if (SkipTags.contains(name)) {
              if (closing) { if (skipDepth > 0) skipDepth -= 1 }
              else if (!selfClosing) {
                // raw-text elements: jump straight to the matching close tag
                val close = closeTag(html, name, i)
                if (close >= 0) {
                  val gt = html.indexOf('>', close)
                  i = if (gt < 0) n else gt + 1
                } else i = n
              }
            } else if (skipDepth == 0) {
              if (name == "a") {
                if (closing) { if (anchorDepth > 0) anchorDepth -= 1 }
                else if (!selfClosing) anchorDepth += 1
              } else if (BlockTags.contains(name)) {
                flush()
                if (BoilerTags.contains(name)) {
                  if (closing) { if (boilerDepth > 0) boilerDepth -= 1 }
                  else if (!selfClosing) boilerDepth += 1
                }
                if (HeadingTags.contains(name)) {
                  if (closing) { if (headingDepth > 0) headingDepth -= 1 }
                  else if (!selfClosing) headingDepth += 1
                }
              }
            }
          }
        }
      } else {
        if (skipDepth == 0) {
          text.append(c)
          if (anchorDepth > 0) linkText.append(c)
        }
        i += 1
      }
    }
    flush()
    out.toVector
  }

  /** Classify blocks and return the retained main-content blocks in order. */
  def contentBlocks(html: String): Vector[Block] = {
    val bs = blocks(html)
    val keep = new Array[Boolean](bs.length)
    var prevContent = false
    var idx = 0
    bs.foreach { b =>
      val dense = b.linkDensity < MaxLinkDensity
      val isContent =
        dense && (b.words >= MinWords || (b.heading && b.words >= 1) ||
          (prevContent && b.words >= 3))
      keep(idx) = isContent
      prevContent = isContent
      idx += 1
    }
    bs.indices.collect { case i if keep(i) => bs(i) }.toVector
  }

  /** The HTML branch's `extracted_text`: content blocks joined with `\n`. */
  def extract(html: String): String = contentBlocks(html).map(_.text).mkString("\n")

  def normalizeWs(s: String): String = {
    val sb = new StringBuilder(s.length)
    var inWs = true // leading ws dropped
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      // ' ' (nbsp, from &nbsp; decoding) normalizes like whitespace
      if (c.isWhitespace || c == ' ') { if (!inWs) { sb.append(' '); inWs = true } }
      else { sb.append(c); inWs = false }
      i += 1
    }
    if (sb.nonEmpty && sb.last == ' ') sb.setLength(sb.length - 1)
    sb.toString
  }

  def countWords(s: String): Int = {
    var n = 0; var inWord = false
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') inWord = false
      else if (!inWord) { n += 1; inWord = true }
      i += 1
    }
    n
  }
}
