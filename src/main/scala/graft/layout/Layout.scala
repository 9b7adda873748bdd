package graft.layout

import graft.model.{Line, Word}

/** 9-grid zone classification.
  *
  * Semantics replicate `/root/reference/src/core/extractor.py:124-165`
  * exactly: the bbox center is bucketed into thirds of the page with strict
  * `<` comparisons; the middle row drops the `MIDDLE-` prefix.
  */
object ZoneGrid {
  def zone(x0: Double, y0: Double, x1: Double, y1: Double, pageWidth: Double, pageHeight: Double): String = {
    val xc = (x0 + x1) / 2
    val yc = (y0 + y1) / 2
    val xt = pageWidth / 3
    val yt = pageHeight / 3
    val h =
      if (xc < xt) "LEFT"
      else if (xc < 2 * xt) "CENTER"
      else "RIGHT"
    val v =
      if (yc < yt) "TOP"
      else if (yc < 2 * yt) "MIDDLE"
      else "BOTTOM"
    if (v == "MIDDLE") h else s"$v-$h"
  }
}

/** Greedy sequential line clustering.
  *
  * Semantics replicate `/root/reference/src/core/extractor.py:167-237`:
  *  - words sorted by (y0, x0), STABLE (Python `sorted` is stable; Scala
  *    `sortBy` uses a stable sort);
  *  - a word joins the current line iff |word.y0 − anchorY| ≤ 5, where
  *    anchorY is the y0 of the FIRST word of the current line (the anchor
  *    only resets when a new line starts) — an order-dependent sequential
  *    fold, deliberately kept in-kernel (never a window rewrite; SURVEY §7.4);
  *  - line text = words sorted by x0 (stable) joined with a single space;
  *  - line bbox = component-wise min/max; zone = leftmost word's zone.
  *
  * This is per-document, row-local logic: it never shuffles.
  */
object LineClusterer {
  val YThreshold: Double = 5.0

  def cluster(words: Seq[Word]): Vector[Line] =
    clusterGroups(words).map(assemble)

  /** The raw clustered word groups (same fold as [[cluster]]); exposed for
    * operators that need per-line word geometry, e.g. [[TableDetector]].
    */
  // (y0, x0) comparator — same total order as sortBy on the tuple
  // (coordinates are parsed finite, so Double.compare == the tuple
  // Ordering), sorted stably by TimSort without boxing a Tuple2 per word
  private val YXOrder: java.util.Comparator[Word] = new java.util.Comparator[Word] {
    def compare(a: Word, b: Word): Int = {
      val c = java.lang.Double.compare(a.y0, b.y0)
      if (c != 0) c else java.lang.Double.compare(a.x0, b.x0)
    }
  }

  def clusterGroups(words: Seq[Word]): Vector[List[Word]] = {
    if (words.isEmpty) return Vector.empty
    val sorted = words.toArray
    java.util.Arrays.sort(sorted, YXOrder)
    val groups = Vector.newBuilder[List[Word]]
    var current = List.newBuilder[Word]
    var currentSize = 0
    var anchorY = sorted(0).y0
    var i = 0
    while (i < sorted.length) {
      val w = sorted(i)
      if (math.abs(w.y0 - anchorY) <= YThreshold) {
        current += w; currentSize += 1
      } else {
        if (currentSize > 0) groups += current.result()
        current = List.newBuilder[Word]
        current += w
        currentSize = 1
        anchorY = w.y0
      }
      i += 1
    }
    if (currentSize > 0) groups += current.result()
    groups.result()
  }

  // x0 comparator for within-line ordering (stable TimSort, no tuple boxing)
  private val XOrder: java.util.Comparator[Word] = new java.util.Comparator[Word] {
    def compare(a: Word, b: Word): Int = java.lang.Double.compare(a.x0, b.x0)
  }

  /** Cf. `_create_line_dict`, `/root/reference/src/core/extractor.py:207-237`. */
  def assemble(ws: List[Word]): Line = {
    val byX = ws.toArray
    java.util.Arrays.sort(byX, XOrder)
    var x0 = Double.MaxValue; var y0 = Double.MaxValue
    var x1 = Double.MinValue; var y1 = Double.MinValue
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < byX.length) {
      val w = byX(i)
      if (w.x0 < x0) x0 = w.x0
      if (w.y0 < y0) y0 = w.y0
      if (w.x1 > x1) x1 = w.x1
      if (w.y1 > y1) y1 = w.y1
      if (i > 0) sb.append(' ')
      sb.append(w.text)
      i += 1
    }
    Line(sb.toString, x0, y0, x1, y1, byX(0).zone, byX.length)
  }
}

/** Layout-text formatting: `[{zone}] [x:{X0}-{X1}, y:{Y0}] {text}` per line,
  * joined with `\n`. Cf. `/root/reference/src/core/extractor.py:239-261`.
  *
  * Byte-identity note: Python `int()` truncates toward zero; `Double.toInt`
  * in Scala does the same — both print as plain decimal integers, so the
  * formatted bytes match for any finite coordinate.
  */
object LayoutFormatter {
  // the ONE definition of the line format (direct appends, no per-line
  // interpolated intermediates) — formatLine and format both emit through it
  private def appendLine(sb: java.lang.StringBuilder, l: Line): Unit = {
    sb.append('[').append(l.zone).append("] [x:").append(l.x0.toInt)
      .append('-').append(l.x1.toInt).append(", y:").append(l.y0.toInt)
      .append("] ").append(l.text)
    ()
  }

  def formatLine(l: Line): String = {
    val sb = new java.lang.StringBuilder
    appendLine(sb, l)
    sb.toString
  }

  def format(lines: Seq[Line]): String = {
    val sb = new java.lang.StringBuilder
    var first = true
    lines.foreach { l =>
      if (!first) sb.append('\n')
      appendLine(sb, l)
      first = false
    }
    sb.toString
  }
}

/** Table detection — P8 (`/root/reference/src/core/extractor.py:98-99`,
  * `page.find_tables()` → `has_tables` metadata, never alters text).
  *
  * The reference detects ruled tables via pdfplumber's line intersections;
  * our PDF subset carries no ruling geometry, so detection uses the other
  * classic signal (pdfplumber's "text" strategy): COLUMN ALIGNMENT. A page
  * has a table iff ≥ `MinRows` clustered lines share ≥ `MinCols` common
  * word-start x positions (within `XTolerance`) — flowing text re-wraps at
  * ragged x offsets and never aligns columns across that many rows.
  * Metadata-only, exactly like the reference.
  *
  * Known limitation (shared with pdfplumber's "text" strategy): text whose
  * words are all the same width wraps to identical offsets and is
  * indistinguishable from a grid — such pages flag true. On the benchmark
  * corpus (perfbench, seed 7) that is 7,344 of its 9,569 PDFs. A false
  * positive never affects extracted_text/spans.
  *
  * Runs on primitive sorted `Long` arrays: each line's distinct buckets,
  * one sorted concatenation of them whose runs count the lines per bucket,
  * and a binary search of the column buckets per line for the streak.
  */
object TableDetector {
  val MinRows = 3
  val MinCols = 2
  val XTolerance = 2.0

  def detect(lineGroups: Seq[Seq[Word]]): Boolean = {
    if (lineGroups.length < MinRows) return false
    // each line's distinct word-start x buckets on the tolerance grid, sorted
    val perLine = lineGroups.iterator.map(distinctBuckets).toArray
    // column candidates: buckets appearing in >= MinRows lines
    val all = Array.concat(perLine.toSeq: _*)
    java.util.Arrays.sort(all)
    val columns = new Array[Long](all.length)
    var nCols = 0
    var i = 0
    while (i < all.length) {
      var j = i + 1
      while (j < all.length && all(j) == all(i)) j += 1
      if (j - i >= MinRows) { columns(nCols) = all(i); nCols += 1 }
      i = j
    }
    if (nCols < MinCols) return false
    // require MinRows CONSECUTIVE lines each hitting >= MinCols candidates
    var streak = 0
    var l = 0
    while (l < perLine.length) {
      val bs = perLine(l)
      var hits = 0
      i = 0
      while (i < bs.length) {
        if (java.util.Arrays.binarySearch(columns, 0, nCols, bs(i)) >= 0) hits += 1
        i += 1
      }
      if (hits >= MinCols) {
        streak += 1
        if (streak >= MinRows) return true
      } else streak = 0
      l += 1
    }
    false
  }

  /** The distinct `math.round(x0 / XTolerance)` of `ws`, ascending. */
  private def distinctBuckets(ws: Seq[Word]): Array[Long] = {
    val bs = ws.iterator.map(w => math.round(w.x0 / XTolerance)).toArray
    java.util.Arrays.sort(bs)
    var n = 0
    var i = 0
    while (i < bs.length) {
      if (n == 0 || bs(i) != bs(n - 1)) { bs(n) = bs(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(bs, n)
  }
}
