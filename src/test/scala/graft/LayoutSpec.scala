package graft

import graft.layout.{LayoutFormatter, LineClusterer, TableDetector, ZoneGrid}
import graft.model.Word
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite {

  private def w(text: String, x0: Double, y0: Double, x1: Double, y1: Double, zone: String = "Z") =
    Word(text, x0, y0, x1, y1, zone)

  // --- ZoneGrid: semantics of /root/reference/src/core/extractor.py:124-165 ---

  test("zone: 9-grid corners and center") {
    // page 300x300, thirds at 100/200; centers computed from bbox
    assert(ZoneGrid.zone(0, 0, 10, 10, 300, 300) == "TOP-LEFT")
    assert(ZoneGrid.zone(290, 0, 300, 10, 300, 300) == "TOP-RIGHT")
    assert(ZoneGrid.zone(140, 140, 160, 160, 300, 300) == "CENTER")
    assert(ZoneGrid.zone(0, 140, 10, 160, 300, 300) == "LEFT") // MIDDLE prefix dropped
    assert(ZoneGrid.zone(290, 140, 300, 160, 300, 300) == "RIGHT")
    assert(ZoneGrid.zone(140, 290, 160, 300, 300, 300) == "BOTTOM-CENTER")
    assert(ZoneGrid.zone(0, 290, 10, 300, 300, 300) == "BOTTOM-LEFT")
    assert(ZoneGrid.zone(290, 290, 300, 300, 300, 300) == "BOTTOM-RIGHT")
    assert(ZoneGrid.zone(140, 0, 160, 10, 300, 300) == "TOP-CENTER")
  }

  test("zone: strict < at the exact third boundary (center == x_third → CENTER)") {
    // x_center == 100 is NOT < 100 → CENTER band; same vertically
    assert(ZoneGrid.zone(95, 95, 105, 105, 300, 300) == "CENTER")
  }

  // --- LineClusterer: /root/reference/src/core/extractor.py:167-237 ---

  test("clustering: anchor is the FIRST word's y, not a running one") {
    // y = 0, 4, 8: with anchor semantics 8 is |8-0|>5 → new line;
    // a running-anchor (chain) implementation would merge all three.
    val words = Seq(w("a", 0, 0, 1, 1), w("b", 1, 4, 2, 5), w("c", 2, 8, 3, 9))
    val lines = LineClusterer.cluster(words)
    assert(lines.map(_.text) == Vector("a b", "c"))
  }

  test("clustering: |Δy| == 5 exactly is SAME line (<= threshold)") {
    val lines = LineClusterer.cluster(Seq(w("a", 0, 10, 1, 11), w("b", 1, 15, 2, 16)))
    assert(lines.map(_.text) == Vector("a b"))
    val lines2 = LineClusterer.cluster(Seq(w("a", 0, 10, 1, 11), w("b", 1, 15.0001, 2, 16)))
    assert(lines2.map(_.text) == Vector("a", "b"))
  }

  test("clustering: line assembly sorts by x0, unions bbox, zone from leftmost") {
    val words = Seq(
      w("world", 50, 100, 80, 110, "CENTER"),
      w("hello", 10, 101, 40, 111, "LEFT")
    )
    val Vector(line) = LineClusterer.cluster(words)
    assert(line.text == "hello world")
    assert(line.x0 == 10 && line.y0 == 100 && line.x1 == 80 && line.y1 == 111)
    assert(line.zone == "LEFT")
    assert(line.wordCount == 2)
  }

  test("clustering: empty input → no lines") {
    assert(LineClusterer.cluster(Nil).isEmpty)
  }

  test("clustering property (seeded random): every word lands in exactly one line") {
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val n = rnd.nextInt(60)
      val words = (0 until n).map { i =>
        val x = rnd.nextDouble() * 500; val y = rnd.nextDouble() * 700
        w(s"w$i", x, y, x + 1 + rnd.nextDouble() * 90, y + 10)
      }
      val lines = LineClusterer.cluster(words)
      assert(lines.map(_.wordCount).sum == words.length)
      lines.foreach { l => assert(l.x0 <= l.x1 && l.y0 <= l.y1) }
      // total text content preserved (as a multiset of tokens)
      assert(
        lines.flatMap(_.text.split(" ")).filter(_.nonEmpty).sorted ==
          words.map(_.text).sorted
      )
    }
  }

  test("clustering property (seeded random): parity with a direct transcription of the Python fold") {
    // Independent re-implementation of extractor.py:167-205, literally
    // transcribed, as a cross-check oracle for LineClusterer.
    def pythonCluster(words: Seq[Word]): Vector[Vector[Word]] = {
      if (words.isEmpty) return Vector.empty
      val sorted = words.sortBy(wd => (wd.y0, wd.x0))
      var lines = Vector.empty[Vector[Word]]
      var current = Vector.empty[Word]
      var currentY = sorted.head.y0
      for (word <- sorted) {
        if (math.abs(word.y0 - currentY) <= 5.0) current :+= word
        else {
          if (current.nonEmpty) lines :+= current
          current = Vector(word)
          currentY = word.y0
        }
      }
      if (current.nonEmpty) lines :+= current
      lines
    }
    val rnd = new scala.util.Random(7)
    (1 to 300).foreach { _ =>
      val n = rnd.nextInt(80)
      // quantized y values make |Δy| == 5 boundary hits common
      val words = (0 until n).map { i =>
        val x = (rnd.nextInt(100)).toDouble; val y = (rnd.nextInt(40) * 2.5)
        w(s"w$i", x, y, x + 5, y + 10)
      }
      val expected = pythonCluster(words).map { ws =>
        val byX = ws.sortBy(_.x0)
        byX.map(_.text).mkString(" ")
      }
      assert(LineClusterer.cluster(words).map(_.text) == expected)
    }
  }

  // --- LayoutFormatter: /root/reference/src/core/extractor.py:239-261 ---

  test("format: exact reference template with int() truncation") {
    val words = Seq(w("Nome:", 10.9, 20.7, 45.2, 32.1, "TOP-LEFT"), w("JOÃO", 50.0, 21.0, 80.6, 32.0, "TOP-LEFT"))
    val lines = LineClusterer.cluster(words)
    val text = LayoutFormatter.format(lines)
    assert(text == "[TOP-LEFT] [x:10-80, y:20] Nome: JOÃO")
  }

  test("format: multiple lines joined with \\n, no trailing newline") {
    val lines = LineClusterer.cluster(Seq(w("a", 0, 0, 5, 10, "TOP-LEFT"), w("b", 0, 50, 5, 60, "LEFT")))
    assert(LayoutFormatter.format(lines) == "[TOP-LEFT] [x:0-5, y:0] a\n[LEFT] [x:0-5, y:50] b")
  }

  // --- TableDetector: P8, /root/reference/src/core/extractor.py:98-99 ---

  private def gridRow(y: Double, cols: Seq[Double]): Seq[graft.model.Word] =
    cols.zipWithIndex.map { case (x, i) => w(s"c$i", x, y, x + 30, y + 10) }

  /** The detector's flag for `words`' clustered lines, checked against the
    * Set-based oracle it was rewritten from.
    */
  private def detect(words: Seq[graft.model.Word]): Boolean = {
    val groups = LineClusterer.clusterGroups(words)
    val flag = TableDetector.detect(groups)
    assert(flag == KernelOracles.detectTables(groups), "the rewrite must flag what the oracle flags")
    flag
  }

  test("table detection: 3 rows sharing 3 aligned columns → true") {
    val words = (0 until 3).flatMap(r => gridRow(100 + r * 20, Seq(72.0, 200.0, 340.0)))
    assert(detect(words))
  }

  test("table detection: flowing ragged text → false") {
    // word starts drift per line (re-wrapped prose): no common columns
    val words = (0 until 6).flatMap { r =>
      val jitter = r * 7.0
      Seq(w("lorem", 72 + jitter, 100 + r * 20, 120 + jitter, 110 + r * 20),
        w("ipsum", 130 + jitter * 1.3, 100 + r * 20, 180 + jitter * 1.3, 110 + r * 20))
    }
    assert(!detect(words))
  }

  test("table detection: single aligned column (left margin) is not a table") {
    val words = (0 until 5).flatMap { r =>
      Seq(w("start", 72, 100 + r * 20, 120, 110 + r * 20),
        w("rest", 130 + r * 11.0, 100 + r * 20, 180 + r * 11.0, 110 + r * 20))
    }
    assert(!detect(words))
  }

  test("table detection: interrupted streaks don't count; resumed grid does") {
    val grid = (0 until 2).flatMap(r => gridRow(100 + r * 20, Seq(72.0, 200.0)))
    val breaker = Seq(w("prose", 95, 150, 150, 160))
    val grid2 = (0 until 2).flatMap(r => gridRow(180 + r * 20, Seq(72.0, 200.0)))
    assert(!detect(grid ++ breaker ++ grid2))
    val grid3 = (0 until 3).flatMap(r => gridRow(300 + r * 20, Seq(72.0, 200.0)))
    assert(detect(grid ++ breaker ++ grid3))
  }
}
