package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.model.Word
import graft.sniff.ContentSniffer

/** The kernels' earlier implementations, kept as the oracles the rewrites
  * must agree with (see `KernelParitySpec`). They are the definitions the
  * byte rule and the primitive-array detector were derived from: a change
  * to either kernel that is meant to change what it returns must change
  * these too, on purpose.
  */
object KernelOracles {

  /** Decode the first 1 KiB as UTF-8, lowercase it (`Locale.ROOT`) and
    * search the text for the HTML markers.
    */
  def sniff(bytes: Array[Byte]): ContentSniffer.DocType = {
    if (bytes == null || bytes.length == 0) return ContentSniffer.Unknown
    if (bytes.length >= 5 && java.util.Arrays.equals(bytes.take(5), "%PDF-".getBytes(UTF_8))) return ContentSniffer.Pdf
    val head = new String(bytes, 0, math.min(bytes.length, 1024), UTF_8).toLowerCase(java.util.Locale.ROOT)
    val t = head.dropWhile(c => c.isWhitespace || c == '﻿')
    if (
      t.startsWith("<!doctype html") || t.startsWith("<html") ||
      head.contains("<html") || head.contains("<head") || head.contains("<body") ||
      head.contains("<!doctype html") || head.contains("<div") || head.contains("<p>") ||
      head.contains("<title")
    ) ContentSniffer.Html
    else ContentSniffer.Unknown
  }

  /** Column alignment over boxed `Set[Long]` buckets per line. */
  def detectTables(lineGroups: Seq[Seq[Word]]): Boolean = {
    val MinRows = 3
    val MinCols = 2
    if (lineGroups.length < MinRows) return false
    def buckets(ws: Seq[Word]): Set[Long] =
      ws.iterator.map(w => math.round(w.x0 / 2.0)).toSet
    val perLine = lineGroups.map(buckets)
    val freq = scala.collection.mutable.Map.empty[Long, Int]
    perLine.foreach(_.foreach(b => freq(b) = freq.getOrElse(b, 0) + 1))
    val columns = freq.collect { case (b, n) if n >= MinRows => b }.toSet
    if (columns.size < MinCols) return false
    var streak = 0
    perLine.foreach { bs =>
      if (bs.count(columns.contains) >= MinCols) {
        streak += 1
        if (streak >= MinRows) return true
      } else streak = 0
    }
    false
  }
}
