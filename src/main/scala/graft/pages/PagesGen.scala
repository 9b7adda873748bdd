package graft.pages

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import graft.model.PageRow
import graft.pdf.MiniPdf
import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic synthesis of the Common-Crawl-style pages table
  * (url, warc_ts, html BINARY, text, lang) from the driver-generated
  * `documents.parquet` — the sandbox stand-in for reading a real WARC/Iceberg
  * crawl table. Purely a function of (doc_id, text, lang): same input →
  * byte-identical payloads at any parallelism, which is what lets the golden
  * set be frozen.
  *
  * Corpus shape (exercises every kernel path + skew realism, SURVEY §7.4.5):
  *  - doc_id % 3 == 0  → PDF payload ([[MiniPdf]] subset, words laid out on a
  *    612×792 page in reading order);
  *  - doc_id % 41 == 0 → truncated/corrupt payload (error-row path);
  *  - doc_id % 53 == 0 → empty payload (F3 gate);
  *  - doc_id % 97 == 0 → "giant" document (text ×25) — skew;
  *  - otherwise        → HTML payload with nav/header/footer boilerplate,
  *    link farms, and the document text as main content.
  */
object PagesGen {

  val BaseEpochMs: Long = 1700000000000L // fixed, deterministic

  def url(docId: Long, lang: String): String = f"https://synth.example/$lang%s/doc$docId%08d"

  def pdfWords(text: String, docId: Long): Seq[MiniPdf.PlacedWord] = {
    val fontSize = 10.0 + (docId % 3) // 10/11/12pt — varies zone geometry
    val charW = 0.6 * fontSize
    val x0 = 72.0
    val xMax = 540.0
    val yTop = 720.0
    val lineStep = fontSize + 4.0
    var x = x0
    var y = yTop
    val out = Vector.newBuilder[MiniPdf.PlacedWord]
    val words = text.split("\\s+").iterator.filter(_.nonEmpty)
    var placed = 0
    while (words.hasNext && y > 72.0 && placed < 600) {
      val w = words.next()
      val width = charW * w.length
      if (x + width > xMax && x > x0) { x = x0; y -= lineStep }
      if (y > 72.0) {
        out += MiniPdf.PlacedWord(w, x, y, fontSize)
        x += width + charW // one char advance as the inter-word gap
        placed += 1
      }
    }
    out.result()
  }

  def htmlPayload(docId: Long, text: String, lang: String): String = {
    val paras = text.split("(?<=[.!?]) ").grouped(3).map(_.mkString(" ")).toVector
    val body = paras.zipWithIndex.map { case (p, i) =>
      if (i == 1 && paras.length > 2)
        s"<p>$p <a href='/ref$i'>related item $i</a></p>"
      else s"<p>$p</p>"
    }.mkString("\n")
    s"""<!DOCTYPE html>
<html lang="$lang">
<head><title>Synth doc $docId</title>
<style>body { font: 14px sans-serif; }</style>
<script>var trackingId = "$docId"; track(trackingId);</script>
</head>
<body>
<header><h1 class="site">Synth Crawl Portal</h1>
<nav><a href="/">home</a> <a href="/news">news</a> <a href="/about">about</a> <a href="/contact">contact</a></nav></header>
<div class="ad">Buy now! <a href="/promo">promo</a> <a href="/deal">deal</a> <a href="/sale">sale</a></div>
<article>
<h2>Documento $docId</h2>
$body
<p>Autor: author-${docId % 211} Data de emissao: 2024-${"%02d".format(1 + (docId % 12))}-15 Numero de registro: REG-$docId</p>
</article>
<aside><ul><li><a href="/r1">rel 1</a></li><li><a href="/r2">rel 2</a></li></ul></aside>
<footer><p>© 2024 Synth Crawl Portal. <a href="/terms">terms</a> <a href="/privacy">privacy</a></p></footer>
</body></html>"""
  }

  /** Pure per-document payload builder. */
  def payload(docId: Long, text0: String, lang: String): Array[Byte] = {
    val text = if (docId % 97 == 0) (text0 + " ") * 25 else text0
    if (docId % 53 == 0) Array.emptyByteArray
    else if (docId % 41 == 0) {
      // corrupt: PDF magic followed by garbage — sniffs as PDF, fails to parse
      ("%PDF-1.4\n<<corrupt " + docId + ">>").getBytes(UTF_8)
    } else if (docId % 3 == 0) {
      val title = s"Documento $docId"
      val meta = s"titulo: $title autor: author-${docId % 211} data de emissao: 2024-${"%02d".format(1 + (docId % 12))}-15 numero de registro: REG-$docId"
      MiniPdf.build(pdfWords(title + " " + meta + " " + text, docId))
    } else htmlPayload(docId, text, lang).getBytes(UTF_8)
  }

  def row(docId: Long, text: String, lang: String): PageRow =
    PageRow(
      url = url(docId, lang),
      warc_ts = new Timestamp(BaseEpochMs + docId * 1000L),
      html = payload(docId, text, lang),
      text = text,
      lang = lang
    )

  /** Distributed generation: documents.parquet → Dataset[PageRow]. The map is
    * row-local (no shuffle); payload bytes are built inside executors.
    *
    * With `numPartitions > 0` the SLIM projection (doc_id, text, lang) is
    * range-partitioned BEFORE payload synthesis, on the composite key
    * (giant-doc class `doc_id % 97`, xxhash64(url)) — so (a) the shuffle
    * moves kilobytes of text, never the synthesized binary payloads, and
    * (b) the job can extract in these partitions as they are, with no
    * repartition before the kernel. This mirrors the real 10^12-row layout
    * decision: partition on cheap derivable keys upstream of the wide
    * binary column.
    */
  /** `replicate > 1` expands the corpus deterministically (replica r gets
    * doc_id + r·10⁶ → distinct urls/payloads, same text distribution) —
    * used by the bench to size the workload, never by correctness runs.
    */
  def pages(spark: SparkSession, sfDir: String, numPartitions: Int = 0, replicate: Int = 1): Dataset[PageRow] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "lang")
    // documents.parquet is one file = ONE input split; without an early
    // spread the whole explode/synthesis stage runs on a single task and
    // caps scaling no matter how many cores downstream stages get
    val base =
      if (numPartitions > 0 && replicate > 1) base0.repartition(numPartitions)
      else base0
    val slim =
      if (replicate <= 1) base
      else base
        // replica stride is 10^6: a base doc_id at or above it would collide
        // with replica 1's id space (duplicate urls/payloads) — fail loudly
        // per row instead of silently corrupting the bench corpus
        .withColumn("doc_id",
          when(col("doc_id") < 1000000L, col("doc_id"))
            .otherwise(raise_error(concat(
              lit("PagesGen.replicate requires doc_id < 1000000, got "),
              col("doc_id").cast("string"))).cast("long")))
        .withColumn("rep", explode(sequence(lit(0), lit(replicate - 1))))
        .withColumn("doc_id", col("doc_id") + col("rep") * lit(1000000L))
        .drop("rep")
    val parted =
      if (numPartitions <= 0) slim
      else {
        // url + giant-class are pure functions of (doc_id, lang) — compute
        // the range key pre-shuffle, drop it after. Giants sort FIRST
        // (class 0): heavy partitions launch before the small-row waves
        // (LPT scheduling).
        val urlCol = format_string("https://synth.example/%s/doc%08d", col("lang"), col("doc_id"))
        val giant = when(col("doc_id") % 97 === 0, lit(0)).otherwise(lit(1))
        slim.repartitionByRange(numPartitions, giant, xxhash64(urlCol))
      }
    parted
      .as[(Long, String, String)]
      .map { case (id, text, lang) => row(id, Option(text).getOrElse(""), Option(lang).getOrElse("und")) }
  }
}
