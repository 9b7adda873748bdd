package graft.job

import graft.Fixtures._
import graft.Gated
import graft.extract.SpanExtractor
import graft.pages.PagesGen
import graft.text.TextAnalytics
import org.apache.spark.sql.functions._

/** Gated queries over the extraction kernel (`x_`, `p*_`): the committed
  * result columns, the layout zone grid, the content hash and the cache key.
  */
object ExtractQueries {

  private val schemaHashHex: String = SpanExtractor.schemaHash(ExtractKernel.DefaultRules)

  val all: Seq[Gated] = Seq(
    Gated("x_extract_results", (s, dir) => {
      import s.implicits._
      val res = ExtractJob.extractAll(
        PagesGen.pages(s, dir, s.sparkContext.defaultParallelism), ExtractKernel.DefaultRules, "verify")
      res.select($"url", $"status", $"doctype", md5($"extracted_text").as("text_md5"),
        $"word_count".cast("long").as("word_count"), $"line_count".cast("long").as("line_count"))
    }, None),
    // P6 zone grid + P7 layout formatting, relationally exposed over
    // synthetic integer bboxes derived from (doc_id, n_chars) — the
    // oracle-checkable twin of the kernel's ZoneGrid/LayoutFormatter
    Gated("p6_layout_zone", (s, dir) => {
      val x0 = (col("doc_id") % 500).cast("long")
      val y0 = ((col("doc_id") * 7) % 700).cast("long")
      val x1 = x0 + lit(40L) + (col("n_chars") % 60).cast("long")
      val y1 = y0 + lit(12L)
      val xc = (x0 + x1) / lit(2.0)
      val yc = (y0 + y1) / lit(2.0)
      val hz = when(xc < lit(612.0) / 3, "LEFT").when(xc < lit(612.0) / 3 * 2, "CENTER").otherwise("RIGHT")
      val vz = when(yc < lit(792.0) / 3, "TOP").when(yc < lit(792.0) / 3 * 2, "MIDDLE").otherwise("BOTTOM")
      val zone = when(vz === "MIDDLE", hz).otherwise(concat(vz, lit("-"), hz))
      docs(s, dir).select(col("doc_id"), zone.as("zone"),
        concat(lit("["), zone, lit("] [x:"), x0.cast("string"), lit("-"), x1.cast("string"),
          lit(", y:"), y0.cast("string"), lit("] "), substring(col("text"), 1, 20)).as("layout_line"))
    }, Some(
      """WITH c AS (SELECT doc_id, text,
        |  CAST(doc_id % 500 AS BIGINT) AS x0,
        |  CAST((doc_id * 7) % 700 AS BIGINT) AS y0,
        |  CAST(doc_id % 500 + 40 + n_chars % 60 AS BIGINT) AS x1,
        |  CAST((doc_id * 7) % 700 + 12 AS BIGINT) AS y1
        |FROM documents),
        |z AS (SELECT doc_id, text, x0, y0, x1, y1,
        |  (x0 + x1) / 2.0 AS xc, (y0 + y1) / 2.0 AS yc FROM c),
        |zz AS (SELECT doc_id, text, x0, x1, y0,
        |  CASE WHEN xc < 612.0/3 THEN 'LEFT' WHEN xc < 612.0/3*2 THEN 'CENTER' ELSE 'RIGHT' END AS hz,
        |  CASE WHEN yc < 792.0/3 THEN 'TOP' WHEN yc < 792.0/3*2 THEN 'MIDDLE' ELSE 'BOTTOM' END AS vz
        |FROM z)
        |SELECT doc_id,
        |  CASE WHEN vz = 'MIDDLE' THEN hz ELSE vz || '-' || hz END AS zone,
        |  '[' || CASE WHEN vz = 'MIDDLE' THEN hz ELSE vz || '-' || hz END ||
        |  '] [x:' || x0 || '-' || x1 || ', y:' || y0 || '] ' || substr(text, 1, 20) AS layout_line
        |FROM zz""".stripMargin)),
    Gated("p1_content_hash", (s, dir) =>
      docs(s, dir).select(col("doc_id"), TextAnalytics.contentHash(col("text")).as("h")),
      Some("SELECT doc_id, sha256(text) AS h FROM documents")),
    Gated("p3_cache_key", (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        concat_ws(":", lit("extract"), col("lang"), sha2(col("text"), 256), lit(schemaHashHex)).as("cache_key")),
      Some(s"SELECT doc_id, 'extract:' || lang || ':' || sha256(text) || ':$schemaHashHex' AS cache_key FROM documents"))
  )
}
