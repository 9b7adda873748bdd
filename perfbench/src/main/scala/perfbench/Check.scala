package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import graft.extract.SpanExtractor
import graft.job.{ExtractJob, ExtractKernel}
import graft.model.ExtractResult
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Output check of one operation against the committed results table. */
object Check {

  /** Committed rows sampled for the byte-equality check: about 1 in 300. */
  val SampleOneIn = 300

  /** Returns the problems found (empty when the output is correct) and the
    * digest of the sorted (url, extracted_text, spans) rows when asked for.
    *
    *  - every input url is committed exactly once, and nothing else is;
    *  - the rows per (status, doctype) equal PagesGen's recipe;
    *  - sampled rows equal a direct `ExtractKernel.extract` of the same page
    *    (lineage columns aside);
    *  - with `wantDigest`, the digest of the whole table.
    */
  def apply(spark: SparkSession, tableRoot: String, corpus: Corpus,
            wantDigest: Boolean): (Vector[String], Option[String]) = {
    import spark.implicits._
    val problems = Vector.newBuilder[String]
    val results = ExtractJob.resultsTable(tableRoot).read(spark) match {
      case Some(df) => df
      case None => return (Vector(s"no committed results under $tableRoot"), None)
    }

    val expectedByUrl = corpus.docIds.map(id => corpus.url(id) -> id).toMap
    val got = results.select("url", "status", "doctype").as[(String, String, String)].collect()
    val dup = got.length - got.iterator.map(_._1).toSet.size
    if (dup != 0) problems += s"$dup urls committed more than once"
    val gotUrls = got.iterator.map(_._1).toSet
    val missing = expectedByUrl.keysIterator.count(u => !gotUrls.contains(u))
    val extra = gotUrls.count(u => !expectedByUrl.contains(u))
    if (missing != 0 || extra != 0) problems += s"url set differs from the input: $missing missing, $extra extra"

    val expectedCounts = expectedByUrl.valuesIterator.toVector.groupBy(Corpus.expectedClass).map { case (k, v) => k -> v.size }
    val gotCounts = got.toVector.groupBy(r => (r._2, r._3)).map { case (k, v) => k -> v.size }
    if (expectedCounts != gotCounts)
      problems += s"status x doctype counts ${fmt(gotCounts)} differ from the recipe ${fmt(expectedCounts)}"

    val sampleIds = corpus.docIds.filter(Corpus.oneIn(SampleOneIn)).toVector
    val sampleUrls = sampleIds.map(corpus.url)
    val committed = results.where(col("url").isin(sampleUrls: _*)).as[ExtractResult].collect()
      .map(r => r.url -> unstamped(r)).toMap
    val rules = ExtractKernel.DefaultRules
    val schemaHash = SpanExtractor.schemaHash(rules)
    val differ = sampleIds.count { id =>
      val direct = unstamped(ExtractKernel.extract(corpus.row(id), rules, schemaHash))
      !committed.get(direct.url).contains(direct)
    }
    if (differ != 0) problems += s"$differ of ${sampleIds.size} sampled rows differ from a direct kernel call"

    val digest = if (!wantDigest) None else Some {
      val rows = results
        .select(col("url"), sha2(concat_ws("\u001f", col("url"), coalesce(col("extracted_text"), lit("\u0000")),
          to_json(col("spans"))), 256).as("h"))
        .as[(String, String)].collect().sortBy(_._1)
      val md = MessageDigest.getInstance("SHA-256")
      rows.foreach { case (u, h) => md.update(s"$u\t$h\n".getBytes(UTF_8)) }
      md.digest().map(b => f"${b & 0xff}%02x").mkString
    }
    (problems.result(), digest)
  }

  private def unstamped(r: ExtractResult): ExtractResult =
    r.copy(spans = r.spans.toVector, unresolved = r.unresolved.toVector, partition_id = -1, bytes_in = 0L, kernel_ns = 0L)

  private def fmt(m: Map[(String, String), Int]): String =
    m.toSeq.sorted.map { case ((s, d), n) => s"$s/$d=$n" }.mkString("{", ", ", "}")
}
