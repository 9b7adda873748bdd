package perfbench

import graft.model.PageRow
import graft.pages.PagesGen
import org.apache.spark.sql.{Dataset, SparkSession}

/** A seeded pages corpus: the base documents (`doc_id`, `text`, `lang`)
  * replicated `replicas` times, replica r taking doc ids
  * `base + (offset + r) * Stride`. Payloads are built by [[PagesGen.row]],
  * a pure function of the doc id, so urls, the payload class of every page
  * (PDF, HTML, corrupt, empty, giant) and the bytes all follow from the
  * seed through `offset`.
  */
final class Corpus(val base: Vector[(Long, String, String)], val replicas: Int, val offset: Long) {
  import Corpus.Stride

  private val byBase: Map[Long, (String, String)] = base.map { case (id, t, l) => id -> (t, l) }.toMap

  def docIds: Iterator[Long] =
    Iterator.range(0, replicas).flatMap(r => base.iterator.map(_._1 + (offset + r) * Stride))

  def size: Long = base.size.toLong * replicas

  def row(docId: Long): PageRow = {
    val (text, lang) = byBase(docId % Stride)
    PagesGen.row(docId, text, lang)
  }

  def url(docId: Long): String = PagesGen.url(docId, byBase(docId % Stride)._2)

  /** The pages, generated on the executors (the map is row-local). */
  def pages(spark: SparkSession, partitions: Int, keep: Long => Boolean = _ => true): Dataset[PageRow] = {
    import spark.implicits._
    val (reps, off, stride) = (replicas, offset, Stride)
    spark.createDataset(base).repartition(partitions).flatMap { case (id, text, lang) =>
      Iterator.range(0, reps).map(r => id + (off + r) * stride).filter(keep)
        .map(d => PagesGen.row(d, text, lang))
    }
  }
}

object Corpus {
  /** PagesGen's replica stride: base doc ids must stay below it. */
  val Stride: Long = 1000000L

  def load(spark: SparkSession, documentsParquet: String, replicas: Int, seed: Long): Corpus = {
    import spark.implicits._
    val base = spark.read.parquet(documentsParquet).select("doc_id", "text", "lang")
      .as[(Long, String, String)].collect().toVector
      .map { case (id, t, l) => (id, Option(t).getOrElse(""), Option(l).getOrElse("und")) }
      .sortBy(_._1)
    require(base.nonEmpty && base.forall(b => b._1 >= 0 && b._1 < Stride),
      s"base doc ids must lie in [0, $Stride)")
    new Corpus(base, replicas, offset = 1 + Math.floorMod(seed, 100000L) * replicas)
  }

  /** (status, doctype) PagesGen's recipe gives a doc id: empty payloads
    * (id % 53) and corrupt PDFs (id % 41) are error rows, id % 3 is a PDF,
    * the rest is HTML.
    */
  def expectedClass(docId: Long): (String, String) =
    if (docId % 53 == 0) ("error", "unknown")
    else if (docId % 41 == 0) ("error", "pdf")
    else if (docId % 3 == 0) ("ok", "pdf")
    else ("ok", "html")

  /** Stable 1-in-`n` selection of doc ids (independent of the seed's offset arithmetic). */
  def oneIn(n: Int)(docId: Long): Boolean =
    Math.floorMod(java.lang.Long.hashCode(docId * 0x9E3779B97F4A7C15L), n) == 0
}
