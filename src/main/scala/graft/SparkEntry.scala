package graft

import graft.dedup.DedupQueries
import graft.events.EventQueries
import graft.job.{ExtractJob, ExtractKernel, ExtractQueries}
import graft.media.MediaQueries
import graft.pages.PagesGen
import graft.pipeline.PipelineQueries
import graft.sim.SimilarityQueries
import graft.text.TextQueries
import graft.web.WebQueries
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The correctness contract: `entry` runs the flagship extraction, and every
  * [[Gated]] query pairs its Spark side with its DuckDB oracle, if any.
  * `queries` and `oracleSql` are both read off the one registry, so
  * `Verify`, `Bench` and the specs see the same contract.
  */
object SparkEntry {

  /** Flagship: the full extraction pipeline (sniff → PDF-layout | HTML
    * boilerplate-strip → spans) over pages synthesized from sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val pages = PagesGen.pages(spark, "/root/testdata/sf0.001", spark.sparkContext.defaultParallelism)
    val res = ExtractJob.extractAll(pages, ExtractKernel.DefaultRules, "entry")
    res.toDF()
  }

  /** Every gated query, family by family. */
  val gated: Seq[Gated] = unique(
    ExtractQueries.all ++ PipelineQueries.all ++ TextQueries.all ++ WebQueries.all ++
      DedupQueries.all ++ SimilarityQueries.all ++ EventQueries.all ++ MediaQueries.all)

  /** `gs`, if no two of its queries share a name: a duplicate would
    * silently shadow the other in `queries` and `oracleSql`. */
  private[graft] def unique(gs: Seq[Gated]): Seq[Gated] = {
    val dups = gs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate gated query names: ${dups.toSeq.sorted.mkString(", ")}")
    gs
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = gated.map(g => g.name -> g.run).toMap

  val oracleSql: Map[String, String] = gated.flatMap(g => g.oracle.map(g.name -> _)).toMap
}
