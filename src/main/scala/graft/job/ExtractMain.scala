package graft.job

import graft.pages.PagesGen
import org.apache.spark.sql.SparkSession

/** spark-submit entrypoint for the extraction job (north_rule: "run via
  * spark-submit").
  *
  * Usage: ExtractMain <sfDir> <tableRoot> [numPartitions] [limit]
  *   sfDir         directory with documents.parquet (pages are synthesized
  *                 deterministically from it — sandbox stand-in for the crawl table)
  *   tableRoot     output root for the results/metrics snapshot tables
  *   numPartitions partitions the pages are synthesized into (default:
  *                 spark.default.parallelism; unused under a limit)
  *   limit         optional row cap (0 = all)
  */
object ExtractMain {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: ExtractMain <sfDir> <tableRoot> [numPartitions] [limit]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val tableRoot = args(1)
    val numPartitions = if (args.length > 2) args(2).toInt else 0
    val limit = if (args.length > 3) args(3).toInt else 0

    val builder = SparkSession.builder().appName("graft-extract")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    // local fallback when not launched through spark-submit
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
                   .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val parts = if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism
    // a global limit funnels the pages into one partition, which the job
    // spreads over its task slots itself: pre-partitioning them first
    // would shuffle the whole corpus to keep `limit` rows
    val pages = if (limit > 0) PagesGen.pages(spark, sfDir).limit(limit) else PagesGen.pages(spark, sfDir, parts)
    val t0 = System.nanoTime()
    val stats = ExtractJob.run(spark, pages, tableRoot)
    val sec = (System.nanoTime() - t0) / 1e9
    import graft.util.JsonFmt.d
    println(
      s"""{"job":"extract","version":${stats.version},"rows_in":${stats.rowsIn},"rows_ok":${stats.rowsOk},"rows_error":${stats.rowsError},"sec":${d(sec, 3)},"docs_per_sec":${d(if (sec > 0) stats.rowsIn / sec else 0.0, 1)}}"""
    )
    spark.stop()
  }
}
