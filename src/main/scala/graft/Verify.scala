package graft
import graft.util.JsonFmt.str
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated query filter for single-query iteration;
    // unknown names fail loudly — a typo silently skipping a query would
    // leave a parity check reading stale parquet
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
      require(names.nonEmpty, "SPARK_GRAFT_ONLY is set but names no queries")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${causeChain(e)}")
      }
    }
    // every control character escaped: a tab or CR in an oracle string
    // would otherwise make oracle_sql.json unparseable
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** `e`'s class and message, then each cause's, outermost first (at most
    * 16, should a cause chain loop). */
  private[graft] def causeChain(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .map(t => s"${t.getClass.getName}: ${t.getMessage}").mkString(" <- caused by ")
}
