package graft.job

import graft.extract.SpanExtractor
import graft.model._
import graft.table.SnapshotTable
import org.apache.spark.TaskContext
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.AccumulatorV2

/** The batch extraction job — the reference's `/extract/batch` endpoint
  * (`/root/reference/src/main.py:473-627`) re-expressed as ONE Dataset
  * transform, designed for a 10^12-row table:
  *
  *  1. resume anti-join: pages whose `url` is already in the committed
  *     results snapshot are skipped (the durable analog of the reference's
  *     Redis cache-hit short-circuit, `/root/reference/src/core/pipeline.py:51-57`).
  *     The committed side projects ONLY `url` — column pruning keeps the
  *     multi-TB `html` column out of it. Below Spark's broadcast threshold
  *     the join is a broadcast join; above it, a sort-merge join that
  *     shuffles the pages (see [[pending]]).
  *  2. no payload exchange of its own: the kernel runs in the pending
  *     rows' partitions — the source's scan splits, or the sort-merge
  *     anti-join's output. Spark sizes scan splits by bytes, not rows, so
  *     a split holding giant payloads holds fewer rows, and the kernel's
  *     cost follows payload bytes. The kernel pass is the only pass that
  *     reads a payload. A source planned into fewer partitions than task
  *     slots (one file or row group, the one partition a global `limit`
  *     leaves) would leave slots idle, so [[run]] gives it
  *     [[partitionForExtraction]]'s layout over the slots instead, at the
  *     price of one sampling pass and one shuffle of every payload.
  *  3. the kernel runs in `mapPartitions` — embarrassingly parallel, one
  *     document in flight per task at a time (streaming iterator, no
  *     materialized partition lists → bounded memory at any document size).
  *  4. results, then per-partition lineage/metrics, are published as TWO
  *     atomic snapshot commits under one commit id, one per table. The
  *     results are a Spark write; the lineage rows are already on the
  *     driver, which writes them as one parquet file, with no Spark job.
  *     A killed run resumes from the last committed results snapshot
  *     without reprocessing (north_rule), and a kill between the two
  *     publishes is repaired before the next run or epoch processes
  *     anything ([[backfillMetrics]]).
  */
object ExtractJob {

  final case class JobStats(version: Int, rowsIn: Long, rowsOk: Long, rowsError: Long)

  /** The results columns whose values barely repeat, so a parquet
    * dictionary for them is built only to be dropped: the results table
    * writes them PLAIN (see [[SnapshotTable]]), which is what parquet-mr
    * writes for them anyway.
    */
  val PlainResultCols: Set[String] = Set("url", "extracted_text", "pdf_hash", "cache_key", "kernel_ns")

  def resultsTable(root: String) = new SnapshotTable(s"$root/results", plainCols = PlainResultCols)
  def metricsTable(root: String) = new SnapshotTable(s"$root/metrics")

  /** Pending = pages minus committed urls: a left anti-join on the
    * committed snapshot's `url` column alone (column pruning keeps the
    * wide columns out of the committed side). While that column fits
    * Spark's broadcast threshold (`spark.sql.autoBroadcastJoinThreshold`,
    * 10 MB by default), AQE makes it a broadcast join and the pages keep
    * their partitions, with no shuffle. Past the threshold the plan is a
    * `SortMergeJoin LeftAnti` whose exchange hash-partitions the pages by
    * url, and so shuffles `[url, html]`: every pending page's payload
    * moves before the kernel.
    */
  def pending(spark: SparkSession, pages: Dataset[PageRow], tableRoot: String): Dataset[PageRow] = {
    import spark.implicits._
    resultsTable(tableRoot).read(spark) match {
      case None => pages
      case Some(committed) => pages.join(committed.select($"url"), Seq("url"), "left_anti").as[PageRow]
    }
  }

  /** The layout [[run]] gives a source planned into fewer partitions than
    * task slots: `numPartitions` ranges of xxhash64(url). It costs a
    * sampling pass over the pages for the range bounds and a shuffle of
    * every payload. The range partitioner splits by row count, and a
    * url's hash says nothing of its payload's size, so large payloads
    * spread over the partitions like any other row.
    */
  def partitionForExtraction(pages: Dataset[PageRow], numPartitions: Int): Dataset[PageRow] = {
    import pages.sparkSession.implicits._
    pages.repartitionByRange(numPartitions, xxhash64($"url")).as[PageRow]
  }

  /** The distributed kernel pass (no commit). ONE kernel execution per
    * row; each result row is stamped with its task's partition id, payload
    * bytes, and per-row kernel nanos — the lineage source the committed
    * metrics aggregate from (see [[commitMetrics]]).
    */
  def extractAll(
      pages: Dataset[PageRow],
      rules: Seq[FieldRule],
      commitId: String
  ): Dataset[ExtractResult] = stamped(pages, rules, commitId, None)

  /** Driver-side lineage of one kernel pass, keyed by partition id. A merge
    * REPLACES the entry for its key, so a re-run task (stage retry,
    * speculation) cannot double-count.
    */
  private final class LineageAccumulator extends AccumulatorV2[PartitionMetrics, Map[Int, PartitionMetrics]] {
    private var byPartition = Map.empty[Int, PartitionMetrics]
    override def isZero: Boolean = byPartition.isEmpty
    override def copy(): LineageAccumulator = {
      val a = new LineageAccumulator
      a.byPartition = byPartition
      a
    }
    override def reset(): Unit = byPartition = Map.empty
    override def add(m: PartitionMetrics): Unit = byPartition += m.partition_id -> m
    override def merge(other: AccumulatorV2[PartitionMetrics, Map[Int, PartitionMetrics]]): Unit =
      byPartition ++= other.value
    override def value: Map[Int, PartitionMetrics] = byPartition
  }

  /** [[extractAll]]'s pass; with `lineage`, each non-empty task also adds
    * its metrics row to it (kernel time summed in ns before the µs
    * conversion, min/max url in UTF-8 byte order — both exactly as
    * [[commitMetrics]] computes them), so a commit learns its metrics from
    * the pass that writes the results.
    */
  private def stamped(
      pages: Dataset[PageRow],
      rules: Seq[FieldRule],
      commitId: String,
      lineage: Option[LineageAccumulator]
  ): Dataset[ExtractResult] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val rulesB = spark.sparkContext.broadcast(rules.toVector)
    val schemaHashHex = SpanExtractor.schemaHash(rules)

    pages.mapPartitions { it =>
      val rs = rulesB.value
      val pid = TaskContext.getPartitionId()
      var rows, ok, error, bytesIn, kernelNs = 0L
      var minUrl, maxUrl: UTF8String = null
      for (acc <- lineage) TaskContext.get().addTaskCompletionListener[Unit] { _ =>
        if (rows > 0) acc.add(PartitionMetrics(commitId, pid, rows, ok, error, bytesIn,
          (kernelNs.toDouble / 1000).toLong, Option(minUrl).map(_.toString).orNull,
          Option(maxUrl).map(_.toString).orNull))
      }
      it.map { row =>
        val bytes = if (row.html == null) 0L else row.html.length.toLong
        val t0 = System.nanoTime()
        val r = ExtractKernel.extract(row, rs, schemaHashHex)
        val out = r.copy(partition_id = pid, bytes_in = bytes, kernel_ns = System.nanoTime() - t0)
        rows += 1
        if (out.status == "ok") ok += 1 else if (out.status == "error") error += 1
        bytesIn += bytes
        kernelNs += out.kernel_ns
        if (lineage.isDefined && out.url != null) {
          val u = UTF8String.fromString(out.url)
          if (minUrl == null || u.binaryCompare(minUrl) < 0) minUrl = u
          if (maxUrl == null || u.binaryCompare(maxUrl) > 0) maxUrl = u
        }
        out
      }
    }
  }

  /** Derive + commit the per-partition metrics increment from the COMMITTED
    * results increment's per-row lineage columns: real task partition ids,
    * real payload bytes, real kernel time — consistent with the data by
    * construction (same rows, same single kernel pass). [[commit]] gathers
    * the same rows while it writes the results instead; this derivation
    * stays as [[backfillMetrics]]' repair and as the oracle those rows
    * must equal (a groupBy over a handful of slim columns; parquet column
    * pruning keeps `extracted_text` out of the scan).
    */
  def commitMetrics(spark: SparkSession, tableRoot: String, commitId: String): Unit = {
    import spark.implicits._
    val m = resultsTable(tableRoot).readCommit(spark, commitId)
      .groupBy($"partition_id")
      .agg(
        count("*").as("rows_in"),
        sum(when($"status" === "ok", 1L).otherwise(0L)).as("rows_ok"),
        sum(when($"status" === "error", 1L).otherwise(0L)).as("rows_error"),
        sum($"bytes_in").as("bytes_in"),
        (sum($"kernel_ns") / lit(1000L)).cast("long").as("kernel_us"),
        min($"url").as("min_url"),
        max($"url").as("max_url")
      )
      .select(lit(commitId).as("commit_id"), $"partition_id", $"rows_in", $"rows_ok",
        $"rows_error", $"bytes_in", $"kernel_us", $"min_url", $"max_url")
    metricsTable(tableRoot).append(m, commitId)
  }

  /** The commit step batch runs and streaming epochs share: kernel →
    * results commit → metrics commit, one Spark job (the results write).
    * The metrics rows come from the kernel pass itself (each task's
    * totals, gathered while the results are written — one kernel pass, no
    * read-back of the results), and the driver writes them as one parquet
    * file, with no Spark job, even when there are none; they equal what
    * [[commitMetrics]] derives from the committed rows. Returns the results
    * version and the increment's totals.
    */
  def commit(todo: Dataset[PageRow], tableRoot: String, rules: Seq[FieldRule], commitId: String): JobStats = {
    val spark = todo.sparkSession
    val lineage = new LineageAccumulator
    spark.sparkContext.register(lineage)
    val version = resultsTable(tableRoot).append(stamped(todo, rules, commitId, Some(lineage)).toDF(), commitId)
    val rows = lineage.value.values.toVector.sortBy(_.partition_id)
    metricsTable(tableRoot).append(spark, rows, commitId)
    JobStats(version, rows.map(_.rows_in).sum, rows.map(_.rows_ok).sum, rows.map(_.rows_error).sum)
  }

  /** Repair the lineage hole: a kill between the results publish and the
    * metrics publish leaves a results commit without metrics, which
    * neither a rerun (its rows anti-join away) nor a replayed epoch
    * (skipped by `hasCommit`) would ever write. Derives, via
    * [[commitMetrics]], every published results commit that appended a
    * data dir but has no metrics commit. When nothing is missing this
    * reads the two latest manifests and runs no Spark job.
    */
  private[graft] def backfillMetrics(spark: SparkSession, tableRoot: String): Unit = {
    val rt = resultsTable(tableRoot)
    for (r <- rt.latest()) {
      val done = metricsTable(tableRoot).latest().fold(Set.empty[String])(_.commitIds.toSet)
      r.commitIds.filterNot(done).filter(rt.appended).foreach(commitMetrics(spark, tableRoot, _))
    }
  }

  /** Full resumable run: lineage backfill → anti-join → kernel → results
    * and metrics commits. The kernel runs in the pending rows' own
    * partitions (header item 2) when the source is planned into at least
    * as many partitions as there are task slots; otherwise the pending
    * rows are laid out over the slots first ([[partitionForExtraction]]).
    * The count is the source's, not the pending rows': a broadcast
    * anti-join keeps the source's partitions, and only running a
    * sort-merge join's exchange would tell the pending plan's.
    * Returns stats of THIS run's increment (0 rows if everything was already
    * committed — the no-reprocessing guarantee).
    */
  def run(
      spark: SparkSession,
      pages: Dataset[PageRow],
      tableRoot: String,
      rules: Seq[FieldRule] = ExtractKernel.DefaultRules,
      commitId: String = s"c${System.currentTimeMillis()}"
  ): JobStats = {
    backfillMetrics(spark, tableRoot)
    val pend = pending(spark, pages, tableRoot)
    val slots = spark.sparkContext.defaultParallelism
    val todo = if (plannedPartitions(pages) < slots) partitionForExtraction(pend, slots) else pend
    commit(todo, tableRoot, rules, commitId)
  }

  /** The partitions `ds` runs in, read off its physical plan without
    * running a job: its static output partitioning (1 after a global
    * `limit`, n after a `repartition(n)`); else, for a plan with no
    * exchange or subquery, the partitions of its RDD, whose building only
    * computes its splits (a file scan's, local rows'); else 0.
    */
  private[graft] def plannedPartitions(ds: Dataset[_]): Int = {
    val plan = ds.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.outputPartitioning.numPartitions match {
      case 0 if !plan.exists(p => p.isInstanceOf[Exchange] || p.subqueries.nonEmpty) =>
        plan.execute().getNumPartitions
      case n => n
    }
  }
}
