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
  *     The key scan projects ONLY `url` — column pruning keeps the multi-TB
  *     `html` column out of the join.
  *  2. no payload exchange: the kernel runs in the pending rows' own
  *     partitions — the source's scan splits, or the resume anti-join's
  *     output. Spark sizes scan splits by bytes, not rows, so a split
  *     holding giant payloads holds fewer rows, and the kernel's cost
  *     follows payload bytes. The kernel pass is the only pass that reads
  *     a payload. A source planned into fewer partitions than task slots
  *     (one file or row group, the one partition a global `limit` leaves)
  *     would leave slots idle, so [[run]] gives it
  *     [[partitionForExtraction]]'s range layout over the slots instead,
  *     at the price of one sampling pass and one shuffle of every payload;
  *     a caller can ask for that layout with `numPartitions > 0`.
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

  val GiantPayloadBytes: Long = 1 << 20 // 1 MiB: the range layout's size class boundary

  final case class JobStats(version: Int, rowsIn: Long, rowsOk: Long, rowsError: Long)

  /** The results columns whose values barely repeat, so a parquet
    * dictionary for them is built only to be dropped: the results table
    * writes them PLAIN (see [[SnapshotTable]]), which is what parquet-mr
    * writes for them anyway.
    */
  val PlainResultCols: Set[String] = Set("url", "extracted_text", "pdf_hash", "cache_key", "kernel_ns")

  def resultsTable(root: String) = new SnapshotTable(s"$root/results", plainCols = PlainResultCols)
  def metricsTable(root: String) = new SnapshotTable(s"$root/metrics")

  /** Committed-key-set size above which the resume filter switches from a
    * plain anti-join to a bloom-filter pre-pass (see [[pending]]).
    */
  val BloomThreshold: Long = 10L * 1000 * 1000

  /** The live resume-filter broadcast per table root (see [[pending]]):
    * replaced-and-destroyed each time a new filter is built for the root.
    */
  private val lastBloomBroadcast =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.broadcast.Broadcast[Array[Byte]]]()

  /** Pending = pages minus committed urls.
    *
    * Two regimes, chosen from the snapshot's row count (free — it is in
    * the manifest, no scan needed):
    *
    *  - small committed set: plain left anti-join on the projected `url`
    *    column (column pruning keeps the wide `html` column out of the
    *    committed side). While the committed url column fits Spark's
    *    broadcast threshold (`spark.sql.autoBroadcastJoinThreshold`, 10 MB
    *    by default), AQE makes it a broadcast join and the pages scan does
    *    not shuffle. Past that threshold, still far below
    *    [[BloomThreshold]] rows, the plan is a `SortMergeJoin LeftAnti`
    *    whose exchange hash-partitions the pages by url and so shuffles
    *    `[url, html]`: every pending page's payload moves before the kernel;
    *  - huge committed set (resuming a 10^12-row run): build a bloom filter
    *    over committed urls (aggregated from a full scan of them on every
    *    call, then broadcast): pages the filter rejects are DEFINITELY
    *    uncommitted, kept with no shuffle at all; pages the filter accepts
    *    (true hits + false positives) go through the exact anti-join, and
    *    so take the same payload-carrying exchange. False positives come
    *    back from the join if genuinely pending — never dropped, so the
    *    per-row invariant holds. The win is proportional to the share of
    *    NEW pages in the input.
    */
  def pending(
      spark: SparkSession,
      pages: Dataset[PageRow],
      tableRoot: String,
      bloomThreshold: Long = BloomThreshold
  ): Dataset[PageRow] = {
    import spark.implicits._
    val rt = resultsTable(tableRoot)
    rt.latest() match {
      case None => pages
      case Some(snap) =>
        val committed = rt.read(spark).get.select($"url")
        if (snap.rowCount <= bloomThreshold) {
          pages.join(committed, Seq("url"), "left_anti").as[PageRow]
        } else {
          // cap the filter at 8e9 bits (~1 GB; well under the Long-indexed
          // BitArray ceiling) — an uncapped build at 10^10+ keys would
          // exceed BloomFilter's allocatable size and OOM/throw. Past the
          // cap the fpp degrades gracefully: false positives only route
          // more rows through the exact anti-join (slower, never wrong).
          //
          // The membership test is a codegen'd COLUMN predicate over
          // xxhash64(url), evaluated on the columnar scan — no per-row
          // PageRow deserialization into a Scala lambda on either branch.
          // The filter bytes travel as a BROADCAST, not a plan literal: a
          // lit(bytes) at this cap is a ~1 GB binary in the expression
          // tree, rendered as 2×-size hex by any plan stringification
          // (explain, UI SQL tab) — a driver OOM in exactly the regime
          // this path exists for. The broadcast ships once per executor
          // and deserializes once per executor (BloomBroadcastCache).
          // The filter is built over xxhash64(url) LONGS so build
          // (putLong) and probe (mightContainLong) share one hash domain;
          // a 64-bit url-hash collision only adds a false positive.
          //
          // Cost note: the two branches each evaluate the source (scan ×2)
          // — the deliberate trade: a columnar re-scan is far cheaper than
          // shuffling every page INCLUDING payloads through a sort-merge
          // anti-join, and the committed rows that do reach the exact join
          // were never going to be extracted. A single-scan design would
          // need a custom routing exchange (one operator, two shuffle
          // destinations) — not expressible with built-ins and not worth
          // the surface; at 10^12 rows the scan is pruned to survive this.
          val n = math.max(snap.rowCount, 1L)
          val numBits = math.min(n * 10L, 8L * 1000 * 1000 * 1000)
          val bf = committed.select(xxhash64($"url").as("h")).stat.bloomFilter("h", n, numBits)
          val baos = new java.io.ByteArrayOutputStream()
          bf.writeTo(baos)
          val bfB = spark.sparkContext.broadcast(baos.toByteArray)
          // one live filter broadcast per table root: a streaming resume
          // rebuilds the filter every epoch, and without this the previous
          // epochs' (up to ~1 GB) broadcasts pile up on the driver and
          // executors for the stream's lifetime. Contract: a pending() plan
          // must execute before the NEXT pending() call on the same root
          // (true for batch runs and foreachBatch epochs, which serialize).
          Option(lastBloomBroadcast.put(tableRoot, bfB)).foreach(_.destroy())
          val probeName =
            graft.functions.BloomBroadcastMightContain.registerProbe(spark, bfB, tableRoot)
          val might = call_function(probeName, xxhash64($"url"))
          val definitelyNew = pages.where(!might)
          val maybeCommitted = pages.where(might)
          definitelyNew.union(maybeCommitted.join(committed, Seq("url"), "left_anti").as[PageRow])
        }
    }
  }

  /** The range layout [[run]] uses for a source planned into fewer
    * partitions than task slots, or when asked for `numPartitions > 0`:
    * range-partition on (sizeClass, xxhash64(url)), giants (payload
    * ≥ [[GiantPayloadBytes]], sizeClass 0) first. It costs a sampling
    * pass over every payload for the range bounds and a shuffle of every
    * payload. The range partitioner allocates partitions by ROW count, so
    * at `numPartitions` = cores the giant class shares partition 0 with
    * ~N/parts small rows: it is not isolated, only launched first. (The
    * ~7-8 s giants-last tail once measured came from Bench's `PagesGen`
    * pre-partitioning with its own `doc_id % 97` giant class; the 1 MiB
    * class never fires on the synthetic corpus, whose giants are ~25× a
    * normal doc.)
    */
  def partitionForExtraction(pages: Dataset[PageRow], numPartitions: Int): Dataset[PageRow] = {
    import pages.sparkSession.implicits._
    pages
      .repartitionByRange(
        numPartitions,
        when(length($"html") >= GiantPayloadBytes, lit(0)).otherwise(lit(1)),
        xxhash64($"url")
      )
      .as[PageRow]
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
    * as many partitions as there are task slots; otherwise, or when
    * `numPartitions > 0`, they are range-partitioned first
    * ([[partitionForExtraction]]) into `numPartitions`, or the slots. The
    * count is the source's, not the pending rows': the resume filter keeps
    * the source's partitions (a broadcast anti-join, the bloom pre-pass),
    * and only running its exchanges would tell the pending plan's.
    * Returns stats of THIS run's increment (0 rows if everything was already
    * committed — the no-reprocessing guarantee).
    */
  def run(
      spark: SparkSession,
      pages: Dataset[PageRow],
      tableRoot: String,
      rules: Seq[FieldRule] = ExtractKernel.DefaultRules,
      numPartitions: Int = 0,
      commitId: String = s"c${System.currentTimeMillis()}"
  ): JobStats = {
    backfillMetrics(spark, tableRoot)
    val pend = pending(spark, pages, tableRoot)
    val slots = spark.sparkContext.defaultParallelism
    val todo =
      if (numPartitions > 0 || plannedPartitions(pages) < slots)
        partitionForExtraction(pend, if (numPartitions > 0) numPartitions else slots)
      else pend
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
