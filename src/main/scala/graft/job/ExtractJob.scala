package graft.job

import graft.extract.SpanExtractor
import graft.model._
import graft.table.SnapshotTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The batch extraction job — the reference's `/extract/batch` endpoint
  * (`/root/reference/src/main.py:473-627`) re-expressed as ONE Dataset
  * transform, designed for a 10^12-row table:
  *
  *  1. resume anti-join: pages whose `url` is already in the committed
  *     results snapshot are skipped (the durable analog of the reference's
  *     Redis cache-hit short-circuit, `/root/reference/src/core/pipeline.py:51-57`).
  *     The key scan projects ONLY `url` — column pruning keeps the multi-TB
  *     `html` column out of the join.
  *  2. skew-aware layout: `repartitionByRange` on `xxhash64(url)` spreads
  *     urls uniformly; rows with giant payloads are additionally salted into
  *     their own partitions via a composite range key on payload size class,
  *     so one 500 MB document cannot straggle a partition of small ones.
  *  3. the kernel runs in `mapPartitions` — embarrassingly parallel, one
  *     document in flight per task at a time (streaming iterator, no
  *     materialized partition lists → bounded memory at any document size).
  *  4. results + per-partition lineage/metrics are appended and published by
  *     ONE atomic snapshot commit — a killed run resumes from the last
  *     committed snapshot without reprocessing (north_rule).
  */
object ExtractJob {

  val GiantPayloadBytes: Long = 1 << 20 // 1 MiB: size class boundary for salting

  final case class JobStats(version: Int, rowsIn: Long, rowsOk: Long, rowsError: Long)

  // results carry url min/max file statistics in the manifest so point/
  // range lookups on a url-clustered table skip whole data dirs
  def resultsTable(root: String) = new SnapshotTable(s"$root/results", statsCol = Some("url"))
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
    *    column; AQE turns it into a broadcast join, so the pages scan
    *    never shuffles (and column pruning keeps the wide `html` column
    *    out of the committed side entirely);
    *  - huge committed set (resuming a 10^12-row run): a sort-merge
    *    anti-join would shuffle every page INCLUDING its payload. Instead,
    *    build a bloom filter over committed urls (driver-aggregated once,
    *    broadcast): pages the filter rejects are DEFINITELY uncommitted —
    *    kept with no shuffle at all; pages the filter accepts (true hits +
    *    false positives) go through the exact anti-join. False positives
    *    come back from the join if genuinely pending — never dropped, so
    *    the per-row invariant holds. The win is proportional to the share
    *    of NEW pages in the input; already-committed pages still pay the
    *    join (but were never going to be extracted).
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

  /** Skew-aware partitioning: range-partition on (sizeClass, xxhash64(url)).
    * sizeClass isolates giant documents into their own key range so range
    * boundaries keep them off the small-row partitions — and giants sort
    * FIRST (sizeClass 0): the range partitioner allocates partitions by
    * ROW count, so the giant class (few rows, many× cost) condenses into a
    * handful of heavy partitions; tasks launch in partition order, so
    * heavy-first (longest-processing-time-first) overlaps the giant
    * partitions with the small-row waves instead of leaving them as a
    * constant straggler TAIL. Measured on the bench corpus: the tail cost
    * ~7-8 s wall at ANY core count (17 % of an 8-core run, 45 % of a
    * 32-core run) — giants-last was the single largest scaling-efficiency
    * loss.
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
  ): Dataset[ExtractResult] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val rulesB = spark.sparkContext.broadcast(rules.toVector)
    val schemaHashHex = SpanExtractor.schemaHash(rules)

    pages.mapPartitions { it =>
      val rs = rulesB.value
      val pid = org.apache.spark.TaskContext.getPartitionId()
      it.map { row =>
        val bytes = if (row.html == null) 0L else row.html.length.toLong
        val t0 = System.nanoTime()
        val r = ExtractKernel.extract(row, rs, schemaHashHex)
        r.copy(partition_id = pid, bytes_in = bytes, kernel_ns = System.nanoTime() - t0)
      }
    }
  }

  /** Derive + commit the per-partition metrics increment from the COMMITTED
    * results increment's per-row lineage columns: real task partition ids,
    * real payload bytes, real kernel time — consistent with the data by
    * construction (same rows, same single kernel pass) and cheap (groupBy
    * over a handful of slim columns; parquet column pruning keeps
    * `extracted_text` out of the scan).
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
    * results commit → metrics commit (derived from the committed
    * increment's per-row lineage columns — one kernel pass total,
    * [[extractAll]] stamped them on the result rows). Returns the results
    * version.
    */
  def commit(todo: Dataset[PageRow], tableRoot: String, rules: Seq[FieldRule], commitId: String): Int = {
    val version = resultsTable(tableRoot).append(extractAll(todo, rules, commitId).toDF(), commitId)
    commitMetrics(todo.sparkSession, tableRoot, commitId)
    version
  }

  /** Full resumable run: anti-join → partition → kernel → atomic commit.
    * Returns stats of THIS run's increment (0 rows if everything was already
    * committed — the no-reprocessing guarantee).
    */
  def run(
      spark: SparkSession,
      pages: Dataset[PageRow],
      tableRoot: String,
      rules: Seq[FieldRule] = ExtractKernel.DefaultRules,
      numPartitions: Int = 0,
      commitId: String = s"c${System.currentTimeMillis()}",
      alreadyPartitioned: Boolean = false
  ): JobStats = {
    import spark.implicits._
    val parts = if (numPartitions > 0) numPartitions else spark.sparkContext.defaultParallelism
    val pend = pending(spark, pages, tableRoot)
    // skip the payload shuffle when the source was pre-partitioned on the
    // same key upstream of the binary column (PagesGen.pages(_, _, parts))
    // and the resume filter preserved it (broadcast anti-join / bloom pass)
    val todo = if (alreadyPartitioned) pend else partitionForExtraction(pend, parts)
    val version = commit(todo, tableRoot, rules, commitId)

    // job stats roll up from the committed METRICS increment (a handful of
    // rows) — the wide results increment is never re-read
    val agg = metricsTable(tableRoot).readCommit(spark, commitId)
      .agg(sum($"rows_in"), sum($"rows_ok"), sum($"rows_error"))
      .collect()(0)
    def l(i: Int): Long = Option(agg.get(i)).map(_.asInstanceOf[Long]).getOrElse(0L)
    JobStats(version, l(0), l(1), l(2))
  }
}
