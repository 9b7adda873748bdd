package graft.streaming

import graft.job.{ExtractJob, ExtractKernel}
import graft.model.{FieldRule, PageRow}
import graft.table.LocalFs
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Output row of [[StreamingExtract.duplicateCounts]]: cumulative
  * sightings of one payload fingerprint, attributed to the url that
  * crawled it first.
  */
final case class DupCount(content_fp: String, first_url: String, n_seen: Long)

/** Keyed state behind [[StreamingExtract.duplicateCounts]] — slim by
  * construction (url + two longs; never the payload).
  */
final case class DupState(firstUrl: String, firstTsMs: Long, n: Long)

/** Structured Streaming ingest: the same extraction kernel over a
  * continuously-arriving pages table (`readStream` file source →
  * `foreachBatch` → snapshot commits).
  *
  * Exactly-once without a transactional sink: the file source's checkpoint
  * makes batch ids + contents replayable, and each micro-batch commits to
  * [[graft.table.SnapshotTable]] under `epoch-<batchId>-<queryId>` (the
  * query id is kept in the checkpoint) — a restart that replays the last
  * batch finds its commit id already in the manifest and skips it (same
  * idempotent-recommit discipline the batch job uses, SURVEY §7.4.4).
  * This mirrors the reference's SSE incremental visibility
  * (`/root/reference/src/main.py:630-672`): results become queryable per
  * committed epoch, not at job end.
  */
object StreamingExtract {

  val PageSchema: StructType = Encoders.product[PageRow].schema

  /** The Hadoop key naming the FileContext implementation of `file:`. */
  private val FileContextImplKey = "fs.AbstractFileSystem.file.impl"

  /** Streaming content-level dedup: drop pages whose payload fingerprint
    * was already seen within the event-time watermark — a re-crawl of the
    * same bytes under a DIFFERENT url (mirrors, trackers, soft redirects)
    * never re-enters the pipeline. The per-url exactly-once anti-join
    * downstream cannot catch these; this operator is the streaming twin of
    * the batch `Dedup.dropExactDuplicates`.
    *
    * Scale shape: state is one (32-hex md5, event-time) entry per distinct
    * document inside the watermark horizon — the key, never the payload —
    * and Spark expires entries past the watermark, so state is bounded by
    * the dedup horizon × ingest rate, not by stream length. The dedup
    * itself is a hash exchange on the fingerprint (slim rows precede the
    * exchange only in the keyed state store; payloads ride along once).
    */
  def dedupByContent(pages: Dataset[PageRow], watermark: String = "1 hour"): Dataset[PageRow] = {
    implicit val enc = Encoders.product[PageRow]
    pages.toDF()
      .withColumn("content_fp", md5(col("html")))
      .withWatermark("warc_ts", watermark)
      .dropDuplicatesWithinWatermark("content_fp")
      .drop("content_fp")
      .as[PageRow]
  }

  /** Running per-content duplicate counter — CUSTOM keyed state via
    * `flatMapGroupsWithState` where the built-in state shapes don't fit:
    * `dropDuplicatesWithinWatermark` can only keep-first, and a windowed
    * count forgets WHICH url saw the bytes first. This operator carries
    * both across micro-batches: every batch that re-sees a payload emits
    * an updated `(content_fp, first_url, n_seen)` row, so a monitor can
    * watch mirror/tracker duplication grow live and attribute it to the
    * canonical (first-crawled) url.
    *
    * Scale shape: state per distinct payload inside the horizon is one
    * (32-hex fp → url + two longs) entry — the payload itself never
    * enters the state store — and `EventTimeTimeout` expires entries one
    * horizon past their last sighting, so state is bounded by horizon ×
    * distinct-rate, not stream length. Within a batch, occurrences are
    * folded in `(warc_ts, url)` order so the emitted first-url is
    * deterministic under any partitioning. Also runs in BATCH mode (one
    * group = one invocation, timeouts inert) — `q_dup_counts` gates the
    * fold against a DuckDB group-by oracle that way.
    */
  def duplicateCounts(pages: Dataset[PageRow], watermark: String = "1 hour",
                      horizonMs: Long = 3600L * 1000L): Dataset[DupCount] = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.toDF()
      .withColumn("content_fp", md5(col("html")))
      .withWatermark("warc_ts", watermark)
      .select(col("content_fp"), col("url"), col("warc_ts"))
      .as[(String, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (fp: String, it: Iterator[(String, String, java.sql.Timestamp)], state: GroupState[DupState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = it.toVector.sortBy(t => (t._3.getTime, t._2))
            val (firstUrl, firstTs) = state.getOption
              .map(s => (s.firstUrl, s.firstTsMs))
              .getOrElse((batch.head._2, batch.head._3.getTime))
            val n = state.getOption.map(_.n).getOrElse(0L) + batch.size
            state.update(DupState(firstUrl, firstTs, n))
            // EventTimeTimeout: expire one horizon past the latest sighting
            // (inert in batch mode, where no watermark ever advances).
            state.setTimeoutTimestamp(batch.last._3.getTime + horizonMs)
            Iterator.single(DupCount(fp, firstUrl, n))
          }
      }
  }

  /** Start continuous extraction from parquet files arriving in `inputDir`.
    * `Trigger.AvailableNow` drains what exists and stops (test/batch-catchup
    * mode); pass `ProcessingTime` for a long-running tail.
    *
    * Local I/O: the table's writes route themselves through
    * [[graft.table.LocalFs]] (see [[graft.table.SnapshotTable]]). The
    * checkpoint's metadata logs (`sources/0`, `offsets`, `commits`) write
    * through a FileContext built from the session's Hadoop conf, with no
    * per-query hook, so this sets ONE session key when it is unset:
    * `fs.AbstractFileSystem.file.impl` → [[graft.table.LocalFs.Context]].
    * Without it each log write forks 2 `chmod` and 8 `readlink` processes
    * (no Hadoop native library), about 30 per epoch. The same files, modes
    * and `.crc` sidecars are written; other FileContext users of the session
    * get the same in-process calls.
    */
  def start(
      spark: SparkSession,
      inputDir: String,
      tableRoot: String,
      rules: Seq[FieldRule] = ExtractKernel.DefaultRules,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpointDir: String = null, // default: co-located with the table
      maxFilesPerTrigger: Int = 0, // > 0: bound files per micro-batch (epoch granularity)
      contentDedupWatermark: String = null // non-null: dedup identical payloads within this horizon
  ): StreamingQuery = {
    val checkpoint = Option(checkpointDir).getOrElse(s"$tableRoot/_stream_checkpoint")
    if (spark.conf.getOption(FileContextImplKey).isEmpty)
      spark.conf.set(FileContextImplKey, classOf[LocalFs.Context].getName)
    import spark.implicits._
    val reader = spark.readStream.schema(PageSchema)
    val raw =
      (if (maxFilesPerTrigger > 0) reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
       else reader)
        .parquet(inputDir)
        .as[PageRow]
    val pages =
      if (contentDedupWatermark != null) dedupByContent(raw, contentDedupWatermark) else raw

    pages.writeStream
      .foreachBatch { (batch: Dataset[PageRow], batchId: Long) =>
        val session = batch.sparkSession
        // commit id = epoch + query id. Spark keeps the query id in the
        // checkpoint's metadata file, so a restart from the same checkpoint
        // replays the same ids and is skipped; a DIFFERENT batch that
        // reuses a batchId (checkpoint reset, second stream on the same
        // tableRoot) runs under a fresh query id and is processed — never
        // silently dropped. Naming the epoch reads none of its rows.
        val queryId = Option(session.sparkContext.getLocalProperty("sql.streaming.queryId")).getOrElse(
          throw new IllegalStateException(s"epoch $batchId of $inputDir: no streaming query id on the foreachBatch thread"))
        val commitId = s"epoch-$batchId-$queryId"
        // commit-id HISTORY, not the dir list: compaction merges epoch dirs
        // out of the manifest, but a replayed epoch must still be skipped.
        // Per-url exactly-once ACROSS batches too: a re-crawled url that
        // arrives in a later micro-batch anti-joins against the committed
        // snapshot exactly like the batch job's resume path, and the epoch
        // commits results + metrics through the batch job's own step. The
        // backfill comes first: a replay of an epoch killed between its two
        // publishes is skipped here, so its metrics are derived now
        ExtractJob.backfillMetrics(session, tableRoot)
        if (!ExtractJob.resultsTable(tableRoot).hasCommit(commitId))
          ExtractJob.commit(ExtractJob.pending(session, batch, tableRoot), tableRoot, rules, commitId)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Watermarked windowed ingest metrics (pages and bytes per event-time
    * window per lang) — the streaming analog of the batch job's
    * per-partition metrics. Late pages beyond the watermark are dropped
    * from the aggregation, never from extraction (extraction is per-row and
    * stateless).
    */
  def windowedMetrics(pages: Dataset[PageRow], windowLen: String = "10 minutes", watermark: String = "1 hour"): DataFrame =
    pages.toDF()
      .withWatermark("warc_ts", watermark)
      .groupBy(window(col("warc_ts"), windowLen), col("lang"))
      .agg(count(lit(1)).as("n_pages"), sum(length(col("html"))).as("payload_bytes"))

  /** Event-time SESSION windows over a keyed event stream — the streaming
    * twin of [[graft.events.EventOps.sessionize]], built on Spark's native
    * merging `session_window` state (watermark-expired, so state is
    * bounded by the live-session horizon, not stream length).
    *
    * Semantics vs the batch fold: `session_window` is half-open — an event
    * landing EXACTLY `gap` after the previous one opens a NEW session
    * (batch keeps it: `> gap` splits), and the reported `end_us` is
    * `last_event + gap` rather than the last event time. Parity away from
    * those boundaries is asserted in StreamingExtractSpec.
    */
  def sessionMetrics(events: DataFrame, userCol: String, tsCol: String,
                     gap: String = "30 minutes", watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
}
