package graft

import java.nio.file.Files

import graft.job.ExtractJob
import graft.pages.PagesGen
import graft.streaming.StreamingExtract
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingExtractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("streaming ingest: drains available files, commits per epoch, exactly-once across restarts") {
    import spark.implicits._
    val inputDir = Files.createTempDirectory("graft-stream-in").toString
    val tableRoot = Files.createTempDirectory("graft-stream-tbl").toString
    val all = PagesGen.pages(spark, sfDir).limit(150).collect()

    // batch 1: first 100 pages arrive
    spark.createDataset(all.take(100).toSeq).coalesce(1)
      .write.mode("append").parquet(inputDir)
    val q1 = StreamingExtract.start(spark, inputDir, tableRoot)
    q1.awaitTermination()
    val after1 = ExtractJob.resultsTable(tableRoot).read(spark).get
    assert(after1.count() == 100)

    // batch 2: 50 more pages arrive; restart from the same checkpoint —
    // only the new files are processed
    spark.createDataset(all.drop(100).toSeq).coalesce(1)
      .write.mode("append").parquet(inputDir)
    val q2 = StreamingExtract.start(spark, inputDir, tableRoot)
    q2.awaitTermination()
    val after2 = ExtractJob.resultsTable(tableRoot).read(spark).get
    assert(after2.count() == 150)
    assert(after2.groupBy($"url").count().filter($"count" > 1).count() == 0)

    // restart with nothing new → no change, no duplicate commits
    val q3 = StreamingExtract.start(spark, inputDir, tableRoot)
    q3.awaitTermination()
    assert(ExtractJob.resultsTable(tableRoot).read(spark).get.count() == 150)

    // streaming output matches the batch kernel per url (same invariant)
    val batchRun = {
      val res = ExtractJob.extractAll(
        spark.createDataset(all.toSeq), graft.job.ExtractKernel.DefaultRules, "batch")
      res.select($"url", $"extracted_text").as[(String, String)].collect().toMap
    }
    val streamed = after2.select($"url", $"extracted_text").as[(String, String)].collect().toMap
    assert(streamed == batchRun)

    // per-epoch lineage parity: every committed epoch also committed its
    // partition metrics, with real payload bytes and kernel time
    val metrics = ExtractJob.metricsTable(tableRoot).read(spark).get
    val mAgg = metrics.agg(sum($"rows_in"), sum($"bytes_in"), sum($"kernel_us")).collect()(0)
    assert(mAgg.getLong(0) == 150)
    assert(mAgg.getLong(1) > 0 && mAgg.getLong(2) > 0)
    assert(metrics.select($"commit_id").distinct().count() == 2) // one per non-empty epoch
  }

  test("re-crawled url in a later batch is not extracted twice (cross-batch anti-join)") {
    import spark.implicits._
    val inputDir = Files.createTempDirectory("graft-stream-dup-in").toString
    val tableRoot = Files.createTempDirectory("graft-stream-dup-tbl").toString
    val all = PagesGen.pages(spark, sfDir).limit(40).collect()

    spark.createDataset(all.take(30).toSeq).coalesce(1).write.mode("append").parquet(inputDir)
    StreamingExtract.start(spark, inputDir, tableRoot).awaitTermination()

    // second batch: 10 new pages + 10 RE-CRAWLED urls from batch 1
    spark.createDataset((all.drop(30) ++ all.take(10)).toSeq).coalesce(1)
      .write.mode("append").parquet(inputDir)
    StreamingExtract.start(spark, inputDir, tableRoot).awaitTermination()

    val res = ExtractJob.resultsTable(tableRoot).read(spark).get
    assert(res.count() == 40)
    assert(res.groupBy($"url").count().filter($"count" > 1).count() == 0)
  }

  test("checkpoint reset with NEW data is processed, not skipped (query-id-keyed commit ids)") {
    import spark.implicits._
    val inputDirA = Files.createTempDirectory("graft-stream-ckA").toString
    val inputDirB = Files.createTempDirectory("graft-stream-ckB").toString
    val tableRoot = Files.createTempDirectory("graft-stream-ck-tbl").toString
    val all = PagesGen.pages(spark, sfDir).limit(60).collect()

    // stream 1 over dir A: its first batch is id 0
    spark.createDataset(all.take(30).toSeq).coalesce(1).write.mode("append").parquet(inputDirA)
    StreamingExtract.start(spark, inputDirA, tableRoot,
      checkpointDir = s"$tableRoot/_ck_a").awaitTermination()
    // stream 2: FRESH checkpoint (different input dir), so its first batch
    // is ALSO id 0 — different content must still be processed
    spark.createDataset(all.drop(30).toSeq).coalesce(1).write.mode("append").parquet(inputDirB)
    StreamingExtract.start(spark, inputDirB, tableRoot,
      checkpointDir = s"$tableRoot/_ck_b").awaitTermination()

    val res = ExtractJob.resultsTable(tableRoot).read(spark).get
    assert(res.count() == 60)
    assert(res.groupBy($"url").count().filter($"count" > 1).count() == 0)
  }

  test("an epoch reads its batch once: the stream's input rows sum to the files' rows") {
    import spark.implicits._
    val inputDir = Files.createTempDirectory("graft-stream-once-in").toString
    val tableRoot = Files.createTempDirectory("graft-stream-once-tbl").toString
    val all = PagesGen.pages(spark, sfDir).limit(60).collect()
    all.grouped(30).foreach(g =>
      spark.createDataset(g.toSeq).coalesce(1).write.mode("append").parquet(inputDir))
    val q = StreamingExtract.start(spark, inputDir, tableRoot, maxFilesPerTrigger = 1)
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.length == 2, "one progress per non-empty epoch")
    assert(progress.map(_.numInputRows).sum == 60L, progress.map(_.numInputRows).mkString(","))
  }

  test("the same files replayed under a fresh checkpoint: a zero-row commit, no kernel call") {
    import spark.implicits._
    val inputDir = Files.createTempDirectory("graft-stream-replay-in").toString
    val tableRoot = Files.createTempDirectory("graft-stream-replay-tbl").toString
    spark.createDataset(PagesGen.pages(spark, sfDir).limit(30).collect().toSeq).coalesce(1)
      .write.mode("append").parquet(inputDir)
    StreamingExtract.start(spark, inputDir, tableRoot, checkpointDir = s"$tableRoot/_ck_a").awaitTermination()
    val inv0 = graft.job.ExtractKernel.invocations.sum()
    StreamingExtract.start(spark, inputDir, tableRoot, checkpointDir = s"$tableRoot/_ck_b").awaitTermination()
    assert(graft.job.ExtractKernel.invocations.sum() == inv0, "no page re-extracted")
    val rt = ExtractJob.resultsTable(tableRoot)
    val res = rt.read(spark).get
    assert(res.count() == 30)
    assert(res.groupBy($"url").count().filter($"count" > 1).count() == 0)
    // each stream names its epoch 0 with its own query id
    val ids = rt.latest().get.commitIds
    assert(ids.size == 2 && ids.distinct.size == 2 && ids.forall(_.startsWith("epoch-0-")), ids)
    assert(rt.latest().get.entries.exists(e => e.dir.endsWith(s"/results/data/${ids(1)}") && e.rows == 0L))
    assert(ExtractJobSpec.metricsRows(spark, tableRoot, ids(1)).isEmpty)
  }

  test("100 streaming epochs: compaction bounds the reader dir list; rows intact") {
    import spark.implicits._
    val inputDir = Files.createTempDirectory("graft-stream-many-in").toString
    val tableRoot = Files.createTempDirectory("graft-stream-many-tbl").toString
    val all = PagesGen.pages(spark, sfDir).limit(100).collect()
    // exactly one page per FILE (repartition(100) leaves empty partitions —
    // round-robin from 32 input partitions overlaps — and empty partitions
    // write no file); maxFilesPerTrigger=1 → one micro-batch (epoch) each
    all.grouped(1).foreach { p =>
      spark.createDataset(p.toSeq).coalesce(1).write.mode("append").parquet(inputDir)
    }
    StreamingExtract.start(spark, inputDir, tableRoot, maxFilesPerTrigger = 1)
      .awaitTermination()
    val rt = ExtractJob.resultsTable(tableRoot)
    val snap = rt.latest().get
    assert(snap.commitIds.size >= 90, s"expected ~100 epochs, got ${snap.commitIds.size}")
    // without compaction this would be one dir per epoch; leveled merging
    // keeps it ≤ fanIn per level × ~log_fanIn(epochs) levels
    assert(snap.dataDirs.size <= 3 * rt.compactFanIn,
      s"reader dir list must stay bounded, got ${snap.dataDirs.size} dirs " +
        s"after ${snap.commitIds.size} epochs")
    val res = rt.read(spark).get
    assert(res.count() == 100)
    assert(res.groupBy($"url").count().filter($"count" > 1).count() == 0)
    // replay safety survives compaction: every epoch's commit id is still
    // recognized even though its dir was merged away
    assert(snap.commitIds.forall(rt.hasCommit))
    // TIME TRAVEL: historical versions stay readable after later appends
    // AND compactions (merged source dirs never leave the disk) — a
    // training run that pinned its corpus version can re-read it exactly
    val vs = rt.versions()
    assert(vs == (1 to vs.max).toVector, s"contiguous version history: $vs")
    val mid = vs(vs.size / 2)
    val midSnap = rt.snapshotAt(mid).get
    val midRows = rt.readAt(spark, mid).get
    assert(midRows.count() == midSnap.rowCount, "readAt matches the manifest's rowCount")
    assert(midRows.count() == mid.toLong, s"one page per epoch -> version $mid holds $mid rows")
    assert(rt.readAt(spark, vs.max).get.count() == 100)
    assert(rt.snapshotAt(vs.max + 1).isEmpty, "unpublished version reads as absent")
  }

  test("streaming lineage parity: each epoch commits the metrics commitMetrics derives") {
    import spark.implicits._
    val inputDir = Files.createTempDirectory("graft-stream-lin-in").toString
    val tableRoot = Files.createTempDirectory("graft-stream-lin-tbl").toString
    val all = PagesGen.pages(spark, sfDir).limit(60).collect()
    all.grouped(30).foreach(g =>
      spark.createDataset(g.toSeq).coalesce(1).write.mode("append").parquet(inputDir))
    StreamingExtract.start(spark, inputDir, tableRoot, maxFilesPerTrigger = 1).awaitTermination()
    val epochs = ExtractJob.resultsTable(tableRoot).latest().get.commitIds
    assert(epochs.size == 2)
    for (cid <- epochs) {
      val written = ExtractJobSpec.metricsRows(spark, tableRoot, cid)
      assert(written.nonEmpty && written == ExtractJobSpec.derivedMetrics(spark, tableRoot, cid), cid)
      assert(written.map(_(2).asInstanceOf[Long]).sum == 30L, cid)
    }
  }

  test("an epoch killed between its results and metrics publishes gets its metrics on replay") {
    import spark.implicits._
    val inputDir = Files.createTempDirectory("graft-stream-hole-in").toString
    val tableRoot = Files.createTempDirectory("graft-stream-hole-tbl").toString
    spark.createDataset(PagesGen.pages(spark, sfDir).limit(30).collect().toSeq).coalesce(1)
      .write.mode("append").parquet(inputDir)
    // a file where the metrics table lives: the epoch's metrics publish
    // fails after its results publish succeeded
    val blocker = Files.createFile(java.nio.file.Paths.get(tableRoot, "metrics"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      StreamingExtract.start(spark, inputDir, tableRoot).awaitTermination())
    val rt = ExtractJob.resultsTable(tableRoot)
    val Vector(cid) = rt.latest().get.commitIds
    Files.delete(blocker)
    // the restart replays the same epoch: its results commit is skipped as
    // done, and its metrics are derived before that
    StreamingExtract.start(spark, inputDir, tableRoot).awaitTermination()
    assert(rt.latest().get.commitIds == Vector(cid))
    assert(ExtractJob.metricsTable(tableRoot).hasCommit(cid), "replayed epoch's metrics backfilled")
    val written = ExtractJobSpec.metricsRows(spark, tableRoot, cid)
    assert(written.map(_(2).asInstanceOf[Long]).sum == 30L)
    assert(written == ExtractJobSpec.derivedMetrics(spark, tableRoot, cid))
  }

  test("content dedup within watermark: identical payload under a new url is dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = PagesGen.pages(spark, sfDir).limit(3).collect()
    val Array(a, b, c) = base
    val mem = MemoryStream[graft.model.PageRow]
    val q = StreamingExtract.dedupByContent(mem.toDS(), watermark = "1 hour")
      .writeStream.format("memory").queryName("dedup_sink").outputMode("append").start()
    try {
      mem.addData(a, b)
      q.processAllAvailable()
      // a's exact bytes re-arrive under a different url, same event-time
      // horizon, plus a genuinely new page
      mem.addData(a.copy(url = a.url + "#mirror"), c)
      q.processAllAvailable()
      val urls = spark.table("dedup_sink").select($"url").as[String].collect().toSet
      assert(urls == Set(a.url, b.url, c.url), s"got $urls")
    } finally q.stop()
  }

  test("stateful duplicate counter: counts accumulate across batches, first url sticks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val Array(a, b) = PagesGen.pages(spark, sfDir).limit(2).collect()
    val mem = MemoryStream[graft.model.PageRow]
    val q = StreamingExtract.duplicateCounts(mem.toDS(), watermark = "1 hour")
      .writeStream.format("memory").queryName("dup_sink").outputMode("update").start()
    try {
      mem.addData(a, a.copy(url = a.url + "#m1"), b)
      q.processAllAvailable()
      mem.addData(a.copy(url = a.url + "#m2"))
      q.processAllAvailable()
      val rows = spark.table("dup_sink")
        .select($"content_fp", $"first_url", $"n_seen").as[(String, String, Long)].collect()
      val byFp = rows.groupBy(_._1)
      assert(byFp.size == 2, s"two distinct payloads, got $byFp")
      val aRows = byFp.values.find(_.exists(_._3 > 1)).get
      assert(aRows.map(_._3).sorted.toSeq == Seq(2L, 3L),
        "update-mode emissions per batch: 2 after batch 1, 3 after batch 2")
      assert(aRows.forall(_._2 == a.url), "first-crawled url must stick across batches")
      val bRows = byFp.values.find(_.forall(_._3 == 1)).get
      assert(bRows.map(_._2).toSet == Set(b.url))
    } finally q.stop()
  }

  test("duplicate counter in batch mode matches the relational fold (oracle twin)") {
    import spark.implicits._
    val pages = PagesGen.pages(spark, sfDir).limit(50)
    val dup = StreamingExtract.duplicateCounts(pages).toDF()
    val expect = pages.toDF()
      .groupBy(md5($"html").as("content_fp"))
      .agg(min(struct($"warc_ts", $"url")).as("f"), count(lit(1)).as("n_seen"))
      .select($"content_fp", $"f.url".as("first_url"), $"n_seen")
    assert(dup.count() > 0)
    assert(dup.exceptAll(expect).isEmpty && expect.exceptAll(dup).isEmpty,
      "batch-mode flatMapGroupsWithState must equal the group-by fold")
  }

  test("ingest with content dedup: mirror url is never extracted") {
    import spark.implicits._
    val inputDir = Files.createTempDirectory("graft-dedup-in").toString
    val tableRoot = Files.createTempDirectory("graft-dedup-tbl").toString
    val all = PagesGen.pages(spark, sfDir).limit(20).collect()
    val mirrored = all :+ all.head.copy(url = all.head.url + "#mirror")
    spark.createDataset(mirrored.toSeq).coalesce(1).write.mode("append").parquet(inputDir)
    val q = StreamingExtract.start(spark, inputDir, tableRoot,
      contentDedupWatermark = "1 hour")
    q.awaitTermination()
    val res = ExtractJob.resultsTable(tableRoot).read(spark).get
    assert(res.count() == 20)
    assert(res.filter($"url".contains("#mirror")).count() == 0)
  }

  test("streaming session windows match the batch sessionizer away from gap boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gapUs = 1800L * 1000000
    // each 3-event burst (10s apart) belongs to ONE user — (i/3) % 5, so
    // session MERGING is actually exercised (i % 5 would interleave users
    // into singleton sessions and the parity would hold vacuously); bursts
    // sit hours apart, never at the 30 min gap where streaming/batch split
    // semantics legitimately differ
    val rows = (0L until 90L).map { i =>
      ((i / 3) % 5, 1704067200L + (i / 3) * 3600 + (i % 3) * 10, i)
    }
    val mem = MemoryStream[(Long, Long, Long)]
    val events = mem.toDF().toDF("user_id", "epoch_s", "event_id")
      .withColumn("ts", timestamp_seconds(col("epoch_s")))
    val q = StreamingExtract.sessionMetrics(events, "user_id", "ts", gap = "30 minutes")
      .writeStream.format("memory").queryName("sess_sink").outputMode("complete").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("sess_sink")
        .select($"user_id", $"start_us", $"end_us", $"n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed.exists(_._4 == 3), "fixture must produce merged multi-event sessions")
      val batch = graft.events.EventOps.sessionize(
          spark.createDataset(rows).toDF("user_id", "epoch_s", "event_id")
            .withColumn("ts", timestamp_seconds(col("epoch_s"))),
          "user_id", "ts", "event_id", gapUs)
        // streaming session end = last event + gap (half-open window)
        .select($"user_id", $"start_us", ($"end_us" + gapUs).as("end_us"), $"n_events")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch, s"streaming=$streamed\nbatch=$batch")
    } finally q.stop()
  }

  test("windowed metrics: event-time windows by lang, counts and bytes add up") {
    import spark.implicits._
    val pages = PagesGen.pages(spark, sfDir).limit(120)
    val m = StreamingExtract.windowedMetrics(pages, windowLen = "10 minutes").collect()
    assert(m.nonEmpty)
    val total = m.map(_.getAs[Long]("n_pages")).sum
    assert(total == 120)
    // warc_ts = base + doc_id seconds → windows are deterministic
    assert(m.forall(_.getAs[Long]("payload_bytes") >= 0))
  }

  test("stream-stream attribution join matches the batch window join across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val horizon = 600L // 10 min attribution window
    val base = 1704067200L
    // 4 users; views every ~4 min, clicks every ~7 min → some clicks see
    // 2-3 views in the horizon, some none; boundary cases at exactly 0s
    // and exactly horizon included by construction below
    val views = (0L until 60L).map(i => (i % 4, base + i * 240, 1000L + i))
    // boundary fixtures lead the sequence: they must arrive in the FIRST
    // micro-batch — fed later they would be LATE DATA behind the click
    // watermark and Spark correctly drops them (that discipline is the
    // point of the watermark, not a test artifact to fight)
    val clicks = Seq((0L, base + 960, 3000L), // click at user 0's i=4 view instant
      (1L, base + 240 + horizon, 3001L)) ++ // user 1's i=1 view exactly horizon earlier
      (0L until 35L).map(i => (i % 4, base + i * 420, 2000L + i))
    val vMem = MemoryStream[(Long, Long, Long)]
    val cMem = MemoryStream[(Long, Long, Long)]
    val vDf = vMem.toDF().toDF("user_id", "v_epoch", "view_id")
      .withColumn("v_ts", timestamp_seconds(col("v_epoch"))).drop("v_epoch")
    val cDf = cMem.toDF().toDF("c_user", "c_epoch", "click_id")
      .withColumn("c_ts", timestamp_seconds(col("c_epoch"))).drop("c_epoch")
      .withColumnRenamed("c_user", "user_id")
    val joined = graft.streaming.StreamJoins.windowedPairs(
      cDf, vDf, "user_id", "c_ts", "v_ts", horizon)
    val q = joined.select($"click_id", $"view_id")
      .writeStream.format("memory").queryName("attr_sink").outputMode("append").start()
    try {
      // feed in two chunks so the join genuinely crosses micro-batches
      vMem.addData(views.take(30): _*); cMem.addData(clicks.take(20): _*)
      q.processAllAvailable()
      vMem.addData(views.drop(30): _*); cMem.addData(clicks.drop(20): _*)
      q.processAllAvailable()
      val streamed = spark.table("attr_sink").as[(Long, Long)].collect().toSet
      val want = (for {
        (cu, cts, cid) <- clicks; (vu, vts, vid) <- views
        if cu == vu && vts <= cts && vts >= cts - horizon
      } yield (cid, vid)).toSet
      assert(streamed == want,
        s"missing=${want.diff(streamed).take(5)} extra=${streamed.diff(want).take(5)}")
      assert(want.exists(_._1 == 3000L) && want.exists(_._1 == 3001L),
        "boundary fixtures (view at click instant / exactly horizon earlier) must attribute")
    } finally q.stop()
  }

  test("stream-static join: broadcast dimension gates and enriches the stream, stateless across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("bad.com", "blocked"), ("slow.org", "throttled"))
      .toDF("domain", "verdict")
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("id", "domain")
    // left_anti = blocklist; left = enrichment
    val anti = graft.streaming.StreamJoins.joinStatic(stream, dim, "domain", "left_anti")
      .writeStream.format("memory").queryName("ss_anti").outputMode("append").start()
    val enr = graft.streaming.StreamJoins.joinStatic(stream, dim, "domain", "left")
      .writeStream.format("memory").queryName("ss_enr").outputMode("append").start()
    try {
      mem.addData((1L, "ok.net"), (2L, "bad.com"), (3L, "slow.org"))
      anti.processAllAvailable(); enr.processAllAvailable()
      // a second batch proves statelessness is semantic, not batch luck:
      // the same blocked domain is re-dropped, new rows pass
      mem.addData((4L, "bad.com"), (5L, "fresh.io"))
      anti.processAllAvailable(); enr.processAllAvailable()
      val kept = spark.table("ss_anti").select($"id").as[Long].collect().toSet
      assert(kept == Set(1L, 5L), s"blocklist must drop 2,3,4 — kept $kept")
      val verdicts = spark.table("ss_enr")
        .select($"id", $"verdict").collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(verdicts == Map(1L -> None, 2L -> Some("blocked"),
        3L -> Some("throttled"), 4L -> Some("blocked"), 5L -> None))
      // zero streaming state: the static side must not create a state store
      assert(anti.lastProgress == null ||
        Option(anti.lastProgress.stateOperators).forall(_.isEmpty),
        "stream-static join must keep no state")
    } finally { anti.stop(); enr.stop() }
  }
}
