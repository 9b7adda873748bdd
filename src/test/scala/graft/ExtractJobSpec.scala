package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.functions.GraftFunctions
import graft.job.{ExtractJob, ExtractKernel}
import graft.model.{ExtractResult, PageRow}
import graft.pages.PagesGen
import graft.streaming.StreamingExtract
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

object ExtractJobSpec {
  /** The metrics rows committed for `commitId` under `root`, by partition id. */
  def metricsRows(spark: SparkSession, root: String, commitId: String): Vector[Seq[Any]] =
    ExtractJob.metricsTable(root).readCommit(spark, commitId).collect()
      .map(_.toSeq).toVector.sortBy(_(1).asInstanceOf[Int])

  /** What [[ExtractJob.commitMetrics]] derives for `commitId` from the
    * committed results of `root` — run on a copy of the results table, so
    * `root` keeps only what the job itself wrote.
    */
  def derivedMetrics(spark: SparkSession, root: String, commitId: String): Vector[Seq[Any]] = {
    val copy = Files.createTempDirectory("graft-lineage-oracle").toString
    val src = Paths.get(root, "results")
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val to = Paths.get(copy, "results").resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally walk.close()
    ExtractJob.commitMetrics(spark, copy, commitId)
    metricsRows(spark, copy, commitId)
  }
}

class ExtractJobSpec extends AnyFunSuite {
  import ExtractJobSpec._
  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, other than the marker jobs that
    * drain the listener bus before and after it.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = "graft-job-count-marker"
    val started = new AtomicInteger
    @volatile var seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker)) seen.countDown()
        else started.incrementAndGet()
    }
    def drain(): Unit = {
      seen = new CountDownLatch(1)
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(30, TimeUnit.SECONDS), "listener bus did not drain")
    }
    sc.addSparkListener(listener)
    try {
      drain()
      started.set(0)
      body
      drain()
      started.get()
    } finally sc.removeSparkListener(listener)
  }

  /** A commit of `pages`' pending rows laid out in `n` partitions, for
    * specs that pin the partition count (`run` picks its own layout).
    */
  private def commitIn(n: Int, pages: Dataset[PageRow], root: String, commitId: String): ExtractJob.JobStats =
    ExtractJob.commit(ExtractJob.partitionForExtraction(ExtractJob.pending(spark, pages, root), n), root,
      ExtractKernel.DefaultRules, commitId)

  test("end-to-end: pages → extraction → committed results, errors isolated") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-e2e").toString
    val pages = PagesGen.pages(spark, sfDir)
    val nPages = pages.count()
    assert(nPages > 0)
    val totalPayloadBytes = pages.map(p => if (p.html == null) 0L else p.html.length.toLong)
      .reduce(_ + _)

    val invocationsBefore = ExtractKernel.invocations.sum()
    val stats = ExtractJob.run(spark, pages, root, commitId = "c1")
    // the metrics pass must NOT re-run the kernel: exactly one execution
    // per row across the whole run (extract + commit + metrics)
    assert(ExtractKernel.invocations.sum() - invocationsBefore == nPages)
    assert(stats.rowsIn == nPages)
    assert(stats.rowsOk > 0 && stats.rowsError > 0) // corpus includes corrupt/empty payloads
    assert(stats.rowsOk + stats.rowsError == stats.rowsIn)

    val results = ExtractJob.resultsTable(root).read(spark).get
    assert(results.count() == nPages)
    // each url appears exactly once
    assert(results.groupBy($"url").count().filter($"count" > 1).count() == 0)
    // ok rows have extracted text; both branches exercised
    val byType = results.filter($"status" === "ok").groupBy($"doctype").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType.getOrElse("pdf", 0L) > 0)
    assert(byType.getOrElse("html", 0L) > 0)
    assert(results.filter($"status" === "ok" && (length($"extracted_text") === 0 || $"extracted_text".isNull)).count() == 0)
    // spans resolved on the synthetic corpus (autor/data/registro markers present)
    assert(results.filter($"status" === "ok" && size($"spans") > 0).count() > 0)
    // metrics committed alongside, carrying REAL lineage from the kernel
    // pass (not reconstructed): payload bytes match the input exactly,
    // kernel time is non-zero, partition ids are the extraction tasks'
    val metrics = ExtractJob.metricsTable(root).read(spark).get
    val mrow = metrics.agg(sum($"rows_in"), sum($"bytes_in"), sum($"kernel_us")).collect()(0)
    assert(mrow.getLong(0) == nPages)
    assert(mrow.getLong(1) == totalPayloadBytes)
    assert(mrow.getLong(2) > 0)
    val pids = metrics.select($"partition_id").as[Int].collect().toSet
    assert(pids.size > 1 && pids.forall(p => p >= 0 && p < 4))
  }

  test("resume: second run over same input commits 0 new rows (no reprocessing)") {
    val root = Files.createTempDirectory("graft-resume").toString
    val pages = PagesGen.pages(spark, sfDir).limit(100)
    val first = ExtractJob.run(spark, pages, root, commitId = "c1")
    assert(first.rowsIn == 100)
    val second = ExtractJob.run(spark, pages, root, commitId = "c2")
    assert(second.rowsIn == 0)
    assert(ExtractJob.resultsTable(root).read(spark).get.count() == 100)
  }

  test("crash before manifest publish leaves data invisible; rerun completes exactly-once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-crash").toString
    val pages = PagesGen.pages(spark, sfDir).limit(60)
    val firstHalf = pages.filter(p => p.url.hashCode % 2 == 0)
    // committed half
    ExtractJob.run(spark, firstHalf, root, commitId = "good")
    val committedN = ExtractJob.resultsTable(root).read(spark).get.count()
    // simulate crash: data written for the rest, manifest never published
    val rest = ExtractJob.pending(spark, pages, root)
    val res = ExtractJob.extractAll(rest, ExtractKernel.DefaultRules, "crashed")
    ExtractJob.resultsTable(root).writeUncommitted(res.toDF(), "crashed")
    assert(ExtractJob.resultsTable(root).read(spark).get.count() == committedN) // invisible
    // rerun: processes exactly the uncommitted remainder
    val stats = ExtractJob.run(spark, pages, root, commitId = "retry")
    assert(stats.rowsIn == 60 - committedN)
    val fin = ExtractJob.resultsTable(root).read(spark).get
    assert(fin.count() == 60)
    assert(fin.groupBy($"url").count().filter($"count" > 1).count() == 0)
  }

  test("resume above the broadcast threshold: a sort-merge anti-join, the exact pending set, each url committed once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-smj").toString
    val pages = PagesGen.pages(spark, sfDir).limit(120)
    val all = pages.select($"url").as[String].collect().toSet
    ExtractJob.run(spark, pages.filter(p => p.url.hashCode % 2 == 0), root, commitId = "c1")
    val committed = ExtractJob.resultsTable(root).read(spark).get.select($"url").as[String].collect().toSet
    assert(all.size == 120 && committed.nonEmpty && committed.size < 120)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val pend = ExtractJob.pending(spark, pages, root).select($"url")
      val urls = pend.as[String].collect().toVector
      val plan = pend.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
      assert(plan.contains("SortMergeJoin") && plan.contains("LeftAnti") && !plan.contains("BroadcastHashJoin"),
        s"expected a sort-merge anti-join, got:\n$plan")
      assert(urls.size == urls.toSet.size && urls.toSet == all -- committed)
      val stats = ExtractJob.run(spark, pages, root, commitId = "c2")
      assert(stats.rowsIn == urls.size)
      val fin = ExtractJob.resultsTable(root).read(spark).get.select($"url").as[String].collect().toVector
      assert(fin.size == 120 && fin.toSet == all, "every url committed exactly once")
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("two pending plans built on one committed root run in reverse order and agree") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-interleaved").toString
    val pages = PagesGen.pages(spark, sfDir).limit(120)
    ExtractJob.run(spark, pages.filter(p => p.url.hashCode % 2 == 0), root, commitId = "c1")
    val first = ExtractJob.pending(spark, pages, root)
    val second = ExtractJob.pending(spark, pages, root)
    val fromSecond = second.select($"url").as[String].collect().sorted.toVector
    val fromFirst = first.select($"url").as[String].collect().sorted.toVector
    assert(fromFirst == fromSecond)
    assert(fromFirst.nonEmpty && fromFirst.size < 120)
  }

  test("the layout for a one-partition source spreads payloads of 1 MiB and more over its partitions") {
    import spark.implicits._
    val giant = 1 << 20
    // 40 giants among 400 small pages, all in one partition
    val src = spark.range(0, 440, 1, 1).as[Long].map { i =>
      val html = if (i % 11 == 0) Array.fill[Byte](giant)('x') else "<p>small</p>".getBytes("UTF-8")
      PageRow(f"https://giants.example/$i%04d", new java.sql.Timestamp(0L), html, "", "en")
    }
    assert(ExtractJob.plannedPartitions(src) == 1)
    val giants = ExtractJob.partitionForExtraction(src, 4)
      .mapPartitions(it => Iterator.single(it.count(_.html.length >= giant)))
      .collect().toVector
    assert(giants.size == 4 && giants.sum == 40)
    assert(giants.max <= 20, s"giants per partition: $giants")
  }

  test("the results table writes its plain columns with no dictionary, in the bytes a default Spark write produces") {
    val root = Files.createTempDirectory("graft-plain").toString
    ExtractJob.run(spark, PagesGen.pages(spark, "perfbench/data", replicate = 2), root, commitId = "c1")
    // the committed rows in two files, each holding over 1 MiB of text
    val rows = ExtractJob.resultsTable(root).read(spark).get.coalesce(2)
    ExtractJob.resultsTable(s"$root/copy").append(rows, "c1")
    rows.write.parquet(s"$root/default")
    def files(dir: String): Map[String, java.nio.file.Path] = {
      val st = Files.list(Paths.get(dir))
      try st.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString.take("part-00000".length) -> p).toMap
      finally st.close()
    }
    val (viaTable, viaDefault) = (files(s"$root/copy/results/data/c1"), files(s"$root/default"))
    assert(viaTable.size == 2 && viaTable.keySet == viaDefault.keySet)
    val conf = spark.sparkContext.hadoopConfiguration
    viaTable.foreach { case (part, p) =>
      val textBytes = spark.read.parquet(p.toString).agg(sum(octet_length(col("extracted_text")))).head().getLong(0)
      assert(textBytes >= (1L << 20), s"$part holds $textBytes bytes of text")
      assert(java.util.Arrays.equals(Files.readAllBytes(p), Files.readAllBytes(viaDefault(part))),
        s"$part differs from the default write")
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toString), conf))
      val chunks = try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).toVector finally reader.close()
      def dictionary(c: String): Boolean = chunks.filter(_.getPath.toDotString == c).exists { m =>
        m.hasDictionaryPage || m.getEncodings.asScala.exists(_.usesDictionary)
      }
      ExtractJob.PlainResultCols.foreach(c => assert(!dictionary(c), s"$part: $c carries a dictionary"))
      assert(dictionary("status"), s"$part: a low-cardinality column keeps its dictionary")
    }
  }

  test("determinism: extracted_text per url is byte-identical across parallelism levels") {
    import spark.implicits._
    val pages = PagesGen.pages(spark, sfDir).limit(200)
    def runAt(parts: Int) = {
      val res = ExtractJob.extractAll(
        ExtractJob.partitionForExtraction(pages, parts), ExtractKernel.DefaultRules, "d")
      res.select($"url", $"extracted_text", $"pdf_hash", $"status").as[(String, String, String, String)]
        .collect().sortBy(_._1).toVector
    }
    assert(runAt(1) == runAt(7))
  }

  test("default run extracts in the source's scan splits and commits what the range layout commits") {
    import spark.implicits._
    val all = PagesGen.pages(spark, sfDir).limit(100).collect().toVector.sortBy(_.url)
    // four small files: Spark gives each its own scan split, one per task slot
    val files = Vector(all.take(10), all.slice(10, 40), all.slice(40, 65), all.drop(65))
    val src = Files.createTempDirectory("graft-splits").toString
    files.foreach(f => spark.createDataset(f).coalesce(1).write.mode("append").parquet(src))
    val pages = spark.read.parquet(src).as[PageRow]
    assert(pages.rdd.getNumPartitions == 4 && ExtractJob.plannedPartitions(pages) == 4)
    val root = Files.createTempDirectory("graft-default").toString
    val ranged = Files.createTempDirectory("graft-ranged").toString
    val inv0 = ExtractKernel.invocations.sum()
    val stats = ExtractJob.run(spark, pages, root, commitId = "c1")
    assert(ExtractKernel.invocations.sum() - inv0 == 100, "one kernel pass")
    ExtractJob.run(spark, pages.coalesce(1), ranged, commitId = "c1")
    def committed(r: String) = ExtractJob.resultsTable(r).read(spark).get.as[ExtractResult].collect()
      .map(_.copy(partition_id = -1, kernel_ns = 0L)).sortBy(_.url).toVector
    assert(committed(root) == committed(ranged))
    // lineage follows the splits: one metrics row per file, with its rows
    // and url range
    val written = metricsRows(spark, root, "c1")
    assert(written == derivedMetrics(spark, root, "c1"))
    assert(written.map(r => (r(2), r(7), r(8))).toSet ==
      files.map(f => (f.size.toLong, f.head.url, f.last.url)).toSet, s"per-split lineage: $written")
    def total(i: Int): Long = written.map(_(i).asInstanceOf[Long]).sum
    assert(stats == ExtractJob.JobStats(stats.version, total(2), total(3), total(4)))
  }

  test("default run spreads a source planned into fewer partitions than task slots over the slots") {
    import spark.implicits._
    val slots = spark.sparkContext.defaultParallelism
    val src = Files.createTempDirectory("graft-one-split").toString
    PagesGen.pages(spark, sfDir).limit(100).coalesce(1).write.mode("overwrite").parquet(src)
    val pages = spark.read.parquet(src).as[PageRow]
    assert(pages.rdd.getNumPartitions == 1)
    // the count comes off the plan: no job runs, not even a limit's or a
    // repartition's exchange
    val sources = Seq(pages, PagesGen.pages(spark, sfDir).limit(100), PagesGen.pages(spark, sfDir, 6))
    var planned = Seq.empty[Int]
    val planJobs = jobsDuring { planned = sources.map(ExtractJob.plannedPartitions) }
    assert((planned, planJobs) == ((Seq(1, 1, 6), 0)))
    val root = Files.createTempDirectory("graft-one-split-root").toString
    val inv0 = ExtractKernel.invocations.sum()
    val stats = ExtractJob.run(spark, pages, root, commitId = "c1")
    assert(ExtractKernel.invocations.sum() - inv0 == 100 && stats.rowsIn == 100)
    val written = metricsRows(spark, root, "c1")
    assert(written == derivedMetrics(spark, root, "c1"))
    assert(written.map(_(1)) == (0 until slots), s"one partition per task slot: $written")
  }

  test("lineage parity: commit writes, in one file, the metrics commitMetrics derives") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-lineage").toString
    val base = PagesGen.pages(spark, sfDir).limit(60).collect().toVector
    // U+FF21 sorts after U+1D11E in UTF-16 but before it in UTF-8 bytes;
    // both urls sort after every synth.example url
    val hi = "https://zz.example/\uD834\uDD1E"
    val pages = (base.drop(2) ++ Vector(base(0).copy(url = "https://zz.example/\uFF21"),
      base(1).copy(url = hi))).toDS()
    val inv0 = ExtractKernel.invocations.sum()
    val batch = commitIn(1, pages, root, "c1")
    assert(ExtractKernel.invocations.sum() - inv0 == 60, "one kernel pass, nothing re-run")
    // empty payloads only: every partition is all-error
    val empties = (0 until 12).map(i =>
      PageRow(s"https://empty.example/$i", base(0).warc_ts, Array.emptyByteArray, "", "en")).toDS()
    val allError = commitIn(3, empties, root, "c2")
    val rerun = commitIn(3, pages, root, "c3")
    assert(rerun.rowsIn == 0)

    for ((cid, stats) <- Seq("c1" -> batch, "c2" -> allError, "c3" -> rerun)) {
      val written = metricsRows(spark, root, cid)
      assert(written == derivedMetrics(spark, root, cid), s"$cid metrics")
      def total(i: Int): Long = written.map(_(i).asInstanceOf[Long]).sum
      assert(stats == ExtractJob.JobStats(stats.version, total(2), total(3), total(4)), cid)
      val files = Files.list(Paths.get(root, "metrics", "data", cid))
      try assert(files.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) == 1, cid)
      finally files.close()
    }
    val c1 = metricsRows(spark, root, "c1")
    assert(c1.size == 1 && c1.head(2) == 60L && c1.head(8) == hi, s"UTF-8 byte order max: $c1")
    val c2 = metricsRows(spark, root, "c2")
    assert(c2.nonEmpty && c2.forall(r => r(3) == 0L && r(4) == r(2)), s"all-error partitions: $c2")
    // the zero-pending rerun still publishes an empty metrics commit
    val m = ExtractJob.metricsTable(root).latest().get
    assert(m.commitIds == Vector("c1", "c2", "c3"))
    assert(m.entries.exists(e => e.dir.endsWith("/metrics/data/c3") && e.rows == 0L))
    assert(metricsRows(spark, root, "c3").isEmpty)
  }

  test("the driver-written metrics increment reads back unpinned as recorded, and compacts") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-driver-lineage").toString
    val pages = PagesGen.pages(spark, sfDir).limit(90).collect().toSeq
    val cids = (0 until 9).map(i => s"c$i")
    for ((cid, i) <- cids.zipWithIndex)
      commitIn(2, pages.slice(10 * i, 10 * i + 10).toDS(), root, cid)
    val m = ExtractJob.metricsTable(root).latest().get
    assert(m.commitIds == cids)
    assert(m.dataDirs.count(_.contains("/metrics/data/compacted-1-")) == 1 && m.dataDirs.size == 2,
      s"fan-in 8: c0..c7 merged, c8 on its own: ${m.dataDirs}")
    val derived = cids.map { cid =>
      val raw = spark.read.parquet(s"$root/metrics/data/$cid")
      assert(raw.schema == m.schema.get, s"$cid: unpinned footer schema")
      val rows = raw.collect().map(_.toSeq).toVector.sortBy(_(1).asInstanceOf[Int])
      val oracle = derivedMetrics(spark, root, cid)
      assert(rows.nonEmpty && rows == oracle, cid)
      oracle
    }
    val all = ExtractJob.metricsTable(root).read(spark).get.collect().map(_.toSeq).toVector
    assert(all.sortBy(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[Int])) == derived.flatten,
      "every commit's rows survive compaction")
  }

  test("job-count gate: a fresh run and a streaming epoch gather their lineage without read-backs") {
    import spark.implicits._
    val pages = PagesGen.pages(spark, sfDir).limit(100).collect().toSeq
    val root = Files.createTempDirectory("graft-jobs").toString
    val runJobs = jobsDuring(ExtractJob.run(spark, pages.toDS().coalesce(1), root, commitId = "c1"))
    val defaultRoot = Files.createTempDirectory("graft-jobs-default").toString
    val defaultJobs = jobsDuring(ExtractJob.run(spark, pages.toDS(), defaultRoot, commitId = "c1"))
    val inputDir = Files.createTempDirectory("graft-jobs-in").toString
    spark.createDataset(pages).coalesce(1).write.mode("append").parquet(inputDir)
    val streamRoot = Files.createTempDirectory("graft-jobs-stream").toString
    val epochJobs = jobsDuring(StreamingExtract.start(spark, inputDir, streamRoot).awaitTermination())
    assert(ExtractJob.resultsTable(streamRoot).latest().get.commitIds.size == 1, "one epoch")
    assert((runJobs, defaultJobs, epochJobs) == ((3, 1, 1)),
      "Spark jobs per fresh range-layout run, fresh default run and streaming epoch")
  }

  test("the UTF-8 order call sites run with Spark's testing flag set") {
    import spark.implicits._
    // Spark's UTF8String.compareTo throws while spark.testing is set; the
    // lineage min/max and the sorted-vocabulary probe compare in byte order
    val prior = Option(System.getProperty("spark.testing"))
    System.setProperty("spark.testing", "true")
    try {
      val root = Files.createTempDirectory("graft-testing-flag").toString
      val base = PagesGen.pages(spark, sfDir).limit(20).collect().toVector
      val hi = "https://zz.example/\uD834\uDD1E"
      val pages = (base.drop(2) ++ Vector(base(0).copy(url = "https://zz.example/\uFF21"),
        base(1).copy(url = hi))).toDS()
      commitIn(1, pages, root, "c1")
      val c1 = metricsRows(spark, root, "c1")
      assert(c1.size == 1 && c1.head(8) == hi, s"UTF-8 byte order max: $c1")

      val vocab = graft.functions.SortedContains.sorted(Seq("b", "\uD834\uDD1E", "a", "\uFF21"))
      assert(vocab.toSeq == Seq("a", "b", "\uFF21", "\uD834\uDD1E"))
      GraftFunctions.register(spark)
      val hits = Seq("a", "\uD834\uDD1E", "c").toDF("t")
        .select(call_function(GraftFunctions.SortedContainsName, lit(vocab), col("t")))
        .as[Boolean].collect().toSeq
      assert(hits == Seq(true, true, false))
    } finally prior match {
      case Some(v) => System.setProperty("spark.testing", v)
      case None => System.clearProperty("spark.testing")
    }
  }

  test("a run killed between the results and metrics publishes is backfilled before the rerun") {
    val root = Files.createTempDirectory("graft-hole").toString
    val pages = PagesGen.pages(spark, sfDir).limit(40)
    // a file where the metrics table lives: its publish fails after the
    // results publish succeeded
    val blocker = Files.createFile(Paths.get(root, "metrics"))
    intercept[Exception](ExtractJob.run(spark, pages, root, commitId = "c1"))
    assert(ExtractJob.resultsTable(root).hasCommit("c1"))
    Files.delete(blocker)
    assert(ExtractJob.run(spark, pages, root, commitId = "c2").rowsIn == 0)
    assert(ExtractJob.metricsTable(root).hasCommit("c1"), "c1's metrics backfilled")
    val c1 = metricsRows(spark, root, "c1")
    assert(c1.map(_(2).asInstanceOf[Long]).sum == 40L)
    assert(c1 == derivedMetrics(spark, root, "c1"))
  }
}
