package perfbench

import java.nio.file.{Files, Paths}

import graft.job.{ExtractJob, ExtractKernel}
import graft.model.PageRow
import graft.streaming.StreamingExtract
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed operation: a job run, or a stream drained to its end. */
final case class Op(pages: Long, wallS: Double, cpuS: Double, bytesWritten: Long,
                    epochMs: Vector[Double], problems: Vector[String], root: String, commits: String => Boolean)

/** The benchmark entry point. Usage:
  * {{{
  * Main --workload <fresh_mixed|resume_tail|stream_epochs> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --documents <documents.parquet> --digests <digests.tsv> --trace-out <file>
  * }}}
  * Prints one JSON object as the last line of stdout; exits 1 when any
  * operation failed or its output check did not pass.
  */
object Main {

  /** Seed whose committed output must match the pinned digest. */
  val DefaultSeed = 0L
  /** Base documents × replicas = pages per job run (5000 × 6). */
  val BatchReplicas = 6
  /** resume_tail commits every url but 1 in 10 during set-up. */
  val TailOneIn = 10
  /** stream_epochs: base documents × 2 replicas split into one parquet
    * file (one micro-batch) per epoch. Eight epochs per stream, so each
    * stream ends with the compaction `SnapshotTable` runs every 8 commits.
    */
  val StreamReplicas = 2
  val StreamEpochs = 8
  /** Set-up is repeated this many times; `setup_s` reports the median. */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, documents: String, digests: String, traceOut: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("documents"), need("digests"), need("trace-out"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}; one of ${Workloads.mkString(", ")}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  val Workloads = Seq("fresh_mixed", "resume_tail", "stream_epochs")

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Util.path(work, "spark-local"))
      .config("spark.sql.warehouse.dir", Util.path(work, "warehouse"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val code = try run(a) catch {
      case NonFatal(e) =>
        System.err.println("perfbench: the run failed before it could report")
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  /** State a workload sets up once and shares across its operations. */
  abstract class Workload(val spark: SparkSession, val corpus: Corpus, val work: String, val cores: Int) {
    private var nextRoot = 0
    var checkS = 0.0
    def freshRoot(tag: String): String = { nextRoot += 1; Util.path(work, "tables", s"$tag-$nextRoot") }

    /** Unmeasured operations before the measured ones. Each job run makes
      * Spark generate and compile fresh code, and the JIT spends seconds of
      * CPU per run on it for the first ~10 runs; two job runs take the
      * steepest part of that.
      */
    def warmOps: Int = 2

    /** Builds inputs (and any committed state); returns when it is ready. */
    def setup(rep: Int): Unit

    /** Runs timed operation `i`, then checks its output. */
    def op(i: Int, wantDigest: Boolean): (Op, Option[String])

    /** Input pages and a table root in the state the timed operation
      * meets, for the stepwise layer decomposition.
      */
    def stepwiseInput(last: Op): (Dataset[PageRow], String)

    /** The source pages as a batch table (for the scaling runs). */
    def sourceDir: String

    def pages(dir: String): Dataset[PageRow] = {
      import spark.implicits._
      spark.read.parquet(dir).as[PageRow]
    }

    protected def timed(root: String, bytesBefore: Long)(body: => Vector[Double]): (Double, Double, Long, Vector[Double]) = {
      val cpu0 = Util.processCpuS()
      val t0 = System.nanoTime()
      val epochs = body
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Util.processCpuS() - cpu0
      (wall, cpu, Util.treeBytes(root) - bytesBefore, if (epochs.isEmpty) Vector(wall * 1e3) else epochs)
    }

    protected def check(root: String, wantDigest: Boolean): (Vector[String], Option[String]) = {
      val (r, ns) = Util.timeNs(Check(spark, root, corpus, wantDigest))
      checkS += ns / 1e9
      r
    }
  }

  /** One `ExtractJob.run` per operation into an empty table root. */
  final class FreshMixed(spark: SparkSession, corpus: Corpus, work: String, cores: Int)
      extends Workload(spark, corpus, work, cores) {
    var sourceDir: String = _
    private var lastRoot: String = null

    def setup(rep: Int): Unit = {
      val dir = Util.path(work, s"source-$rep")
      corpus.pages(spark, 2 * cores).write.mode("overwrite").parquet(dir)
      if (sourceDir != null) Util.deleteTree(sourceDir)
      sourceDir = dir
    }

    def op(i: Int, wantDigest: Boolean): (Op, Option[String]) = {
      if (lastRoot != null) Util.deleteTree(lastRoot)
      val root = freshRoot("fresh")
      lastRoot = root
      val commit = s"run-$i"
      val (wall, cpu, bytes, epochs) = timed(root, 0L) {
        ExtractJob.run(spark, pages(sourceDir), root, commitId = commit)
        Vector.empty
      }
      val (problems, digest) = check(root, wantDigest)
      (Op(corpus.size, wall, cpu, bytes, epochs, problems, root, _ == commit), digest)
    }

    def stepwiseInput(last: Op): (Dataset[PageRow], String) = (pages(sourceDir), freshRoot("fresh-steps"))
  }

  /** One `ExtractJob.run` per operation against a table that already holds
    * a committed snapshot of 9 in 10 of the input urls; between operations
    * the table is rolled back to that snapshot.
    */
  final class ResumeTail(spark: SparkSession, corpus: Corpus, work: String, cores: Int)
      extends Workload(spark, corpus, work, cores) {
    var sourceDir: String = _
    private var root: String = _
    private var seedVersions = (0, 0)
    val tailRows: Long = corpus.docIds.count(Corpus.oneIn(TailOneIn))
    // set-up already ran the job three times to seed the table
    override def warmOps: Int = 1

    def setup(rep: Int): Unit = {
      val dir = Util.path(work, s"source-$rep")
      corpus.pages(spark, 2 * cores).write.mode("overwrite").parquet(dir)
      val r = freshRoot("resume")
      ExtractJob.run(spark, corpus.pages(spark, 2 * cores, id => !Corpus.oneIn(TailOneIn)(id)), r, commitId = "seed")
      if (sourceDir != null) { Util.deleteTree(sourceDir); Util.deleteTree(root) }
      sourceDir = dir
      root = r
      seedVersions = (ExtractJob.resultsTable(r).latest().get.version, ExtractJob.metricsTable(r).latest().get.version)
    }

    private def reset(tag: String): Unit =
      if (ExtractJob.resultsTable(root).latest().get.version != seedVersions._1) {
        ExtractJob.resultsTable(root).rollbackTo(seedVersions._1, tag)
        ExtractJob.metricsTable(root).rollbackTo(seedVersions._2, tag)
      }

    def op(i: Int, wantDigest: Boolean): (Op, Option[String]) = {
      reset(s"reset-$i")
      val commit = s"run-$i"
      var stats: ExtractJob.JobStats = null
      val (wall, cpu, bytes, epochs) = timed(root, Util.treeBytes(root)) {
        stats = ExtractJob.run(spark, pages(sourceDir), root, commitId = commit)
        Vector.empty
      }
      val (problems, digest) = check(root, wantDigest)
      val tail = if (stats.rowsIn == tailRows) Vector.empty
        else Vector(s"resume extracted ${stats.rowsIn} rows, expected the $tailRows-row tail")
      (Op(corpus.size, wall, cpu, bytes, epochs, problems ++ tail, root, _ == commit), digest)
    }

    def stepwiseInput(last: Op): (Dataset[PageRow], String) = {
      reset("reset-steps")
      (pages(sourceDir), root)
    }
  }

  /** One `StreamingExtract.start` per operation, `Trigger.AvailableNow`,
    * one parquet file per micro-batch, drained into an empty table root.
    */
  final class StreamEpochs(spark: SparkSession, corpus: Corpus, work: String, cores: Int)
      extends Workload(spark, corpus, work, cores) {
    var sourceDir: String = _
    private var extraDir: String = _
    private var lastRoot: String = null
    val epochs: Int = StreamEpochs
    // the warm-up stream drains the same files in two epochs: it runs the
    // streaming and commit paths at a quarter of a measured stream's cost
    override def warmOps: Int = 1

    /** One more epoch of urls the stream never sees, for the stepwise run. */
    private val extra = new Corpus(corpus.base.take((corpus.size / epochs).toInt), 1, corpus.offset + corpus.replicas)

    def setup(rep: Int): Unit = {
      val dir = Util.path(work, s"stream-in-$rep")
      corpus.pages(spark, 2 * cores).repartition(epochs).write.mode("overwrite").parquet(dir)
      val ex = Util.path(work, s"stream-extra-$rep")
      extra.pages(spark, cores).write.mode("overwrite").parquet(ex)
      if (sourceDir != null) { Util.deleteTree(sourceDir); Util.deleteTree(extraDir) }
      sourceDir = dir
      extraDir = ex
    }

    def op(i: Int, wantDigest: Boolean): (Op, Option[String]) = {
      if (lastRoot != null) Util.deleteTree(lastRoot)
      val root = freshRoot("stream")
      lastRoot = root
      var failure: Option[String] = None
      val filesPerEpoch = if (i < warmOps) epochs / 2 else 1
      val expected = epochs / filesPerEpoch
      val (wall, cpu, bytes, epochMs) = timed(root, 0L) {
        val q = StreamingExtract.start(spark, sourceDir, root, maxFilesPerTrigger = filesPerEpoch)
        try q.awaitTermination() catch { case NonFatal(e) => failure = Some(s"stream failed: $e") }
        q.recentProgress.toVector.filter(_.numInputRows > 0)
          .map(p => p.durationMs.get("triggerExecution").doubleValue)
      }
      val (problems, digest) = check(root, wantDigest)
      val committed = ExtractJob.resultsTable(root).latest().map(_.commitIds.count(_.startsWith("epoch-"))).getOrElse(0)
      val epochProblems =
        if (committed == expected && epochMs.size == expected) Vector.empty
        else Vector(s"stream committed $committed epochs and reported ${epochMs.size}, expected $expected")
      (Op(corpus.size, wall, cpu, bytes, epochMs, failure.toVector ++ problems ++ epochProblems, root,
        _.startsWith("epoch-")), digest)
    }

    def stepwiseInput(last: Op): (Dataset[PageRow], String) = (pages(extraDir), last.root)
  }

  def run(a: Args): Int = {
    val started = System.nanoTime()
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    Util.mkdirs(a.work)
    val (spark0, sessionNs) = Util.timeNs(session(cores, a.work))
    var spark = spark0
    val replicas = if (a.workload == "stream_epochs") StreamReplicas else BatchReplicas
    val corpus = Corpus.load(spark, a.documents, replicas, a.seed)
    val wl: Workload = a.workload match {
      case "fresh_mixed" => new FreshMixed(spark, corpus, a.work, cores)
      case "resume_tail" => new ResumeTail(spark, corpus, a.work, cores)
      case "stream_epochs" => new StreamEpochs(spark, corpus, a.work, cores)
    }
    val pinned = readDigests(a.digests).get((a.workload, a.seed))
    val wantDigest = pinned.isDefined || a.seed == DefaultSeed

    val setupS = (1 to SetupReps).map(rep => Util.timeNs(wl.setup(rep))._2 / 1e9)
    val setup = sessionNs / 1e9 + Util.median(setupS)

    val attempted = ArrayBuffer.empty[Op]
    val jitMs = ArrayBuffer.empty[Long]
    val digests = ArrayBuffer.empty[String]
    def runOp(): Op = {
      val i = attempted.size
      val jit0 = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      val op = try {
        val (o, d) = wl.op(i, wantDigest)
        d.foreach(digests += _)
        val digestProblem = (pinned, d) match {
          case (Some(p), Some(g)) if p != g => Vector(s"digest $g differs from the pinned $p")
          case (None, Some(g)) => Vector(s"no digest pinned for ${a.workload} seed ${a.seed} (got $g)")
          case _ => Vector.empty
        }
        o.copy(problems = o.problems ++ digestProblem)
      } catch {
        case NonFatal(e) => Op(corpus.size, Double.NaN, Double.NaN, 0L, Vector.empty, Vector(s"operation threw: $e"), "", _ => false)
      }
      jitMs += java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0
      op.problems.foreach(p => System.err.println(s"perfbench: op $i: $p"))
      attempted += op
      op
    }
    // operations until `seconds` of them are measured; the last one starts
    // only if it should end within half an operation of the mark
    def measure(seconds: Double, minOps: Int)(next: Int => Op): Vector[Op] = {
      val ops = ArrayBuffer.empty[Op]
      var spent = 0.0
      var last = 0.0
      while (ops.size < minOps || spent + last / 2 < seconds) {
        val o = next(ops.size)
        ops += o
        last = if (o.wallS.isNaN) seconds else o.wallS
        spent += last
      }
      ops.toVector
    }

    // warm-up: JIT, file caches, lazy Spark set-up. A fixed count, so each
    // run measures from the same point of the JIT's progress whatever the
    // host's speed.
    for (_ <- 1 to wl.warmOps) runOp()

    val (steal0, total0) = Util.hostJiffies()
    val tracer = new Tracer
    var microDetail = ""
    val (e2e, layers) =
      if (!a.trace) (measure(a.seconds, 1)(_ => runOp()), Vector.empty)
      else {
        // plain and traced operations alternate, so warm-up drift does not
        // bias the tracing overhead
        val ops = measure(a.seconds, 2) { i =>
          if (i % 2 == 0) tracer.span("operation")(runOp())
          else {
            tracer.attach(spark)
            try tracer.span("traced operation")(runOp()) finally tracer.detach(spark)
          }
        }
        val plain = ops.indices.filter(_ % 2 == 0).map(ops)
        val traced = ops.indices.filter(_ % 2 == 1).map(ops)
        val totals = tracer.takeTotals()
        tracer.attach(spark)
        val steps = stepwise(wl, ops.last, tracer, cores)
        tracer.detach(spark)
        val kernel = kernelLineage(spark, ops.last, cores)
        val micro = tracer.span("kernel micro-bench")(Micro.run(
          corpus.docIds.filter(Corpus.oneIn(100)).take(600).map(corpus.row).toVector))
        microDetail = micro.map(r => f"${r.name} ${r.minUs}%.2f us spread ${100 * r.spread}%.1f%% warm ${r.warmPasses}").mkString("; ")
        val thr4 = if (a.workload == "fresh_mixed") Util.median(plain.map(o => o.pages / o.wallS))
          else tracer.span("scaling local[4]")(freshThroughput(spark, wl.sourceDir, a.work, "scale4"))
        spark.stop()
        spark = session(1, a.work)
        val thr1 = tracer.span("scaling local[1]")(freshThroughput(spark, wl.sourceDir, a.work, "scale1"))
        val overhead = 100.0 * (Util.median(plain.map(o => o.pages / o.wallS)) /
          Util.median(traced.map(o => o.pages / o.wallS)) - 1)
        (ops,
          steps ++ kernel ++ streamingLayers(tracer) ++ sparkLayers(totals, traced.size) ++
            micro.map(r => (r.name, r.minUs, "us")) ++ Vector(
            ("kernel.micro_spread_pct", 100 * micro.map(_.spread).max, "%"),
            ("job.scaling_eff_1to4", thr4 / (cores * thr1), "ratio"),
            ("trace.overhead_pct", overhead, "%")))
      }
    val (steal1, total1) = Util.hostJiffies()
    val stealPct = if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
    val okOps = e2e.filter(o => !o.wallS.isNaN)
    val cpuUtil = okOps.map(_.cpuS).sum / okOps.map(_.wallS).sum / cores

    val failed = attempted.count(_.problems.nonEmpty)
    val correct = failed == 0
    val epochMs = okOps.flatMap(_.epochMs)
    val tailP = Util.tailPercentile(epochMs.size)
    def med(f: Op => Double) = if (okOps.isEmpty) Double.NaN else Util.median(okOps.map(f))
    val endToEnd = Vector(
      ("pages_per_s", med(o => o.pages / o.wallS), "pages/s"),
      ("epoch_ms_p50", if (epochMs.isEmpty) Double.NaN else Util.median(epochMs), "ms"),
      ("epoch_ms_tail", if (epochMs.isEmpty) Double.NaN else Util.percentile(epochMs, tailP), "ms"),
      ("cpu_s_per_kpage", med(o => o.cpuS / o.pages * 1000), "s/kpage"),
      ("bytes_written_per_page", med(o => o.bytesWritten.toDouble / o.pages), "B/page"),
      ("peak_rss_mb", Util.peakRssMb(), "MB"),
      ("ok_share", 1.0 - failed.toDouble / attempted.size, "ratio"),
      ("setup_s", setup, "s"))
    val host = Vector(("host.steal_pct", stealPct, "%"), ("host.cpu_util", cpuUtil, "ratio"))
    val reported = if (a.trace) layers ++ host else endToEnd

    val detail = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "cores" -> cores,
      "pages_per_op" -> corpus.size, "ops" -> okOps.size, "epoch_samples" -> epochMs.size,
      "epoch_tail_percentile" -> tailP, "steal_pct" -> stealPct, "cpu_util" -> cpuUtil,
      "setup_reps_s" -> setupS.map(s => f"$s%.3f").mkString(" "), "session_s" -> sessionNs / 1e9,
      "digest" -> digests.headOption.orNull, "check_s" -> wl.checkS,
      "run_s" -> (System.nanoTime() - started) / 1e9,
      "op_s" -> attempted.map(o => f"${o.wallS}%.3f").mkString(" "),
      "micro" -> microDetail, "jit_ms" -> jitMs.mkString(" "))
    println("detail " + detail.map { case (k, v) => s"${Util.js(k)}: ${Util.js(v)}" }.mkString("{", ", ", "}"))
    if (a.trace) tracer.write(a.traceOut, detail, endToEnd ++ reported)
    spark.stop()
    val metricsJson = reported.map { case (n, v, u) => s"${Util.js(n)}: {\"value\": ${Util.js(v)}, \"unit\": ${Util.js(u)}}" }
    println(s"""{"correct": $correct, "attempted": ${attempted.size}, "failed": $failed, "metrics": {${metricsJson.mkString(", ")}}}""")
    if (correct) 0 else 1
  }

  private def readDigests(path: String): Map[(String, Long), String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).collect { case Array(w, s, d) => (w, s.toLong) -> d }.toMap

  /** Pages/s of one fresh `ExtractJob.run` over `dir` (warmed by a small run first). */
  private def freshThroughput(spark: SparkSession, dir: String, work: String, tag: String): Double = {
    import spark.implicits._
    val src = spark.read.parquet(dir).as[PageRow]
    ExtractJob.run(spark, src.limit(2000), Util.path(work, "tables", s"$tag-warm"), commitId = "warm")
    val n = src.count()
    val (_, ns) = Util.timeNs(ExtractJob.run(spark, src, Util.path(work, "tables", tag), commitId = "scale"))
    n / (ns / 1e9)
  }

  /** The operation's layers one at a time, each materialised on its own:
    * resume filter, range partitioning, kernel, results append, metrics
    * commit — the steps `ExtractJob.run` chains in one plan.
    */
  private def stepwise(wl: Workload, last: Op, tracer: Tracer, cores: Int): Vector[(String, Double, String)] = {
    val spark = wl.spark
    val (pages, root) = wl.stepwiseInput(last)
    def materialise[A](ds: Dataset[A]): Dataset[A] = {
      val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
      p.write.format("noop").mode("overwrite").save()
      p
    }
    def step[A](name: String)(f: => A): (A, Double, TaskTotals) = {
      tracer.drain(spark)
      tracer.takeTotals()
      val (a, ns) = Util.timeNs(tracer.span(name)(f))
      tracer.drain(spark)
      (a, ns / 1e9, tracer.takeTotals())
    }
    val (pend, pendingS, _) = step("job.pending")(materialise(ExtractJob.pending(spark, pages, root)))
    val pendingRows = pend.count()
    val (parted, partitionS, shuffle) = step("job.partition")(materialise(ExtractJob.partitionForExtraction(pend, cores)))
    val (results, extractS, _) = step("job.extract")(materialise(ExtractJob.extractAll(parted, ExtractKernel.DefaultRules, "steps")))
    val bytes0 = Util.treeBytes(root)
    val (_, appendS, _) = step("table.append")(ExtractJob.resultsTable(root).append(results.toDF(), "steps"))
    val appended = Util.treeBytes(root) - bytes0
    val (_, metricsS, _) = step("job.commit_metrics")(ExtractJob.commitMetrics(spark, root, "steps"))
    Seq(pend, parted, results).foreach(_.unpersist())
    val (nRes, bRes) = Util.dirsBytes(Util.path(last.root, "results", "data"), "compacted-")
    val (nMet, bMet) = Util.dirsBytes(Util.path(last.root, "metrics", "data"), "compacted-")
    Vector(
      ("job.pending_s", pendingS, "s"), ("job.pending_rows", pendingRows.toDouble, "count"),
      ("job.partition_s", partitionS, "s"), ("job.shuffle_write_bytes", shuffle.shuffleWriteBytes.toDouble, "B"),
      ("job.shuffle_read_bytes", shuffle.shuffleReadBytes.toDouble, "B"), ("job.spill_bytes", shuffle.spillBytes.toDouble, "B"),
      ("job.extract_s", extractS, "s"),
      ("table.append_s", appendS, "s"), ("table.bytes_written", appended.toDouble, "B"),
      ("table.compactions", (nRes + nMet).toDouble, "count"), ("table.compacted_bytes", (bRes + bMet).toDouble, "B"),
      ("job.commit_metrics_s", metricsS, "s"))
  }

  /** Kernel time and partition skew from the operation's committed per-partition metrics. */
  private def kernelLineage(spark: SparkSession, op: Op, cores: Int): Vector[(String, Double, String)] = {
    import spark.implicits._
    val rows = ExtractJob.metricsTable(op.root).read(spark).get
      .select("commit_id", "kernel_us", "rows_in").as[(String, Long, Long)].collect()
      .filter(r => op.commits(r._1) && r._3 > 0)
    val kernelS = rows.map(_._2).sum / 1e6
    val skew = rows.groupBy(_._1).values.map { rs =>
      val us = rs.map(_._2.toDouble).toVector
      us.max / math.max(Util.median(us), 1.0)
    }.toVector
    Vector(("job.kernel_cpu_s", kernelS, "s"), ("job.kernel_share", kernelS / (op.wallS * cores), "ratio"),
      ("job.partition_skew", if (skew.isEmpty) Double.NaN else Util.median(skew), "ratio"))
  }

  /** Per-epoch streaming figures from the traced operations' progress
    * events, and per-action durations of the actions inside each epoch.
    * Zero on the batch workloads, which run no epochs.
    */
  private def streamingLayers(tracer: Tracer): Vector[(String, Double, String)] = {
    val epochs = tracer.spansOf("epoch")
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Util.median(xs)
    // an action's span ends when the listener bus delivers it, a little
    // after the action itself ended
    val actions = tracer.spansOf("action").filter(a => epochs.exists(e => a.startMs >= e.startMs - 50 && a.endMs <= e.endMs + 250))
    Vector(
      ("streaming.add_batch_ms_p50", med(epochs.map(_.attrs("addBatch").asInstanceOf[Double])), "ms"),
      ("streaming.trigger_overhead_ms_p50",
        med(epochs.map(e => e.attrs("triggerExecution").asInstanceOf[Double] - e.attrs("addBatch").asInstanceOf[Double])), "ms")) ++
      Seq("digest", "results_write", "metrics_write", "compaction", "count", "other").map { k =>
        (s"streaming.action_ms.$k", med(actions.filter(_.name == k).map(s => s.endMs - s.startMs)), "ms")
      }
  }

  private def sparkLayers(t: TaskTotals, ops: Int): Vector[(String, Double, String)] = Vector(
    ("spark.executor_cpu_s", t.executorCpuS / ops, "s"), ("spark.gc_s", t.gcS / ops, "s"),
    ("spark.task_ms_p50", if (t.taskMs.isEmpty) 0.0 else Util.median(t.taskMs), "ms"),
    ("spark.task_ms_max", if (t.taskMs.isEmpty) 0.0 else t.taskMs.max, "ms"),
    ("spark.jobs", t.jobs.toDouble / ops, "count"))
}
