package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are epoch milliseconds so spans from the
  * benchmark and from Spark's listener events share one clock; `parent` is
  * resolved at write time as the innermost benchmark span that contains
  * the interval.
  */
final case class TraceSpan(id: Int, kind: String, name: String, startMs: Double, endMs: Double,
                           attrs: Map[String, Any], var parent: Int = -1)

/** Task metrics summed over a window of Spark jobs. */
final case class TaskTotals(executorCpuS: Double, gcS: Double, shuffleWriteBytes: Long,
                            shuffleReadBytes: Long, spillBytes: Long, taskMs: Vector[Double], jobs: Int)

/** In-memory trace of the benchmark's layer calls plus the Spark
  * listeners the benchmark owns: a SparkListener (jobs, stages, task CPU,
  * GC, shuffle, spill), a QueryExecutionListener (one span per Dataset
  * action) and a StreamingQueryListener (one span per micro-batch).
  * Nothing is written until [[write]].
  */
final class Tracer {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private var nextId = 0
  private val spans = ArrayBuffer.empty[TraceSpan]

  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def add(kind: String, name: String, startMs: Double, endMs: Double, attrs: Map[String, Any]): TraceSpan =
    synchronized {
      nextId += 1
      val s = TraceSpan(nextId, kind, name, startMs, endMs, attrs)
      spans += s
      s
    }

  /** Times `f` as a benchmark span around one layer call. */
  def span[A](name: String, attrs: Map[String, Any] = Map.empty)(f: => A): A = {
    val t0 = nowMs
    try f finally add("bench", name, t0, nowMs, attrs)
  }

  def spansOf(kind: String): Vector[TraceSpan] = synchronized(spans.filter(_.kind == kind).toVector)

  // ---------------------------------------------------------- spark listener

  private val barrierDesc = "perfbench-barrier"
  @volatile private var barrierLatch: CountDownLatch = null
  private val barrierJobs = scala.collection.mutable.Set.empty[Int]
  private val barrierStages = scala.collection.mutable.Set.empty[Int]
  private val tasks = ArrayBuffer.empty[(Long, Long, Long, Long, Long, Double)]
  private var jobsEnded = 0

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      if (Option(e.properties).exists(_.getProperty("spark.job.description") == barrierDesc)) {
        barrierJobs += e.jobId
        barrierStages ++= e.stageIds
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val isBarrier = Tracer.this.synchronized {
        val b = barrierJobs.contains(e.jobId)
        if (!b) jobsEnded += 1
        b
      }
      if (isBarrier) Option(barrierLatch).foreach(_.countDown())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val skip = Tracer.this.synchronized(barrierStages.contains(si.stageId))
      if (!skip) for (s <- si.submissionTime; c <- si.completionTime)
        add("stage", s"stage ${si.stageId}", s.toDouble, c.toDouble,
          Map("tasks" -> si.numTasks, "call" -> si.name))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null && !barrierStages.contains(e.stageId)) tasks += ((
        m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        e.taskInfo.duration.toDouble))
    }
  }

  /** Waits until every listener event posted so far has been delivered:
    * runs a marker job and blocks until the attached listener sees its end
    * (the bus delivers events in order).
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    barrierLatch = new CountDownLatch(1)
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(barrierDesc)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(prev)
    barrierLatch.await(30, TimeUnit.SECONDS)
  }

  /** Sums task metrics since the last call and starts a new window. */
  def takeTotals(): TaskTotals = synchronized {
    val t = TaskTotals(
      tasks.map(_._1).sum / 1e9, tasks.map(_._2).sum / 1e3, tasks.map(_._3).sum, tasks.map(_._4).sum,
      tasks.map(_._5).sum, tasks.map(_._6).toVector, jobsEnded)
    tasks.clear()
    jobsEnded = 0
    t
  }

  // ------------------------------------------------- query execution listener

  /** Classifies one Dataset action by what it touched: the digest the
    * streaming sink computes per epoch, results or metrics writes,
    * compaction rewrites, row counts, or anything else.
    */
  private def actionOf(funcName: String, qe: QueryExecution): String = {
    val out = qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
      .orElse(qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString })
    out match {
      case Some(p) if p.contains("/compacted-") => "compaction"
      case Some(p) if p.contains("/results/") => "results_write"
      case Some(p) if p.contains("/metrics/") => "metrics_write"
      case Some(_) => "other"
      case None if funcName == "collect" && qe.analyzed.toString.contains("bit_xor") => "digest"
      case None if funcName == "count" => "count"
      case None => "other"
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val end = nowMs
      add("action", actionOf(funcName, qe), end - durationNs / 1e6, end, Map("func" -> funcName))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      add("action", "failed", nowMs, nowMs, Map("func" -> funcName, "error" -> String.valueOf(exception)))
  }

  // ---------------------------------------------------- streaming listener

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      if (p.numInputRows > 0) {
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli + ms("triggerExecution")
        add("epoch", s"epoch ${p.batchId}", end - ms("triggerExecution"), end,
          Map("rows" -> p.numInputRows, "addBatch" -> ms("addBatch"), "triggerExecution" -> ms("triggerExecution")))
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  // ----------------------------------------------------------------- output

  /** Writes every span (parent resolved by containment, self time = own
    * duration minus the time covered by direct children) and the metrics
    * to one JSON file.
    */
  def write(path: String, header: Map[String, Any], metrics: Seq[(String, Double, String)]): Unit = {
    val all = synchronized(spans.sortBy(s => (s.startMs, -s.endMs)).toVector)
    val bench = all.filter(_.kind == "bench")
    for (s <- all) {
      val enclosing = bench.filter(b => b.id != s.id && b.startMs <= s.startMs && b.endMs >= s.endMs &&
        (b.endMs - b.startMs) >= (s.endMs - s.startMs))
      s.parent = if (enclosing.isEmpty) -1 else enclosing.minBy(b => b.endMs - b.startMs).id
    }
    val children = all.groupBy(_.parent)
    def selfMs(s: TraceSpan): Double = {
      val covered = children.getOrElse(s.id, Vector.empty).map(c => (c.startMs, c.endMs)).sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, reach), (a, b)) =>
          val a1 = math.max(a, reach)
          (if (b > a1) acc + (b - a1) else acc, math.max(reach, b))
        }._1
      (s.endMs - s.startMs) - covered
    }
    val sb = new StringBuilder
    sb.append("{")
    sb.append(header.map { case (k, v) => s"${Util.js(k)}: ${Util.js(v)}" }.mkString(", "))
    sb.append(",\n\"metrics\": {")
    sb.append(metrics.map { case (n, v, u) => s"${Util.js(n)}: {\"value\": ${Util.js(v)}, \"unit\": ${Util.js(u)}}" }
      .mkString(", "))
    sb.append("},\n\"spans\": [\n")
    sb.append(all.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Util.js(k)}: ${Util.js(v)}" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "kind": ${Util.js(s.kind)}, "name": ${Util.js(s.name)}, """ +
        f""""start_ms": ${s.startMs - epoch0}%.3f, "dur_ms": ${s.endMs - s.startMs}%.3f, "self_ms": ${selfMs(s)}%.3f, "attrs": {$attrs}}"""
    }.mkString(",\n"))
    sb.append("\n]}\n")
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), sb.toString.getBytes(UTF_8))
  }
}
