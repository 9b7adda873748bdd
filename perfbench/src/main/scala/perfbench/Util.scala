package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Order statistics, host counters and file-tree helpers. */
object Util {

  /** Linear-interpolated percentile (same rule as numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Highest of the candidate percentiles that leaves at least ten samples
    * beyond it. A sample too small for p75 reports p75 anyway; the chosen
    * percentile is printed next to the value.
    */
  def tailPercentile(n: Int): Double =
    Seq(99.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100) >= 10).getOrElse(75.0)

  /** Process CPU time (all threads, JIT and GC included), seconds. */
  def processCpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double =
    readLines("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** (steal, total) jiffies of the host from /proc/stat. */
  def hostJiffies(): (Long, Long) =
    readLines("/proc/stat").find(_.startsWith("cpu ")) match {
      case Some(l) =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal [guest guest_nice]:
        // guest time is already counted in user
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      case None => (0L, 0L)
    }

  private def readLines(p: String): Seq[String] =
    try Files.readAllLines(Paths.get(p)).asScala.toSeq
    catch { case _: java.io.IOException => Nil }

  /** Total bytes of the regular files under `root` (0 when absent). */
  def treeBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Bytes under the data dirs of `root` whose name starts with `prefix`. */
  def dirsBytes(root: String, prefix: String): (Int, Long) = {
    val p = Paths.get(root)
    if (!Files.isDirectory(p)) (0, 0L)
    else {
      val s = Files.list(p)
      val dirs = try s.iterator().asScala.filter(d => d.getFileName.toString.startsWith(prefix)).toVector
      finally s.close()
      (dirs.size, dirs.map(d => treeBytes(d.toString)).sum)
    }
  }

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val all = try s.iterator().asScala.toVector finally s.close()
      all.sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
    }
  }

  def timeNs[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = f
    (a, System.nanoTime() - t0)
  }

  def path(parts: String*): String = Paths.get(parts.head, parts.tail: _*).toString

  def mkdirs(p: String): Path = Files.createDirectories(Paths.get(p))

  /** JSON number or string literal (NaN and infinities become null). */
  def js(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case null => "null"
    case s => "\"" + s.toString.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
}
