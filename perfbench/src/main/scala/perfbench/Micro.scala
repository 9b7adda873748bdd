package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.extract.SpanExtractor
import graft.html.HtmlTextExtractor
import graft.job.ExtractKernel
import graft.layout.{LayoutFormatter, LineClusterer, TableDetector}
import graft.model.{Line, PageRow}
import graft.pdf.PdfLayoutParser
import graft.sniff.ContentSniffer

import scala.util.Try

/** Single-thread, warm, replicated timing of the kernel's stage functions
  * on a sample of a workload's pages. Each stage runs passes over its
  * inputs (at least [[MinPassMs]] each) until three consecutive passes
  * agree within [[Agree]], then [[Replicates]] more passes; the minimum and
  * the spread ((median - min) / min) of those replicates are published. The
  * median, not the maximum: a young GC landing in one pass would otherwise
  * set the spread.
  */
object Micro {
  val Agree = 0.03
  val MaxWarmPasses = 40
  val Replicates = 7
  val MinPassMs = 40.0

  final case class Result(name: String, minUs: Double, spread: Double, warmPasses: Int)

  /** Sink that keeps the JIT from discarding the timed work. */
  @volatile var sink: Long = 0L

  def run(rows: Vector[PageRow]): Vector[Result] = {
    val rules = ExtractKernel.DefaultRules
    val schemaHash = SpanExtractor.schemaHash(rules)
    val bytes = rows.map(r => if (r.html == null) Array.emptyByteArray else r.html)
    val pdfs = bytes.filter(b => ContentSniffer.sniff(b) == ContentSniffer.Pdf && Try(PdfLayoutParser.parse(b)).isSuccess)
    val parsed = pdfs.map(PdfLayoutParser.parse)
    val htmls = bytes.filter(ContentSniffer.sniff(_) == ContentSniffer.Html).map(new String(_, UTF_8))
    val lines: Vector[Vector[Line]] =
      parsed.map(p => LineClusterer.clusterGroups(p.words).map(LineClusterer.assemble)) ++
        htmls.map(h => HtmlTextExtractor.contentBlocks(h).zipWithIndex.map { case (b, i) =>
          Line(b.text, 0, i, b.text.length, i, "NONE", b.words)
        })

    def stage[A](name: String, inputs: Vector[A])(f: A => Long): Result = {
      // one pass repeats the inputs `rounds` times so it lasts >= MinPassMs
      def timeRounds(rounds: Int): Double = {
        var acc = 0L
        val t0 = System.nanoTime()
        var r = 0
        while (r < rounds) {
          var i = 0
          while (i < inputs.length) { acc += f(inputs(i)); i += 1 }
          r += 1
        }
        sink += acc
        (System.nanoTime() - t0) / 1e3 / math.max(inputs.length * rounds, 1)
      }
      val rounds = math.max(1, math.ceil(MinPassMs * 1e3 / (timeRounds(1) * math.max(inputs.length, 1))).toInt)
      def pass(): Double = timeRounds(rounds)
      def settled(ps: Vector[Double]): Boolean = {
        val l = ps.takeRight(3)
        l.size == 3 && l.max - l.min <= Agree * l.min
      }
      var warm = Vector.empty[Double]
      while (!settled(warm) && warm.size < MaxWarmPasses) warm :+= pass()
      val reps = Vector.fill(Replicates)(pass())
      Result(name, reps.min, (Util.median(reps) - reps.min) / reps.min, warm.size)
    }

    Vector(
      stage("sniff.us_per_page", bytes)(b => ContentSniffer.sniff(b).name.length),
      stage("extract.sha256_us_per_page", bytes)(b => SpanExtractor.sha256Hex(b).length),
      stage("extract.resolve_us_per_page", lines)(ls => SpanExtractor.resolve(rules, ls).length),
      stage("pdf.parse_us_per_pdf", pdfs)(b => PdfLayoutParser.parse(b).words.length),
      stage("layout.cluster_format_us_per_pdf", parsed) { p =>
        val groups = LineClusterer.clusterGroups(p.words)
        val text = LayoutFormatter.format(groups.map(LineClusterer.assemble))
        text.length + (if (TableDetector.detect(groups)) 1 else 0)
      },
      stage("html.blocks_us_per_html", htmls)(h => HtmlTextExtractor.contentBlocks(h).length),
      stage("job.kernel_us_per_page", rows)(r => ExtractKernel.extract(r, rules, schemaHash).word_count)
    )
  }
}
