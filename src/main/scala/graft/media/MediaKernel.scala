package graft.media

import java.security.MessageDigest

import org.apache.spark.sql.{Dataset, SparkSession}

/** Multimodal column handling: image/audio/video as opaque `binary`
  * columns with typed metadata, processed by a typed `mapPartitions`
  * kernel (the Scala analog of `mapInPandas` batch UDFs).
  *
  * IMAGE DECODE IS REAL: payloads whose magic bytes say PNG or JPEG are
  * decoded with the JDK's own `javax.imageio` (headless, no external
  * codec needed) — true width/height/channels, per-row error isolation
  * for corrupt-but-sniffed payloads, and a real pixel resize
  * ([[resizePixels]], bilinear `Graphics2D`). Only PNG and JPEG are
  * content-sniffed ON PURPOSE: their magics are non-ASCII, so a text
  * payload can never collide; GIF's `GIF87a` and BMP's `BM` are plain
  * ASCII prefixes a web corpus WILL reproduce in ordinary text, and
  * misrouting a document into a decoder is worse than asking for
  * container-level typing for those formats.
  *
  * Everything NOT decodable by the JDK stays a clearly-marked
  * deterministic SURROGATE: audio/video metadata (no such codecs ship
  * in any JDK), the embedding-shaped [[feature]] vector (a real
  * CLIP/wav2vec model is an inference runtime, not a codec), and
  * non-image payloads (md5-derived dims, engine-portable and
  * oracle-replayable). The typed plumbing — schema, streaming
  * per-partition iterators, error rows, batch shapes — is identical on
  * both paths, so swapping a surrogate for a production decoder stays a
  * one-function change.
  *
  * Scale notes: payloads stay opaque binary end-to-end (never shuffled
  * unless a downstream op requires it); metadata extraction is a row-local
  * map; frame sampling fans out rows (flatMap semantics) without
  * materializing per-partition lists; `ImageIO` disk caching is OFF
  * (in-memory streams — a per-decode temp file per row would dominate
  * the kernel at corpus scale).
  */
object MediaKernel {

  final case class MediaRow(url: String, kind: String, media: Array[Byte])

  final case class MediaMeta(
      url: String,
      kind: String, // "image" | "audio" | "video"
      size_bytes: Long,
      width: Long, // -1 for audio
      height: Long, // -1 for audio
      channels: Long,
      duration_ms: Long, // -1 for image
      content_md5: String,
      status: String,
      error: String
  )

  final case class MediaFeature(url: String, kind: String, feature: Array[Float])

  final case class Frame(url: String, frame_idx: Int, frame: Array[Byte])

  /** Output of [[batchScoreAll]]: one score per input row, with the batch
    * bookkeeping (`batch_idx` within its partition, `batch_size` actually
    * packed — the last batch of a partition may be short).
    */
  final case class BatchScore(url: String, kind: String, batch_idx: Long,
                              batch_size: Int, score_q: Long)

  private val md5Local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  def md5Hex(bytes: Array[Byte]): String = {
    val md = md5Local.get()
    md.reset()
    graft.extract.SpanExtractor.hexOf(md.digest(bytes))
  }

  private def hexInt(hex: String, from: Int, len: Int): Long =
    java.lang.Long.parseLong(hex.substring(from, from + len), 16)

  // headless + no disk cache BEFORE any ImageIO/AWT class initializes on
  // an executor (the property is read once at AWT init)
  private lazy val imageIoReady: Unit = {
    System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)
  }

  /** Magic-byte image sniff — PNG / JPEG only, deliberately (see class
    * doc: those magics are non-ASCII, so text payloads can never
    * collide; ASCII-magic formats need container-level typing).
    */
  def sniffImageFormat(b: Array[Byte]): Option[String] =
    if (b.length >= 8 && b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      Some("png")
    else if (b.length >= 3 && b(0) == 0xFF.toByte && b(1) == 0xD8.toByte && b(2) == 0xFF.toByte)
      Some("jpeg")
    else None

  /** REAL image decode via the JDK's ImageIO; None when the sniffed
    * payload does not actually decode (truncation, corruption).
    */
  def decodeImage(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] = {
    imageIoReady
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    catch { case _: Exception => None }
  }

  /** Metadata decode: REAL for PNG/JPEG image payloads (javax.imageio —
    * true dims and channel count; a sniffed-but-undecodable payload is an
    * ERROR ROW, the same per-row isolation as the extraction kernel);
    * deterministic md5-derived SURROGATE for everything the JDK has no
    * codec for (audio/video, and non-image payloads — which keeps the op
    * engine-portable and oracle-replayable on the synthetic corpus).
    */
  def decodeMeta(row: MediaRow): MediaMeta = {
    if (row.media == null || row.media.isEmpty)
      return MediaMeta(row.url, row.kind, 0, -1, -1, -1, -1, md5Hex(Array.emptyByteArray),
        "error", "Empty media payload")
    val h = md5Hex(row.media)
    val isImage = row.kind == "image"
    val isAudio = row.kind == "audio"
    sniffImageFormat(row.media) match {
      case Some(fmt) if isImage =>
        decodeImage(row.media) match {
          case Some(img) =>
            MediaMeta(row.url, row.kind, row.media.length.toLong,
              img.getWidth.toLong, img.getHeight.toLong,
              img.getColorModel.getNumComponents.toLong,
              duration_ms = -1, content_md5 = h, status = "ok", error = null)
          case None =>
            MediaMeta(row.url, row.kind, row.media.length.toLong,
              -1, -1, -1, -1, h, "error", s"ImageDecodeError: sniffed $fmt but undecodable")
        }
      case _ =>
        MediaMeta(
          url = row.url,
          kind = row.kind,
          size_bytes = row.media.length.toLong,
          width = if (isAudio) -1 else 320 + hexInt(h, 0, 6) % 1024,
          height = if (isAudio) -1 else 240 + hexInt(h, 6, 6) % 768,
          channels = if (isAudio) 1 + hexInt(h, 12, 2) % 2 else 3,
          duration_ms = if (isImage) -1 else 1000 + hexInt(h, 14, 6) % 600000,
          content_md5 = h,
          status = "ok",
          error = null
        )
    }
  }

  /** STUB feature extraction: a unit-normalized dim-length vector derived
    * from the content digest (stands in for a CLIP/wav2vec embedding).
    *
    * Engine-portable by construction: raw components are the ODD integers
    * `2·byte − 255` (never zero → norm > 0), the norm is a double sqrt of
    * an exact integer sum, and each component is one double division
    * rounded to float — every step a single IEEE rounding on exact inputs,
    * so a DuckDB oracle reproduces the floats bit-for-bit (m_features).
    */
  def feature(bytes: Array[Byte], dim: Int = 16): Array[Float] = {
    val d = MessageDigest.getInstance("SHA-256").digest(if (bytes == null) Array.emptyByteArray else bytes)
    val raw = Array.tabulate(dim)(i => (2 * (d(i % d.length) & 0xff) - 255).toLong)
    val n = math.sqrt(raw.foldLeft(0.0)((s, v) => s + v.toDouble * v))
    raw.map(v => (v / n).toFloat)
  }

  /** REAL pixel resize for decodable PNG/JPEG payloads: bilinear
    * `Graphics2D` scale to the [[resizeDims]] target, re-encoded as PNG.
    * The output keeps the source's kind of pixel — alpha stays ARGB, one
    * grey component stays grey, anything else is RGB — so [[decodeMeta]]
    * reports the same channel count for the resized payload as for the
    * source (grey + alpha, the one exception, comes out ARGB). Returns None
    * for payloads the JDK cannot decode (those keep the dims-only metadata
    * path). Row-local, bounded by the decoded image — the mapPartitions
    * consumer stays a streaming one-row-in-flight kernel.
    */
  def resizePixels(bytes: Array[Byte], maxSide: Int = 256): Option[(Array[Byte], Int, Int)] =
    sniffImageFormat(if (bytes == null) Array.emptyByteArray else bytes).flatMap { _ =>
      decodeImage(bytes).map { img =>
        val (tw, th) = resizeDims(
          MediaMeta("", "image", bytes.length.toLong, img.getWidth.toLong,
            img.getHeight.toLong, 0, -1, "", "ok", null), maxSide.toLong)
        if (tw == img.getWidth && th == img.getHeight) {
          (bytes, img.getWidth, img.getHeight) // already within bounds: no-op
        } else {
          import java.awt.image.BufferedImage
          val cm = img.getColorModel
          val kind =
            if (cm.hasAlpha) BufferedImage.TYPE_INT_ARGB
            else if (cm.getNumComponents == 1) BufferedImage.TYPE_BYTE_GRAY
            else BufferedImage.TYPE_INT_RGB
          val out = new BufferedImage(tw.toInt, th.toInt, kind)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, tw.toInt, th.toInt, null)
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          (bos.toByteArray, tw.toInt, th.toInt)
        }
      }
    }

  /** Aspect-preserving target dims (integer arithmetic) — the metadata
    * half of resize, shared by the dims-only relational op and the real
    * pixel path above.
    */
  def resizeDims(meta: MediaMeta, maxSide: Long): (Long, Long) = {
    val w = meta.width; val h = meta.height
    if (w <= 0 || h <= 0) (w, h)
    else if (w <= maxSide && h <= maxSide) (w, h)
    else if (w >= h) (maxSide, math.max(1L, h * maxSide / w))
    else (math.max(1L, w * maxSide / h), maxSide)
  }

  /** STUB frame sampling: n deterministic byte slices of the payload
    * (stands in for video frame extraction); flatMap semantics — one
    * input row fans out to ≤ n frame rows.
    */
  def sampleFrames(row: MediaRow, n: Int): Seq[Frame] = {
    val bytes = if (row.media == null) Array.emptyByteArray else row.media
    if (bytes.isEmpty || n <= 0) Seq.empty
    else {
      val step = math.max(1, bytes.length / n)
      (0 until math.min(n, bytes.length)).map { i =>
        val from = i * step
        Frame(row.url, i, bytes.slice(from, math.min(bytes.length, from + step)))
      }
    }
  }

  /** Typed metadata pass — streaming iterator, one row in flight. */
  def decodeAll(ds: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[MediaMeta] = {
    import spark.implicits._
    ds.mapPartitions(_.map(decodeMeta))
  }

  /** Typed feature pass. */
  def featuresAll(ds: Dataset[MediaRow], dim: Int = 16)(implicit spark: SparkSession): Dataset[MediaFeature] = {
    import spark.implicits._
    ds.mapPartitions(_.map(r => MediaFeature(r.url, r.kind, feature(r.media, dim))))
  }

  /** Typed frame fan-out. */
  def framesAll(ds: Dataset[MediaRow], n: Int)(implicit spark: SparkSession): Dataset[Frame] = {
    import spark.implicits._
    ds.mapPartitions(_.flatMap(r => sampleFrames(r, n)))
  }

  /** Per-plane weight of the STUB scoring model (Weyl-style mixed
    * congruential over a prime, same discipline as
    * [[graft.functions.LshSig.weight]]): deterministic, signed, small.
    */
  def scoreWeight(j: Int): Long =
    ((j.toLong * 2654435761L + 97531L) % 2003L) - 1001L

  /** STUB vectorized model over ONE batch: per row, the integer-quantized
    * weighted sum `Σ_j floor(f_j·10^6)·w_j` — pure integer on quantized
    * features, so engine-portable (stands in for an ONNX/TF session run
    * over the [batch × dim] matrix; the batch-at-once call signature is
    * the part a real runtime needs).
    */
  def scoreBatch(buf: Array[Array[Float]], n: Int, dim: Int): Array[Long] =
    Array.tabulate(n) { i =>
      var s = 0L
      var j = 0
      while (j < dim) {
        s += math.floor(buf(i)(j).toDouble * 1e6).toLong * scoreWeight(j)
        j += 1
      }
      s
    }

  /** BATCHED inference — the `mapPartitions` shape a real vectorized
    * scorer needs: rows grouped into fixed-size batches INSIDE each
    * partition, features packed into a REUSED [batchSize × dim] buffer,
    * ONE model call per batch, per-row scores emitted with their batch
    * bookkeeping. The model is the marked stub above (no inference
    * runtimes in the sandbox); the plumbing — grouping, buffer reuse,
    * row↔batch index alignment, the short final batch — is real, and the
    * invariant that makes it safe is spec-gated in MediaSpec: SCORES ARE
    * IDENTICAL FOR EVERY batchSize (batching is an execution detail,
    * never semantics). `batch_idx`/`batch_size` depend on partitioning by
    * construction — relational consumers project them away (`m_batch_score`
    * emits only (id, kind, score)).
    */
  def batchScoreAll(ds: Dataset[MediaRow], dim: Int = 16, batchSize: Int = 32)(
      implicit spark: SparkSession): Dataset[BatchScore] = {
    require(batchSize >= 1, s"batchSize must be positive, got $batchSize")
    import spark.implicits._
    ds.mapPartitions { it =>
      val buf = Array.ofDim[Float](batchSize, dim)
      it.grouped(batchSize).zipWithIndex.flatMap { case (batch, bi) =>
        var i = 0
        batch.foreach { r =>
          val f = feature(r.media, dim)
          System.arraycopy(f, 0, buf(i), 0, dim)
          i += 1
        }
        val scores = scoreBatch(buf, i, dim)
        batch.zipWithIndex.map { case (r, j) =>
          BatchScore(r.url, r.kind, bi.toLong, i, scores(j))
        }
      }
    }
  }
}
