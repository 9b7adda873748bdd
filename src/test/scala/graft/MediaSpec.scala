package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.media.MediaKernel
import graft.media.MediaKernel.{MediaRow, md5Hex}
import org.scalatest.funsuite.AnyFunSuite

class MediaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val img = MediaRow("u1", "image", "fake image bytes".getBytes(UTF_8))
  private val aud = MediaRow("u2", "audio", "fake audio bytes".getBytes(UTF_8))
  private val vid = MediaRow("u3", "video", "fake video bytes that are a bit longer".getBytes(UTF_8))

  test("decodeMeta: deterministic, kind-dependent fields, md5 carried") {
    val m1 = MediaKernel.decodeMeta(img)
    assert(m1 == MediaKernel.decodeMeta(img)) // deterministic
    assert(m1.status == "ok" && m1.kind == "image")
    assert(m1.width >= 320 && m1.width < 320 + 1024)
    assert(m1.height >= 240 && m1.height < 240 + 768)
    assert(m1.duration_ms == -1 && m1.channels == 3)
    assert(m1.content_md5 == md5Hex(img.media))
    val m2 = MediaKernel.decodeMeta(aud)
    assert(m2.width == -1 && m2.height == -1 && m2.duration_ms >= 1000 && (m2.channels == 1 || m2.channels == 2))
    val m3 = MediaKernel.decodeMeta(vid)
    assert(m3.width > 0 && m3.duration_ms >= 1000)
  }

  test("decodeMeta: empty payload → error row, never a throw") {
    val m = MediaKernel.decodeMeta(MediaRow("u", "image", Array.emptyByteArray))
    assert(m.status == "error" && m.error.nonEmpty)
    assert(MediaKernel.decodeMeta(MediaRow("u", "image", null)).status == "error")
  }

  test("resizeDims preserves aspect ratio, never upsizes") {
    val meta = MediaKernel.decodeMeta(img)
    val (w, h) = MediaKernel.resizeDims(meta, 100)
    assert(math.max(w, h) == 100 || (meta.width <= 100 && meta.height <= 100))
    assert(w <= meta.width && h <= meta.height)
    // audio (-1 dims) passes through
    assert(MediaKernel.resizeDims(MediaKernel.decodeMeta(aud), 100) == (-1L, -1L))
  }

  test("sampleFrames: deterministic slices covering the payload prefix") {
    val frames = MediaKernel.sampleFrames(vid, 4)
    assert(frames.length == 4)
    assert(frames.map(_.frame_idx) == Seq(0, 1, 2, 3))
    assert(frames.map(_.frame.length).sum <= vid.media.length)
    assert(MediaKernel.sampleFrames(MediaRow("u", "video", Array.emptyByteArray), 4).isEmpty)
  }

  test("feature: unit-norm, dimension, deterministic") {
    val f = MediaKernel.feature(img.media, 16)
    assert(f.length == 16)
    val n = math.sqrt(f.map(v => v.toDouble * v).sum)
    assert(math.abs(n - 1.0) < 1e-5)
    assert(f.toSeq == MediaKernel.feature(img.media, 16).toSeq)
  }

  test("typed Dataset plumbing: decodeAll / featuresAll / framesAll") {
    implicit val s = spark
    import s.implicits._
    val ds = Seq(img, aud, vid).toDS().repartition(2)
    val metas = MediaKernel.decodeAll(ds).collect()
    assert(metas.length == 3 && metas.forall(_.status == "ok"))
    val feats = MediaKernel.featuresAll(ds).collect()
    assert(feats.forall(_.feature.length == 16))
    val frames = MediaKernel.framesAll(ds, 3).collect()
    assert(frames.length == 9)
  }

  test("batched inference: scores identical for every batch size and partitioning") {
    implicit val s = spark
    import s.implicits._
    val rows = (0 until 97).map(i =>
      MediaRow(s"u$i", Seq("image", "audio", "video")(i % 3), s"payload-$i".getBytes(UTF_8)))
    val ds1 = rows.toDS().repartition(1)
    val ds5 = rows.toDS().repartition(5)
    def scores(ds: org.apache.spark.sql.Dataset[MediaRow], bs: Int) =
      MediaKernel.batchScoreAll(ds, 16, bs).collect().map(b => b.url -> b.score_q).toMap
    val ref = scores(ds1, 1)
    assert(ref.size == 97)
    // batching and partitioning are execution details: 1-row batches,
    // odd batches with a short tail, and oversized batches all agree
    assert(scores(ds1, 7) == ref)
    assert(scores(ds5, 32) == ref)
    assert(scores(ds5, 1000) == ref)
    // scores are real (not degenerate): distinct payloads → distinct values
    assert(ref.values.toSet.size > 90)
  }

  // ---- real image decode (javax.imageio — JDK-shipped, headless) ----

  private def pngBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => img.setRGB(x, 0, x * 7919))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def jpegBytes(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  test("decodeMeta: REAL dims/channels for PNG and JPEG payloads; duration -1; md5 carried") {
    val png = pngBytes(37, 21)
    val m = MediaKernel.decodeMeta(MediaRow("u", "image", png))
    assert((m.width, m.height, m.channels, m.duration_ms, m.status) ==
      ((37L, 21L, 3L, -1L, "ok")), s"got $m")
    assert(m.content_md5 == md5Hex(png) && m.size_bytes == png.length)
    val j = MediaKernel.decodeMeta(MediaRow("u", "image", jpegBytes(64, 48)))
    assert((j.width, j.height, j.status) == ((64L, 48L, "ok")), s"got $j")
  }

  test("decodeMeta: sniffed-but-corrupt image is an ERROR ROW; text payloads keep the surrogate path") {
    // PNG magic + garbage: the decoder must isolate the row, not throw
    val corrupt = pngBytes(8, 8).take(20) ++ Array.fill[Byte](30)(0x41)
    val m = MediaKernel.decodeMeta(MediaRow("u", "image", corrupt))
    assert(m.status == "error" && m.error.startsWith("ImageDecodeError"), s"got $m")
    // non-image bytes under kind=image: the md5-derived surrogate,
    // unchanged — this is what keeps the synthetic-corpus oracle stable
    val h = md5Hex(img.media)
    val s = MediaKernel.decodeMeta(img)
    assert(s.width == 320 + java.lang.Long.parseLong(h.substring(0, 6), 16) % 1024)
    assert(s.status == "ok")
    // ASCII prefixes that LOOK like weak image magics must NOT sniff
    // (the PNG/JPEG-only policy): plain text rows never enter a decoder
    assert(MediaKernel.sniffImageFormat("BM25 ranking notes".getBytes(UTF_8)).isEmpty)
    assert(MediaKernel.sniffImageFormat("GIF87a was a format".getBytes(UTF_8)).isEmpty)
  }

  test("resizePixels: real bilinear downscale to the aspect-preserving target; no-op within bounds; None for non-images") {
    val (outBytes, w, h) = MediaKernel.resizePixels(pngBytes(800, 300), 256).get
    assert((w, h) == ((256, 96)))
    // the emitted bytes are a REAL image of exactly those dims
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(outBytes))
    assert(back.getWidth == 256 && back.getHeight == 96)
    // portrait orientation clamps the other side
    assert(MediaKernel.resizePixels(pngBytes(300, 800), 256).map(t => (t._2, t._3)).get == ((96, 256)))
    // already small → identical bytes back (no decode-reencode churn)
    val small = pngBytes(40, 30)
    val (sb, sw, sh) = MediaKernel.resizePixels(small, 256).get
    assert((sw, sh) == ((40, 30)) && (sb sameElements small))
    assert(MediaKernel.resizePixels("not an image".getBytes(UTF_8), 256).isEmpty)
  }

  test("resizePixels keeps the source's pixel kind: RGBA stays RGBA, grey stays grey") {
    import java.awt.image.BufferedImage
    def png(kind: Int, paint: BufferedImage => Unit): Array[Byte] = {
      val src = new BufferedImage(800, 300, kind)
      paint(src)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(src, "png", bos)
      bos.toByteArray
    }
    val rgba = png(BufferedImage.TYPE_INT_ARGB, im =>
      (0 until 400).foreach(x => (0 until 300).foreach(y => im.setRGB(x, y, 0xff336699))))
    val grey = png(BufferedImage.TYPE_BYTE_GRAY, im =>
      (0 until 800).foreach(x => im.getRaster.setSample(x, 0, 0, x % 256)))
    for ((src, channels) <- Seq(rgba -> 4L, grey -> 1L)) {
      val (out, w, h) = MediaKernel.resizePixels(src, 256).get
      assert((w, h) == ((256, 96)))
      val before = MediaKernel.decodeMeta(MediaRow("s", "image", src))
      val after = MediaKernel.decodeMeta(MediaRow("o", "image", out))
      assert(before.channels == channels && after.channels == channels, s"$before -> $after")
    }
    // the transparent right half stays transparent, the opaque left half opaque
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      MediaKernel.resizePixels(rgba, 256).get._1))
    assert((back.getRGB(255, 50) >>> 24) == 0 && (back.getRGB(10, 50) >>> 24) == 0xff)
  }

  test("decodeAll: mixed real-image + surrogate rows through the typed Dataset pass") {
    implicit val s = spark
    import s.implicits._
    val rows = Seq(
      MediaRow("real", "image", pngBytes(50, 40)),
      img, aud, vid)
    val got = MediaKernel.decodeAll(rows.toDS()).collect().map(m => m.url -> m).toMap
    assert((got("real").width, got("real").height, got("real").status) == ((50L, 40L, "ok")))
    assert(got("u1").status == "ok" && got("u2").width == -1L)
  }

  test("batched inference: bookkeeping marks real batch boundaries and the short tail") {
    implicit val s = spark
    import s.implicits._
    val rows = (0 until 10).map(i => MediaRow(s"u$i", "image", s"p$i".getBytes(UTF_8)))
    val got = MediaKernel.batchScoreAll(rows.toDS().repartition(1), 16, 4).collect()
    // 10 rows in one partition at batchSize 4 → batches of 4, 4, 2
    assert(got.groupBy(_.batch_idx).view.mapValues(_.length).toMap ==
      Map(0L -> 4, 1L -> 4, 2L -> 2))
    assert(got.filter(_.batch_idx == 2L).forall(_.batch_size == 2),
      "the short final batch must report its REAL packed size")
  }
}
