package graft.media

import graft.Fixtures._
import graft.Gated
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Gated queries over the media kernel (`m_`; stub decode, real
  * plumbing): decode metadata, features, batch scoring, resize and frame
  * fan-out.
  */
object MediaQueries {

  private def mediaRows(s: SparkSession, dir: String): Dataset[MediaKernel.MediaRow] = {
    import s.implicits._
    docs(s, dir).select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, t) =>
        val kind = (id % 3) match { case 0 => "image"; case 1 => "audio"; case _ => "video" }
        MediaKernel.MediaRow(id.toString, kind, t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
  }

  private def hexInt(from1: Int, len: Int): String =
    s"CAST(('0x' || substr(md5(text), $from1, $len)) AS BIGINT)"

  /** SQL twin of [[MediaKernel.featuresAll]] at 16 dims over the media
    * rows: the CTE `q(doc_id, kind, fq)` of quantized unit-norm features,
    * shared by the feature and batch-score oracles. */
  private val featuresCte: String =
    """WITH d AS (SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
      |  list_transform(generate_series(0, 15), i ->
      |    2 * CAST(('0x' || substr(sha256(text), 2 * i + 1, 2)) AS BIGINT) - 255) AS d2
      |FROM documents),
      |n AS (SELECT doc_id, kind, d2,
      |  sqrt(CAST(list_sum(list_transform(d2, v -> v * v)) AS DOUBLE)) AS nrm FROM d),
      |q AS (SELECT doc_id, kind,
      |  list_transform(d2, v -> CAST(floor(CAST(CAST(v / nrm AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT)) AS fq
      |FROM n)""".stripMargin

  val all: Seq[Gated] = Seq(
    // size_bytes is the UTF-8 BYTE length (octet_length over encoded text,
    // not character length), and empty payloads mirror decodeMeta's error
    // row (-1 dims, status='error') — the gate stays valid on non-ASCII or
    // empty-text corpora, not just the current ASCII fixture set
    Gated("m_media_meta", (s, dir) =>
      MediaKernel.decodeAll(mediaRows(s, dir))(s)
        .select(col("url").cast("long").as("doc_id"), col("kind"), col("size_bytes"),
          col("width"), col("height"), col("channels"), col("duration_ms"),
          col("content_md5"), col("status")), Some(
      s"""WITH b AS (SELECT doc_id, text, CAST(octet_length(encode(text)) AS BIGINT) AS nb FROM documents)
         |SELECT doc_id,
         |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |  nb AS size_bytes,
         |  CAST(CASE WHEN nb = 0 THEN -1 WHEN doc_id % 3 = 1 THEN -1 ELSE 320 + ${hexInt(1, 6)} % 1024 END AS BIGINT) AS width,
         |  CAST(CASE WHEN nb = 0 THEN -1 WHEN doc_id % 3 = 1 THEN -1 ELSE 240 + ${hexInt(7, 6)} % 768 END AS BIGINT) AS height,
         |  CAST(CASE WHEN nb = 0 THEN -1 WHEN doc_id % 3 = 1 THEN 1 + ${hexInt(13, 2)} % 2 ELSE 3 END AS BIGINT) AS channels,
         |  CAST(CASE WHEN nb = 0 THEN -1 WHEN doc_id % 3 = 0 THEN -1 ELSE 1000 + ${hexInt(15, 6)} % 600000 END AS BIGINT) AS duration_ms,
         |  md5(text) AS content_md5,
         |  CASE WHEN nb = 0 THEN 'error' ELSE 'ok' END AS status
         |FROM b""".stripMargin)),
    // M2: digest-derived unit-norm feature vector; components quantized to
    // longs (floor of the FLOAT value × 10^6) so the oracle compare hashes integers
    Gated("m_features", (s, dir) => {
      import s.implicits._
      MediaKernel.featuresAll(mediaRows(s, dir), 16)(s)
        .map { mf =>
          val q = mf.feature.map(f => math.floor(f.toDouble * 1e6).toLong)
          (mf.url.toLong, mf.kind, q(0), q(8), q(15), q.sum)
        }
        .toDF("doc_id", "kind", "f0_q", "f8_q", "f15_q", "fsum_q")
    }, Some(
      featuresCte + """
        |SELECT doc_id, kind, fq[1] AS f0_q, fq[9] AS f8_q, fq[16] AS f15_q,
        |       CAST(list_sum(fq) AS BIGINT) AS fsum_q
        |FROM q""".stripMargin)),
    // batched inference (stub model, real batching plumbing): one
    // vectorized call per in-partition batch over a reused buffer; the
    // batch bookkeeping is projected away because scores are proven
    // batch-size-invariant (MediaSpec) — batching is execution, not
    // semantics
    // batched-inference twin: same quantized features as m_features, then
    // the stub model's integer weighted sum — the weight formula is
    // MediaKernel.scoreWeight verbatim
    Gated("m_batch_score", (s, dir) => {
      import s.implicits._
      MediaKernel.batchScoreAll(mediaRows(s, dir), 16, 32)(s)
        .map(b => (b.url.toLong, b.kind, b.score_q))
        .toDF("doc_id", "kind", "score_q")
    }, Some(
      featuresCte + """
        |SELECT doc_id, kind,
        |  CAST(list_sum(list_transform(generate_series(0, 15), i ->
        |    fq[i + 1] * (((i * 2654435761 + 97531) % 2003) - 1001))) AS BIGINT) AS score_q
        |FROM q""".stripMargin)),
    // M4: aspect-preserving integer resize of the decoded dimensions
    Gated("m_resize", (s, dir) => {
      import s.implicits._
      MediaKernel.decodeAll(mediaRows(s, dir))(s)
        .map { m =>
          val (w, h) = MediaKernel.resizeDims(m, 256)
          (m.url.toLong, m.width, m.height, w, h)
        }
        .toDF("doc_id", "width", "height", "out_w", "out_h")
    }, Some {
      val w = s"CASE WHEN octet_length(encode(text)) = 0 THEN -1 WHEN doc_id % 3 = 1 THEN -1 ELSE 320 + ${hexInt(1, 6)} % 1024 END"
      val h = s"CASE WHEN octet_length(encode(text)) = 0 THEN -1 WHEN doc_id % 3 = 1 THEN -1 ELSE 240 + ${hexInt(7, 6)} % 768 END"
      s"""WITH m AS (SELECT doc_id, CAST($w AS BIGINT) AS width, CAST($h AS BIGINT) AS height FROM documents)
         |SELECT doc_id, width, height,
         |  CAST(CASE WHEN width <= 0 OR height <= 0 THEN width
         |            WHEN width <= 256 AND height <= 256 THEN width
         |            WHEN width >= height THEN 256
         |            ELSE greatest(1, width * 256 // height) END AS BIGINT) AS out_w,
         |  CAST(CASE WHEN width <= 0 OR height <= 0 THEN height
         |            WHEN width <= 256 AND height <= 256 THEN height
         |            WHEN width >= height THEN greatest(1, height * 256 // width)
         |            ELSE 256 END AS BIGINT) AS out_h
         |FROM m""".stripMargin
    }),
    // M3: frame fan-out (typed flatMap). Frame identity goes through
    // md5(lower(hex(bytes))) — byte-exact and engine-portable (DuckDB 1.0
    // cannot slice BLOBs, but hex strings slice at 2 chars/byte)
    Gated("m_frames", (s, dir) =>
      MediaKernel.framesAll(mediaRows(s, dir), 4)(s)
        .select(col("url").cast("long").as("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          length(col("frame")).cast("long").as("frame_bytes"),
          md5(lower(hex(col("frame")))).as("frame_hex_md5")), Some(
      """WITH b AS (SELECT doc_id, lower(hex(encode(text))) AS hx,
        |                  CAST(octet_length(encode(text)) AS BIGINT) AS len FROM documents),
        |p AS (SELECT doc_id, hx, len, greatest(1, len // 4) AS step,
        |             unnest(generate_series(0, least(4, len) - 1)) AS i FROM b)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |       CAST(least(len, i * step + step) - i * step AS BIGINT) AS frame_bytes,
        |       md5(substr(hx, CAST(2 * i * step + 1 AS BIGINT),
        |                  CAST(2 * (least(len, i * step + step) - i * step) AS BIGINT))) AS frame_hex_md5
        |FROM p""".stripMargin))
  )
}
