package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One gated query: `run` builds its result over an sf fixture directory,
  * and `oracle`, where DuckDB can express it, is the SQL over the same
  * `documents` / `embeddings` / `events` tables that must return the same
  * rows. Oracle-free entries (kernel or xxhash64-based ops DuckDB cannot
  * express) get a rows-only check and are covered by ScalaTest
  * goldens instead. Column names and value semantics are kept
  * engine-portable by construction (integer arithmetic, md5/sha256 hex,
  * plain string replacement; see [[graft.text.TextAnalytics]]).
  */
final case class Gated(name: String, run: (SparkSession, String) => DataFrame, oracle: Option[String])

/** Fixtures that several query families share: the fixture tables, the
  * synthetic messy url and its canonical decomposition in SQL, and the SQL
  * twins of whitespace tokenisation, the text fingerprint and word-8-grams.
  */
private[graft] object Fixtures {

  def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Deterministic messy-url synthesis from doc_id (mirrored verbatim in
    * the oracle SQL): mixed-case scheme and host, explicit default ports,
    * tracking query parameters, fragments — the url spellings a crawl
    * actually sees, exercising every [[UrlOps.canonicalize]] rule.
    */
  def synthUrl: Column = {
    val id = col("doc_id")
    val isHttps = id % 7 === 0 || id % 2 === 0
    val scheme = when(id % 7 === 0, lit("HTTPS")).when(id % 2 === 0, lit("https")).otherwise(lit("http"))
    val sub = when(id % 2 === 0, lit("WWW.")).otherwise(lit("cdn."))
    val tld = when(id % 3 === 0, lit(".COM")).when(id % 3 === 1, lit(".ORG")).otherwise(lit(".NET"))
    val hostPart = concat(sub, lit("Site"), (id % 13).cast("string"), tld)
    val port = when(id % 5 === 0, when(isHttps, lit(":443")).otherwise(lit(":80"))).otherwise(lit(""))
    val path = concat(lit("/Docs/Page"), (id % 50).cast("string"))
    val query = when(id % 4 === 0, lit("?a=1&utm_source=feed&b=2"))
      .when(id % 4 === 1, lit("?utm_campaign=x"))
      .when(id % 4 === 2, concat(lit("?id="), id.cast("string")))
      .otherwise(lit(""))
    val frag = when(id % 3 === 0, lit("#Section-2")).otherwise(lit(""))
    concat(scheme, lit("://"), hostPart, port, path, query, frag)
  }

  /** The documents as indexed WARC archives (8 gzip shards) under their
    * [[synthUrl]]s, shared by the CDX index and point-fetch queries. */
  def indexedArchives(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(
      synthUrl.as("url"),
      (lit(1700000000000L) + col("doc_id") * 1000L).as("ts_ms"),
      lit("text/html").as("ct"),
      col("text").cast("binary").as("payload"))
    graft.warc.WarcShards.toArchivesIndexed(base, "url", "ts_ms", "ct", "payload", shards = 8, gzip = true)
  }

  /** SQL twin of whitespace tokenisation: `text` trimmed, split on runs of
    * whitespace. */
  val tok = "regexp_split_to_array(trim(text), '\\s+')"

  /** SQL twin of [[TextAnalytics.fingerprint]] over the `text` column,
    * shared by the fingerprint and incremental-dedup oracles.
    */
  val fpSql = "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

  /** Shared CTE chain: the synthetic messy url (twin of [[synthUrl]]) and
    * its canonical decomposition (twin of [[UrlOps.canonicalize]]). The
    * final stage `p5` exposes doc_id, url, text, scheme, host, path, q2
    * (cleaned query) and domain.
    */
  val urlCte =
    """u AS (SELECT doc_id, text,
      |  (CASE WHEN doc_id % 7 = 0 THEN 'HTTPS' WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) ||
      |  '://' || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'cdn.' END) ||
      |  'Site' || CAST(doc_id % 13 AS VARCHAR) ||
      |  (CASE WHEN doc_id % 3 = 0 THEN '.COM' WHEN doc_id % 3 = 1 THEN '.ORG' ELSE '.NET' END) ||
      |  (CASE WHEN doc_id % 5 = 0 THEN (CASE WHEN doc_id % 7 = 0 OR doc_id % 2 = 0 THEN ':443' ELSE ':80' END) ELSE '' END) ||
      |  '/Docs/Page' || CAST(doc_id % 50 AS VARCHAR) ||
      |  (CASE doc_id % 4 WHEN 0 THEN '?a=1&utm_source=feed&b=2' WHEN 1 THEN '?utm_campaign=x'
      |                   WHEN 2 THEN '?id=' || CAST(doc_id AS VARCHAR) ELSE '' END) ||
      |  (CASE WHEN doc_id % 3 = 0 THEN '#Section-2' ELSE '' END) AS url
      |FROM documents),
      |p1 AS (SELECT doc_id, text, url, regexp_replace(url, '#.*$', '') AS nf FROM u),
      |p2 AS (SELECT doc_id, text, url,
      |  lower(split_part(nf, '://', 1)) AS scheme,
      |  CASE WHEN instr(nf, '://') = 0 THEN nf ELSE substr(nf, instr(nf, '://') + 3) END AS rest FROM p1),
      |p3 AS (SELECT *, split_part(split_part(rest, '/', 1), '?', 1) AS hostport,
      |  substr(rest, length(split_part(split_part(rest, '/', 1), '?', 1)) + 1) AS pathq FROM p2),
      |p4 AS (SELECT *,
      |  CASE WHEN scheme = 'https' THEN regexp_replace(lower(hostport), ':443$', '')
      |       WHEN scheme = 'http' THEN regexp_replace(lower(hostport), ':80$', '')
      |       ELSE lower(hostport) END AS host,
      |  split_part(pathq, '?', 1) AS path,
      |  CASE WHEN contains(pathq, '?') THEN substr(pathq, length(split_part(pathq, '?', 1)) + 2) ELSE '' END AS q
      |FROM p3),
      |p5 AS (SELECT *,
      |  regexp_replace(regexp_replace('&' || q || '&', '&(utm_[^&]*|gclid=[^&]*|fbclid=[^&]*)', '', 'g'), '^&+|&+$', '', 'g') AS q2,
      |  regexp_extract(regexp_replace(host, ':[0-9]+$', ''), '([^.]+\.[^.]+)$', 1) AS domain FROM p4)""".stripMargin

  /** Space-joined word-8-gram over a token-array column `ws` at position
    * `i` — the SQL twin of [[Dedup.shingles]] at n=8, shared by every
    * passage-level oracle (decontamination, frequent grams, export).
    */
  val gram8 =
    "ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]"
}
