package graft.model

import java.sql.Timestamp

/** Core data model for the extraction engine.
  *
  * Mirrors the reference's data contracts (see
  * `/root/reference/src/models/schema.py:18-97` and
  * `/root/reference/src/core/extractor.py:18-24,89-95,232-237`) re-expressed
  * as Spark-encodable case classes. All of these get `Encoders.product`
  * automatically via `import spark.implicits._`.
  */

/** One row of the Common-Crawl-style pages table (the engine's input).
  * Schema per BASELINE.json `input_hint`:
  * (url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING).
  * `html` is the raw payload — despite the name it may carry PDF bytes or
  * HTML bytes; content sniffing routes each row.
  */
final case class PageRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** A positioned word on a page. Coordinates use the reference's convention
  * (pdfplumber): x grows right, y grows DOWN from the top of the page.
  * `y0` = top, `y1` = bottom. Cf. `/root/reference/src/core/extractor.py:89-95`.
  */
final case class Word(
    text: String,
    x0: Double,
    y0: Double,
    x1: Double,
    y1: Double,
    zone: String
)

/** A clustered text line. Cf. `/root/reference/src/core/extractor.py:232-237`. */
final case class Line(
    text: String,
    x0: Double,
    y0: Double,
    x1: Double,
    y1: Double,
    zone: String,
    wordCount: Int
)

/** A resolved extraction span: field name, extracted value, and the source
  * line's position. PDF branch: the line's page-point bbox. HTML branch
  * (no page geometry): x0/x1 are the source block's character range in
  * `extracted_text` (start/end-exclusive offsets) and y0 = y1 = the block
  * index — real addressable positions on both branches.
  * Replaces the reference's LLM per-field record
  * (`/root/reference/src/core/llm_orchestrator.py:244-247`).
  */
final case class Span(
    field: String,
    value: String,
    x0: Double,
    y0: Double,
    x1: Double,
    y1: Double
)

/** Output row of the extraction kernel — one per input page, errors included
  * (per-row error isolation mirroring `/root/reference/src/core/batch.py:78-88`:
  * a bad document NEVER kills the job/task).
  */
final case class ExtractResult(
    url: String,
    status: String, // "ok" | "error"
    error: String, // null when ok
    doctype: String, // "pdf" | "html" | "unknown"
    extracted_text: String, // the byte-identity invariant target
    spans: Seq[Span],
    unresolved: Seq[String], // fields with no resolved span — the trace
    // partition of `/root/reference/src/core/pipeline.py:92-95` (G4)
    pdf_hash: String, // sha256 hex of payload bytes (P1)
    cache_key: String, // extract:{label}:{pdf_hash}:{schema_hash} (P3)
    word_count: Int,
    line_count: Int,
    has_tables: Boolean,
    page_width: Double,
    page_height: Double,
    // per-row lineage, stamped by the job's mapPartitions wrapper (NOT by
    // the pure kernel): the extraction task's partition id, the payload
    // size, and the kernel wall time for THIS row. Committed with the
    // results, so per-partition metrics derive from the same single kernel
    // pass that produced the data (no second kernel execution, no
    // reconstructed values) — cf. the reference's per-document
    // `timings_seconds` (`/root/reference/src/core/pipeline.py:92-105`).
    partition_id: Int = -1,
    bytes_in: Long = 0L,
    kernel_ns: Long = 0L
)

/** Per-partition lineage/metrics row, written alongside results on every
  * snapshot commit (north_rule: "per-partition lineage + metrics").
  * Each extraction task's totals, equal to the aggregate of the per-row
  * lineage columns of the committed results increment — `partition_id`
  * is the extraction task's id, `bytes_in` the real payload bytes,
  * `kernel_us` the cumulative kernel wall time in microseconds (µs, not
  * ms: small partitions finish in sub-ms and must not round to zero).
  */
final case class PartitionMetrics(
    commit_id: String,
    partition_id: Int,
    rows_in: Long,
    rows_ok: Long,
    rows_error: Long,
    bytes_in: Long,
    kernel_us: Long,
    min_url: String,
    max_url: String
)

/** One field of the broadcast extraction ruleset (the deterministic
  * replacement for the reference's runtime `extraction_schema` dict,
  * `/root/reference/src/models/schema.py:32-40`).
  */
final case class FieldRule(name: String, description: String)
