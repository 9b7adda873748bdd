package graft.table

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.Base64

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, MapType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

/** Iceberg-style committed-snapshot table on a plain filesystem.
  *
  * No Iceberg jars ship in this sandbox (verified, SURVEY §7.0), so the
  * commit-level checkpointing the north_rule demands is built from scratch
  * with the same semantics Iceberg's spec describes publicly:
  *
  *  - data files live under `root/data/<commitId>/` (parquet);
  *  - a snapshot is a manifest `root/_snapshots/vNNNNNNNN.manifest` listing
  *    ALL entries visible at that version (full-manifest model, so a
  *    reader needs exactly one file) plus every commit id ever published
  *    (streaming replay detection must survive compaction — see below);
  *  - commits are atomic AND optimistically concurrent (Iceberg's commit
  *    model): the manifest is written to a temp path, then published with
  *    a hard-link create-if-absent — the POSIX CAS. A crash mid-write
  *    leaves the previous snapshot intact and orphaned data dirs invisible
  *    (resume semantics: a killed run never exposes partial output — the
  *    reference's durable analog of its Redis result cache,
  *    `/root/reference/src/core/cache.py:82-135`, without TTL). A
  *    concurrent writer that takes the same version makes the publish
  *    FAIL, and the loser re-derives its snapshot against the winner's
  *    manifest and retries (bounded by [[MaxCommitAttempts]]) — so a
  *    streaming ingest and a batch backfill can share one table without a
  *    lost-commit race (SnapshotTableSpec interleaves two appenders ×10
  *    and asserts all 20 commits versioned linearly);
  *  - readers resolve `latestVersion` and read only manifests ≤ it, so
  *    re-running after a kill reprocesses only uncommitted rows;
  *  - LEVELED COMPACTION bounds reader cost: per-epoch streaming commits
  *    would otherwise grow the parquet union linearly with epochs. When a
  *    level accumulates `compactFanIn` dirs they are merged into ONE dir at
  *    the next level (`data/compacted-<level>-<version>-<seq>`; no leading
  *    underscore — Spark file listings treat `_`/`.`-prefixed paths as
  *    hidden metadata), LSM-style: dir count stays ≤
  *    fanIn · log_fanIn(commits) (~15 dirs at 10^5 epochs) and each row is
  *    rewritten only O(log_fanIn(commits)) times. Merged source dirs stay
  *    on disk — older manifests still reference them and [[readCommit]]
  *    reads a fresh increment from its own dir — they just leave the
  *    current manifest. Compaction runs BEFORE the manifest move, so a
  *    crash mid-compact leaves the previous snapshot intact;
  *  - FILE STATISTICS / DATA SKIPPING (Iceberg manifest `lower_bound`/
  *    `upper_bound` analog): when `statsCol` names a STRING column, every
  *    published data dir carries its min/max of that column in the
  *    manifest, and [[readRange]] prunes whole dirs whose range cannot
  *    intersect the predicate — a point lookup on a 10^12-row table whose
  *    writer clusters by url touches only the dirs whose url range covers
  *    it, WITHOUT opening a single parquet footer. Dirs with no recorded
  *    stats (empty increments, missing column) are never pruned —
  *    skipping is an optimization, absence is always safe. Each
  *    stat-tracked dir additionally carries a BLOOM SIDECAR
  *    (`_graft.bloom`, the Iceberg-puffin analog — sketches live next to
  *    the data, never in the manifest) so [[readPoint]] also skips dirs
  *    whose RANGE covers the value but whose bloom proves it absent — the
  *    pruning min/max cannot do when writers don't cluster by the lookup
  *    column;
  *  - EQUALITY DELETES / UPSERT (Iceberg v2 merge-on-read analog): every
  *    entry carries the sequence number (= snapshot version) it was
  *    published at. [[upsert]] writes the new rows as a normal data dir
  *    plus a slim parquet of their key columns under `root/deletes/`, and
  *    a row is live iff no delete with a STRICTLY LARGER sequence matches
  *    its key — so a re-crawled url replaces every earlier row for that
  *    url while rows published together with the delete survive.
  *    [[deleteKeys]] publishes a delete-only commit (takedown/GDPR).
  *    Readers apply deletes with one slim anti-ish join (delete keys are
  *    tiny next to the corpus; AQE broadcasts them); compaction APPLIES
  *    all current deletes while rewriting (copy-on-write at merge time,
  *    the merged dir takes the publishing version as its sequence) and
  *    prunes delete entries that no remaining entry is older than, so a
  *    compacted table pays zero read-time delete cost. Delete parquet
  *    files stay on disk forever — older manifests reference them, which
  *    keeps TIME TRAVEL exact across upserts;
  *  - SCHEMA EVOLUTION (additive, Iceberg model): every manifest that
  *    lists data records the unified table schema, merged at commit time
  *    ([[mergeSchemas]]: new columns append nullable, dropped columns
  *    stay, type changes are rejected). Readers pin the scan to the RECORDED schema, so dirs
  *    written before a column existed read null for it without any
  *    footer-merging pass, and [[readAt]] returns each version under the
  *    schema it was published with. Compaction materializes evolution —
  *    merged dirs physically carry every column;
  *  - PLAIN COLUMNS: every Spark write of a data dir (append, upsert,
  *    compaction) builds no parquet dictionary for the columns in
  *    `plainCols`. For a column whose values barely repeat, parquet-mr
  *    builds the dictionary and then drops it when the first page shows it
  *    does not pay (the chunk is written PLAIN anyway), so naming such a
  *    column saves the hashing and leaves the written bytes as they were;
  *  - LOCAL I/O IN-PROCESS: every Spark write of this table (data dirs,
  *    delete dirs, [[writeUncommitted]]) carries `LocalIo`, two write
  *    options that Spark copies into that write job's Hadoop conf, which
  *    its tasks receive too: `fs.file.impl` names [[LocalFs]], and
  *    `fs.file.impl.disable.cache` keeps the session's cached stock `file:`
  *    instance from winning. Without Hadoop's native library the stock
  *    local filesystem forks a `chmod` per `mkdirs` and `create` (about 12
  *    per commit, 2.4–4.1 ms each); [[LocalFs]] sets the same modes
  *    through NIO. Files, bytes, modes and `.crc` sidecars are unchanged,
  *    and no other write in the session is affected. Manifests, sidecars
  *    and driver-written rows go through java.nio directly.
  */
final class SnapshotTable(
    val root: String,
    val compactFanIn: Int = 8,
    val statsCol: Option[String] = None,
    val plainCols: Set[String] = Set.empty) {
  private val dataDir: Path = Paths.get(root, "data")
  private val delDir: Path = Paths.get(root, "deletes")
  private val snapDir: Path = Paths.get(root, "_snapshots")

  /** A committed data dir: `seq` is the snapshot version that published it;
    * `statMin`/`statMax` bound `statsCol` within the dir when recorded;
    * `rows` is the dir's exact row count (post any delete-applying
    * compaction).
    */
  final case class Entry(dir: String, seq: Int, statMin: Option[String],
                         statMax: Option[String], rows: Long)

  /** A committed equality-delete file: parquet of key columns; applies to
    * rows in entries with a strictly smaller `seq`.
    */
  final case class Del(dir: String, seq: Int)

  final case class Snapshot(
      version: Int, entries: Vector[Entry], deletes: Vector[Del],
      rowCount: Long, commitIds: Vector[String],
      schemaJson: Option[String] = None) {
    def dataDirs: Vector[String] = entries.map(_.dir)
    /** The unified table schema recorded at this version (SCHEMA
      * EVOLUTION — see [[mergeSchemas]]); recorded whenever the snapshot
      * lists data.
      */
    def schema: Option[StructType] =
      schemaJson.map(j => DataType.fromJson(j).asInstanceOf[StructType])
  }

  /** The snapshot before the first commit: what every commit derives from
    * on an empty table.
    */
  private val Empty = Snapshot(0, Vector.empty, Vector.empty, 0L, Vector.empty)

  /** Line-3 prefix of the commit-id history line. */
  private val IdsMarker = "ids:"

  /** Line-4 prefix carrying the unified table schema (b64 of the
    * StructType JSON). Absent only while the table has never held data
    * (a delete-only commit on an empty table records no schema).
    */
  private val SchemaMarker = "schema:"

  private def b64(s: String): String = Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
  private def unb64(s: String): String = new String(Base64.getDecoder.decode(s), UTF_8)

  /** The manifest text of `s` — line 1 version, line 2 rowCount, line 3
    * "ids:" + comma-joined commit-id history, optional line 4 "schema:" +
    * b64(schema JSON), then one line per entry:
    *   data dir:  dir \t seq [\t b64(min) \t b64(max)] \t rows
    *   delete:    D \t dir \t seq
    * [[parseManifest]] is its exact inverse.
    */
  private[graft] def render(s: Snapshot): String =
    (Vector(s.version.toString, s.rowCount.toString, IdsMarker + s.commitIds.mkString(",")) ++
      s.schemaJson.map(j => SchemaMarker + b64(j)) ++
      s.entries.map { e =>
        val stats = (e.statMin, e.statMax) match {
          case (Some(mn), Some(mx)) => s"\t${b64(mn)}\t${b64(mx)}"
          case _ => ""
        }
        s"${e.dir}\t${e.seq}$stats\t${e.rows}"
      } ++
      s.deletes.map(d => s"D\t${d.dir}\t${d.seq}")).mkString("\n")

  /** Parse a manifest [[render]] wrote; any other line is rejected. */
  private[graft] def parseManifest(text: String): Snapshot = {
    val lines = text.split("\n").toVector
    require(lines.length >= 3 && lines(2).startsWith(IdsMarker),
      "line 3 must carry the \"ids:\" commit-id history")
    val ids = lines(2).stripPrefix(IdsMarker).split(",", -1).toVector.filter(_.nonEmpty)
    val schemaJson = lines.lift(3).filter(_.startsWith(SchemaMarker))
      .map(l => unb64(l.stripPrefix(SchemaMarker)))
    val entries = Vector.newBuilder[Entry]
    val dels = Vector.newBuilder[Del]
    val first = if (schemaJson.isDefined) 4 else 3
    lines.drop(first).zipWithIndex.foreach { case (line, i) =>
      line.split("\t", -1) match {
        case Array("D", dir, seq) => dels += Del(dir, seq.toInt)
        case Array(dir, seq, rows) => entries += Entry(dir, seq.toInt, None, None, rows.toLong)
        case Array(dir, seq, mn, mx, rows) =>
          entries += Entry(dir, seq.toInt, Some(unb64(mn)), Some(unb64(mx)), rows.toLong)
        case _ => throw new IllegalArgumentException(s"malformed line ${first + i + 1}: '$line'")
      }
    }
    val s = Snapshot(lines(0).toInt, entries.result(), dels.result(), lines(1).toLong, ids, schemaJson)
    require(s.entries.isEmpty || schemaJson.isDefined, "data entries without a schema line")
    s
  }

  /** Read and parse one manifest file; a malformed one fails naming it. */
  private def load(p: Path): Snapshot =
    try parseManifest(new String(Files.readAllBytes(p), UTF_8))
    catch {
      case e: IllegalArgumentException => // NumberFormatException included
        throw new IllegalStateException(s"malformed manifest $p: ${e.getMessage}", e)
    }

  private def manifestPath(v: Int): Path = snapDir.resolve(f"v$v%08d.manifest")

  /** All published snapshot versions, ascending. Manifests are immutable
    * and compaction never touches them, so the full history stays
    * listable until [[expireBefore]] explicitly drops a prefix of it.
    */
  def versions(): Vector[Int] =
    list(snapDir).map(_.getFileName.toString)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") => n.substring(1, 9).toInt }
      .sorted

  /** Children of `dir` (empty when it does not exist). Files.list holds an
    * open directory fd until closed — streaming polls [[versions]] per
    * micro-batch, so an unclosed stream leaks fds.
    */
  private def list(dir: Path): Vector[Path] =
    if (!Files.isDirectory(dir)) Vector.empty
    else {
      val stream = Files.list(dir)
      try stream.iterator().asScala.toVector finally stream.close()
    }

  def latest(): Option[Snapshot] = versions().lastOption.map(v => load(manifestPath(v)))

  def isEmpty: Boolean = latest().isEmpty

  /** Has `commitId` ever been published? The COMMIT-ID history answers
    * this, not the dir list: a compacted epoch's dir leaves the manifest,
    * but its commit must still be recognized as done by a streaming replay.
    * (Physical dir existence is NOT a safe proxy: a crash between data
    * write and manifest move leaves an uncommitted dir on disk.)
    */
  def hasCommit(commitId: String): Boolean =
    latest().exists(_.commitIds.contains(commitId))

  /** Did commit `commitId` write a data dir that is still on disk? True
    * for appends and upserts (empty ones included); false for delete-only
    * and rollback commits, and once [[expireBefore]] removed the dir.
    */
  def appended(commitId: String): Boolean = Files.isDirectory(dataDir.resolve(commitId))

  /** Merge-on-read: live rows of `entries` under `s`'s deletes. A row from
    * an entry with sequence q is dropped iff a delete with sequence > q
    * holds its key. One slim join — the delete side is key columns only,
    * tiny next to the corpus, so AQE broadcasts it; when no deletes remain
    * (fresh tables, post-compaction) this is a plain multi-dir parquet
    * scan with zero overhead.
    */
  private def readEntries(spark: SparkSession, s: Snapshot, entries: Vector[Entry]): DataFrame = {
    if (s.deletes.isEmpty) return scan(spark, s, entries.map(_.dir))
    val keyCols = spark.read.parquet(s.deletes.head.dir).columns.toSeq
    val data = entries
      .map(e => scan(spark, s, Seq(e.dir)).withColumn("_graft_seq", lit(e.seq)))
      .reduce(_ unionByName _)
    val dels = s.deletes
      .map(d => spark.read.parquet(d.dir).withColumn("_graft_del_seq", lit(d.seq)))
      .reduce(_ unionByName _)
      .groupBy(keyCols.map(col): _*)
      .agg(max(col("_graft_del_seq")).as("_graft_del_seq"))
    data.join(dels, keyCols, "left")
      .where(col("_graft_del_seq").isNull || col("_graft_del_seq") <= col("_graft_seq"))
      .drop("_graft_seq", "_graft_del_seq")
  }

  /** SCHEMA EVOLUTION read path: a scan of `dirs` pinned to the schema `s`
    * recorded. Spark's parquet reader fills columns a file predates with
    * null, so dirs written before an added column read correctly WITHOUT
    * opening any footer for schema discovery (Iceberg's
    * schema-from-metadata model, not mergeSchema's schema-from-every-footer).
    */
  private def scan(spark: SparkSession, s: Snapshot, dirs: Seq[String]): DataFrame =
    spark.read.schema(schemaOf(s)).parquet(dirs: _*)

  /** The schema `s` records — present whenever `s` lists data (the parser
    * rejects a manifest that lists data without one).
    */
  private def schemaOf(s: Snapshot): StructType = s.schema.getOrElse(
    throw new IllegalStateException(s"$root v${s.version} records no schema"))

  /** Read the committed table (all live rows). */
  def read(spark: SparkSession): Option[DataFrame] =
    latest().filter(_.entries.nonEmpty).map(s => readEntries(spark, s, s.entries))

  /** METADATA-ONLY live row count (Iceberg's `count(*)`-from-manifests
    * analog): the sum of per-entry recorded counts — answered without
    * touching a single data file, the way `SELECT count(*)` on a
    * 10^12-row table should be. Defined only when it is EXACT: no
    * un-applied equality deletes may be outstanding (their effect is
    * unknown without a scan; compaction applies them, after which the
    * merged entry's recorded count is correct again). None ⇒ fall back
    * to `read(spark).count()`.
    */
  def fastCount: Option[Long] =
    latest().filter(_.deletes.isEmpty).map(_.entries.map(_.rows).sum)

  /** Entries of the latest snapshot whose `[statMin, statMax]` could hold a
    * `statsCol` value in `[lo, hi]` (inclusive, UTF-8 byte order — the
    * order the stats were taken in and the row-level predicate compares
    * in; `String`'s UTF-16 order differs past U+FFFF), plus the total — the
    * data-skipping decision, exposed so callers and tests can observe
    * pruning. Entries without stats always survive.
    */
  def pruneRange(lo: String, hi: String): (Vector[Entry], Int) = {
    val s = latest().map(_.entries).getOrElse(Vector.empty)
    def utf8(v: String) = UTF8String.fromString(v)
    val (l, h) = (utf8(lo), utf8(hi))
    val kept = s.filter { e =>
      (e.statMin, e.statMax) match {
        case (Some(mn), Some(mx)) => !(utf8(mx).binaryCompare(l) < 0 || utf8(mn).binaryCompare(h) > 0)
        case _ => true
      }
    }
    (kept, s.size)
  }

  /** Range read over `statsCol` with manifest-level data skipping: only
    * dirs whose recorded range intersects `[lo, hi]` are opened, the
    * row-level predicate is applied on top (dirs are pruned by RANGE, not
    * filtered), and equality deletes still apply. None when the table is
    * empty, no `statsCol` is configured, or nothing intersects.
    */
  def readRange(spark: SparkSession, lo: String, hi: String): Option[DataFrame] = {
    val c = statsCol.getOrElse(
      throw new IllegalStateException("readRange requires a statsCol-configured table"))
    latest().flatMap { s =>
      val (kept, _) = pruneRange(lo, hi)
      if (kept.isEmpty) None
      else Some(readEntries(spark, s, kept).where(col(c).between(lo, hi)))
    }
  }

  /** TIME TRAVEL: the snapshot exactly as published at `version`. Works for
    * every version ever committed — manifests are immutable and compaction
    * leaves merged SOURCE dirs (and delete files) on disk — so a training
    * run that recorded its corpus version can re-read the byte-identical
    * input later, after any number of further appends, upserts, and
    * compactions (until [[expireBefore]] deliberately retires it). None
    * if the version was never published.
    */
  def snapshotAt(version: Int): Option[Snapshot] = {
    val p = manifestPath(version)
    if (Files.isRegularFile(p)) Some(load(p)) else None
  }

  /** Read the table as of `version` (see [[snapshotAt]]), with that
    * version's deletes applied.
    */
  def readAt(spark: SparkSession, version: Int): Option[DataFrame] =
    snapshotAt(version).filter(_.entries.nonEmpty).map(s => readEntries(spark, s, s.entries))

  /** INCREMENTAL APPEND READ (Iceberg incremental-scan analog): exactly
    * the rows appended by commits AFTER `sinceVersion`, read straight
    * from the per-commit data dirs — which stay on disk even when
    * compaction immediately merges them out of the manifest — pinned to
    * the CURRENT unified schema so the frame aligns with a full read.
    * This is the resume primitive a 10^12-row pipeline consumes: process
    * to version V, record V, and the next run reads only (V, latest]
    * instead of re-scanning the table. Equality deletes are deliberately
    * NOT applied — this is the append STREAM, not a table diff (the same
    * contract Iceberg's incremental read documents); delete-only commits
    * contribute nothing. Commit ids must be unique per table (hasCommit
    * already assumes this). None when nothing was appended since.
    *
    * `untilVersion` bounds the read to commits ≤ it — the consumer
    * protocol for concurrent writers: read `latest().version` FIRST,
    * pass it here, record it as processed. Without the bound, an append
    * landing between those two steps would be folded into this read but
    * not into the recorded watermark, and the next incremental read
    * would double-count it (additive incremental views corrupt
    * silently). Schema is pinned to the CURRENT unified schema either
    * way — evolution is additive, so a bounded read under a newer schema
    * only gains nullable columns.
    */
  def readAppendsSince(spark: SparkSession, sinceVersion: Int,
                       untilVersion: Int = Int.MaxValue): Option[DataFrame] =
    latest().flatMap { cur =>
      val appends = versions().filter(v => v > sinceVersion && v <= untilVersion)
        .flatMap(snapshotAt)
        .flatMap(s => s.commitIds.lastOption.map(dataDir.resolve(_))
          .filter(Files.isDirectory(_)).map(d => (s, d.toString)))
      if (appends.isEmpty) None
      else {
        // a table rolled back to before its first append records no schema;
        // the newest append's own schema then stands in for the current one
        val pin = if (cur.schemaJson.isDefined) cur else appends.last._1
        Some(scan(spark, pin, appends.map(_._2)))
      }
    }

  /** The rows commit `commitId` appended, read from its own data dir
    * (which stays on disk after compaction merges it out of the manifest),
    * pinned to the current schema. The commit must be published.
    */
  def readCommit(spark: SparkSession, commitId: String): DataFrame = {
    val cur = latest().filter(_.commitIds.contains(commitId)).getOrElse(
      throw new IllegalArgumentException(s"commit '$commitId' is not published in $root"))
    scan(spark, cur, Seq(dataDir.resolve(commitId).toString))
  }

  /** SNAPSHOT DIFF (the lineage-audit read: "what changed between the
    * corpus version training run A pinned and the one run B pinned?"):
    * classify every key as `added` / `deleted` / `updated` between two
    * published versions, comparing `valueCols` content via an md5-of-JSON
    * fingerprint computed map-side. Unchanged keys are OMITTED — on a
    * 10^12-row table the diff is delta-sized, the full key space is not.
    * Contract: the table is key-unique under `keyCols` (the same
    * discipline [[upsert]]/[[deleteKeys]] assume); both versions must
    * have been published ([[snapshotAt]]); an empty side (all rows
    * deleted) diffs as all-added / all-deleted.
    *
    * Scale shape: each side reduces to slim (key, fp16) rows before the
    * ONE key-keyed full-outer join — values never move, and the join is
    * the unavoidable cost of an exact diff (Iceberg's changelog scan
    * reads per-commit deltas instead; that is [[readAppendsSince]], which
    * deliberately does NOT apply deletes).
    */
  def diffVersions(spark: SparkSession, fromVersion: Int, toVersion: Int,
                   keyCols: Seq[String], valueCols: Seq[String]): Option[DataFrame] = {
    require(keyCols.nonEmpty, "diffVersions requires at least one key column")
    def slim(v: Int, fpName: String): Option[DataFrame] =
      snapshotAt(v).map { snap =>
        def project(df: DataFrame): DataFrame =
          df.select(keyCols.map(col) :+
            md5(to_json(struct(valueCols.map(col): _*))).as(fpName): _*)
        readAt(spark, v) match {
          case Some(df) => project(df)
          case None => // published but empty (everything deleted/compacted)
            snap.schema match {
              case Some(st) => project(spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st))
              case None => spark.emptyDataFrame // never held data: no schema recorded
            }
        }
      }
    (slim(fromVersion, "_graft_fp_a"), slim(toVersion, "_graft_fp_b")) match {
      case (Some(a0), Some(b0)) =>
        require(a0.columns.nonEmpty || b0.columns.nonEmpty,
          s"diffVersions($fromVersion, $toVersion): neither version ever held data " +
            "— no column types to diff under")
        def orEmpty(df: DataFrame, like: DataFrame, fpName: String): DataFrame =
          if (df.columns.nonEmpty) df
          else like.limit(0).withColumnRenamed(like.columns.last, fpName)
        val a = orEmpty(a0, b0, "_graft_fp_a")
        val b = orEmpty(b0, a0, "_graft_fp_b")
        Some(a.join(b, keyCols, "full_outer")
          .withColumn("change",
            when(col("_graft_fp_a").isNull, lit("added"))
              .when(col("_graft_fp_b").isNull, lit("deleted"))
              .when(col("_graft_fp_a") =!= col("_graft_fp_b"), lit("updated")))
          .where(col("change").isNotNull)
          .select(keyCols.map(col) :+ col("change"): _*))
      case _ => None
    }
  }

  /** SNAPSHOT EXPIRY (Iceberg `expire_snapshots` analog — the maintenance
    * op that stops storage growing with history): drop every manifest
    * with version < `keepFrom`, then delete the data/delete dirs no
    * retained manifest needs. Retained = every entry and delete dir of a
    * kept manifest PLUS each kept version's own commit dir (so
    * [[readAppendsSince]] keeps working across the retained range even
    * where compaction merged a commit out of its manifest). Time travel
    * before `keepFrom` is gone afterwards — that is the point. Streaming
    * replay detection survives: the commit-id HISTORY lives in the latest
    * manifest, not in the expired files. Returns
    * (manifests deleted, dirs deleted).
    */
  def expireBefore(keepFrom: Int): (Int, Int) = {
    val (drop, keep) = versions().partition(_ < keepFrom)
    if (drop.isEmpty || keep.isEmpty) return (0, 0)
    val referenced = referencedBy(keep.flatMap(snapshotAt), _.commitIds.lastOption.toSeq)
    // manifests go FIRST: once they are gone no reader can resolve an
    // expired version, so a crash between the two phases leaves only
    // harmless orphan dirs (cleaned by the next expiry), never a live
    // manifest pointing at deleted data
    drop.foreach(v => Files.delete(manifestPath(v)))
    (drop.size, sweep(referenced, _ => true))
  }

  /** Orphan vacuum — the maintenance pass [[expireBefore]] cannot cover:
    * a writer killed BETWEEN the data write and the manifest publish (or
    * a loser of the commit CAS that dies before retrying) leaves a data
    * dir referenced by NO manifest at any version; a compaction CASCADE
    * leaves its intermediate merge targets equally unreferenced (a level-L
    * merge that immediately tips level L+1 within the same publish).
    * Invisible to every reader — the crash-safety contract — but the
    * bytes accumulate forever on a 10^12-row table with restarts (Iceberg
    * ships the same tool as `remove_orphan_files`). This removes
    * data/delete dirs referenced by NO version and stale `.tmp-`
    * manifest files.
    *
    * The grace window is the concurrency guard: a dir younger than
    * `graceMs` may belong to a commit that is mid-publish (data written,
    * CAS not yet attempted), so it is never touched — same rationale as
    * Iceberg's `older_than` default. Pass 0 only in tests.
    *
    * @return (orphan dirs removed, stale tmp manifests removed)
    */
  def vacuumOrphans(graceMs: Long = 3600000L): (Int, Int) = {
    val now = System.currentTimeMillis()
    def aged(p: Path): Boolean =
      now - Files.getLastModifiedTime(p).toMillis >= graceMs
    val dirs = sweep(referencedBy(versions().flatMap(snapshotAt), _.commitIds), aged)
    val tmps = list(snapDir).filter(p => p.getFileName.toString.startsWith(".tmp-") && aged(p))
    tmps.foreach(Files.delete)
    (dirs, tmps.size)
  }

  /** Every dir `snaps` reference: their entry and delete dirs plus the data
    * dirs of the commit ids `ids` picks from each.
    */
  private def referencedBy(snaps: Seq[Snapshot], ids: Snapshot => Seq[String]): Set[String] =
    snaps.flatMap(s => s.entries.map(_.dir) ++ s.deletes.map(_.dir) ++
      ids(s).map(dataDir.resolve(_).toString)).toSet

  /** Recursively delete every data/delete dir outside `referenced` that
    * `eligible` admits; returns how many went.
    */
  private def sweep(referenced: Set[String], eligible: Path => Boolean): Int = {
    val doomed = (list(dataDir) ++ list(delDir))
      .filter(d => Files.isDirectory(d) && !referenced.contains(d.toString) && eligible(d))
    doomed.foreach(deleteTree)
    doomed.size
  }

  private def deleteTree(d: Path): Unit = {
    val st = Files.walk(d)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
    finally st.close()
  }

  /** Write `df` into `dir` and return its entry at sequence `seq` plus its
    * written schema, both gathered by the write itself: the write observes
    * the row count and the min/max of `statsCol` (when it is a string
    * column of `df`; numeric columns are deliberately not stat-tracked —
    * the manifest stores strings and string order would mis-prune
    * numbers), and the schema is `df`'s with every level made nullable,
    * which is what a footer read of the dir returns. Spark's min()/max()
    * compare in UTF8String binary order, which is the order pruneRange
    * compares them in. The columns in `plainCols` are written with no
    * dictionary (parquet-mr's per-column `parquet.enable.dictionary#<col>`).
    *
    * When stats are recorded, a BLOOM SIDECAR is also written into the dir
    * (`_graft.bloom` — underscore-prefixed, so every parquet listing
    * treats it as hidden metadata): point lookups on `statsCol` then skip
    * dirs whose range covers the value but whose bloom proves it absent —
    * the case min/max pruning cannot help with when writers don't cluster
    * by the lookup column (Iceberg stores the same sketches in puffin
    * sidecars, never the manifest, and so does this: the manifest stays
    * slim). It is filled by one scan of the written stats column, sized by
    * the observed count and capped at [[BloomCapItems]] — past it fpp
    * degrades instead of the sidecar growing unbounded.
    */
  private def writeDir(df: DataFrame, dir: String, seq: Int): (Entry, StructType) = {
    val statCol = statsCol.filter(c => df.schema.fields.exists(f => f.name == c && f.dataType == StringType))
    val obs = Observation()
    val observed = df.observe(obs, count(lit(1)).as("rows"),
      statCol.toSeq.flatMap(c => Seq(min(col(c)).as("min"), max(col(c)).as("max"))): _*)
    overwrite(observed, dir, plainCols.map(c => s"parquet.enable.dictionary#$c" -> "false").toMap)
    val r = obs.get
    val rows = r("rows").asInstanceOf[Long]
    val stats = r.get("min").collect { case mn: String => (mn, r("max").asInstanceOf[String]) }
    val schema = nullable(df.schema).asInstanceOf[StructType]
    for (c <- statCol if stats.isDefined) {
      val bloom = df.sparkSession.read.schema(schema).parquet(dir)
        .stat.bloomFilter(c, math.min(math.max(rows, 1L), BloomCapItems), BloomFpp)
      val out = Files.newOutputStream(Paths.get(dir, BloomSidecar))
      try bloom.writeTo(out) finally out.close()
    }
    (Entry(dir, seq, stats.map(_._1), stats.map(_._2), rows), schema)
  }

  /** Overwrite `dir` with `df` as parquet, adding `options` to the write:
    * every Spark write of this table goes through here, so each carries
    * `LocalIo` (see LOCAL I/O IN-PROCESS above).
    */
  private def overwrite(df: DataFrame, dir: String, options: Map[String, String] = Map.empty): Unit =
    df.write.options(LocalIo ++ options).mode("overwrite").parquet(dir)

  /** The write options that route a Spark write's local Hadoop I/O
    * through [[LocalFs]].
    */
  private val LocalIo = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Write `rows`, whose fields follow `schema`, into `dir` as ONE snappy
    * parquet file from the driver, with no Spark job, and return its entry
    * at sequence 0 plus its written schema, as [[writeDir]] does. The file
    * carries the parquet types Spark's own writer derives from the same
    * nullable schema, so an unpinned read returns the recorded schema.
    * Flat string/int/long fields only, no stats and no plain columns: a
    * lineage increment of a few rows, not a second general writer.
    */
  private def writeRows(rows: Seq[Product], schema: StructType, dir: String): (Entry, StructType) = {
    require(schema.fields.forall(f => Set[DataType](StringType, IntegerType, LongType)(f.dataType)),
      s"driver-written rows hold flat string/int/long fields only: ${schema.simpleString}")
    require(statsCol.forall(c => !schema.fieldNames.contains(c)),
      s"driver-written rows record no stats, but '${statsCol.get}' is stat-tracked")
    require(plainCols.isEmpty, s"driver-written rows take parquet-mr's defaults, but ${plainCols.mkString(",")} are plain")
    val written = nullable(schema).asInstanceOf[StructType]
    val out = Paths.get(dir)
    if (Files.exists(out)) deleteTree(out) // overwrite, as writeDir's write does
    Files.createDirectories(out)
    val msg = new SparkToParquetSchemaConverter().convert(written)
    val groups = new SimpleGroupFactory(msg)
    // an empty Hadoop conf: ExampleParquetWriter's default conf parses core-default.xml
    // (about 12 ms per commit), and no key in it changes the written bytes
    val w = ExampleParquetWriter.builder(new LocalOutputFile(out.resolve("part-00000.snappy.parquet")))
      .withConf(new Configuration(false))
      .withType(msg).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      r.productIterator.zipWithIndex.foreach {
        case (null, _) =>
        case (v: String, i) => g.add(i, v)
        case (v: Int, i) => g.add(i, v)
        case (v: Long, i) => g.add(i, v)
      }
      w.write(g)
    } finally w.close()
    (Entry(dir, 0, None, None, rows.size.toLong), written)
  }

  /** `t` with every field, array element and map value nullable — the
    * schema Spark reports for a parquet dir it reads back.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Name of the per-dir bloom sidecar ('_'-prefixed: hidden from scans). */
  private val BloomSidecar = "_graft.bloom"
  private val BloomCapItems = 4000000L
  private val BloomFpp = 0.01

  /** Lazily-loaded sidecar blooms, keyed by dir (driver-side): a bounded
    * LRU — a long-lived driver probing many tables/epochs must not
    * accumulate one deserialized filter per dir it ever touched (each is
    * up to ~MBs at the capacity cap). Access-ordered LinkedHashMap under
    * the table's own lock; capacity covers any realistic compacted dir
    * count, so eviction only matters for the pathological caller.
    */
  private val BloomCacheMax = 256
  private val bloomCache =
    new java.util.LinkedHashMap[String, Option[BloomFilter]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Option[BloomFilter]]): Boolean =
        size() > BloomCacheMax
    }

  private def bloomOf(dir: String): Option[BloomFilter] = bloomCache.synchronized {
    val hit = bloomCache.get(dir)
    if (hit != null) hit
    else {
      val p = Paths.get(dir, BloomSidecar)
      val loaded =
        if (!Files.isRegularFile(p)) None
        else {
          val in = Files.newInputStream(p)
          try Some(BloomFilter.readFrom(in)) finally in.close()
        }
      bloomCache.put(dir, loaded)
      loaded
    }
  }

  /** Entries of the latest snapshot that could hold `statsCol = v`:
    * min/max range pruning first, then the bloom sidecar — a dir whose
    * range covers `v` but whose bloom rejects it is provably clean and
    * skipped. Dirs without stats or sidecar always survive (absence is
    * safe, exactly like [[pruneRange]]). Returns (kept, total).
    */
  def prunePoint(v: String): (Vector[Entry], Int) = {
    val (rangeKept, total) = pruneRange(v, v)
    val kept = rangeKept.filter(e => bloomOf(e.dir).forall(_.mightContainString(v)))
    (kept, total)
  }

  /** Point lookup over `statsCol` with manifest range pruning AND bloom
    * sidecar skipping: only dirs that might hold the value are opened,
    * the row-level equality applies on top, equality deletes still apply.
    * None when the table is empty or every dir is provably clean.
    */
  def readPoint(spark: SparkSession, v: String): Option[DataFrame] = {
    val c = statsCol.getOrElse(
      throw new IllegalStateException("readPoint requires a statsCol-configured table"))
    latest().flatMap { s =>
      val (kept, _) = prunePoint(v)
      if (kept.isEmpty) None
      else Some(readEntries(spark, s, kept).where(col(c) === v))
    }
  }

  /** Append a DataFrame as a new commit. Returns the new snapshot version.
    * Write is three-phase: parquet lands in a commit-private dir, due
    * compactions merge whole levels into next-level dirs, then the
    * manifest move publishes everything at once.
    */
  def append(df: DataFrame, commitId: String): Int =
    publish(df.sparkSession, commitId, deleteKeyCols = Nil)(writeDir(df, _, 0))

  /** Append rows already on the driver as a new commit: the same publish
    * as [[append]], with the data dir written by [[writeRows]] instead of a
    * Spark job. `T`'s fields must be flat strings, ints or longs.
    */
  def append[T <: Product : TypeTag](spark: SparkSession, rows: Seq[T], commitId: String): Int =
    publish(spark, commitId, deleteKeyCols = Nil)(writeRows(rows, Encoders.product[T].schema, _))

  /** Upsert: append `df` AND delete every earlier row sharing its
    * `keyCols` — the re-crawl semantics of a url-keyed pages table (same
    * url, newer fetch → the old extraction is no longer live). Rows inside
    * `df` itself are untouched (the delete's sequence equals their own).
    */
  def upsert(df: DataFrame, commitId: String, keyCols: Seq[String]): Int = {
    require(keyCols.nonEmpty, "upsert needs at least one key column")
    require(keyCols.forall(df.columns.contains),
      s"key columns ${keyCols.mkString(",")} must exist in the frame")
    publish(df.sparkSession, commitId, keyCols)(writeDir(df, _, 0))
  }

  /** ROLLBACK (Iceberg `rollback_to_snapshot` analog): publish a NEW
    * version whose visible content is exactly `toVersion`'s — entries,
    * deletes, row count, and schema copied verbatim. Nothing is deleted:
    * every intermediate version stays time-travel-readable (`readAt`),
    * and a concurrent reader never loses a manifest mid-scan. The
    * publish rides the same hard-link CAS as every commit, so a racing
    * appender either lands before the rollback (and is rolled back with
    * everything else) or re-derives against the rollback as the new
    * latest.
    *
    * Semantics pinned deliberately: rollback undoes VISIBILITY, not
    * commit history — the full commit-id list is retained (plus a
    * `rollback-to-<V>:<id>` marker), so an exactly-once producer
    * replaying an already-committed id after the rollback stays a no-op
    * (`hasCommit` true); re-ingesting rolled-back data is an explicit
    * new commit id. And because a rollback adds no data dirs,
    * `readAppendsSince` yields an EMPTY delta for it — restoring removed
    * visibility is a table-level event, not an append-stream event.
    */
  def rollbackTo(toVersion: Int, commitId: String): Int =
    commitLoop(s"rollback '$commitId'") { prev =>
      val target = snapshotAt(toVersion).getOrElse(throw new IllegalArgumentException(
        s"rollback target version $toVersion does not exist"))
      val p = prev.getOrElse(throw new IllegalStateException("rollback on an empty table"))
      require(toVersion <= p.version, s"rollback target $toVersion is ahead of latest ${p.version}")
      target.copy(version = p.version + 1,
        commitIds = p.commitIds :+ s"rollback-to-$toVersion:$commitId")
    }

  /** Delete-only commit: every live row whose key appears in `keys`
    * (parquet of exactly the key columns) stops being visible — the
    * takedown/GDPR path. No data is rewritten until the next compaction.
    */
  def deleteKeys(keys: DataFrame, commitId: String): Int = {
    val dd = delDir.resolve(commitId).toString
    overwrite(keys.dropDuplicates(), dd)
    commitLoop(s"delete commit '$commitId'") { prev =>
      // delete-only: row count and schema unchanged
      val p = prev.getOrElse(Empty)
      val v = p.version + 1
      compact(keys.sparkSession, commitId,
        p.copy(version = v, deletes = p.deletes :+ Del(dd, v), commitIds = p.commitIds :+ commitId))
    }
  }

  /** SCHEMA EVOLUTION merge (additive, the Iceberg model): columns match
    * by NAME; a column present in both sides must keep its exact type —
    * a type change is rejected loudly (no implicit promotion: silently
    * widening 10^12 committed rows is how tables corrupt). Columns only
    * in the new commit are APPENDED nullable (old dirs read null for
    * them); columns the new commit dropped STAY in the table (old rows
    * keep their values, new rows read null — removal is a reader-side
    * projection, never data loss).
    */
  private[table] def mergeSchemas(prev: StructType, next: StructType): StructType = {
    val nextByName = next.fields.map(f => f.name -> f).toMap
    val kept = prev.fields.map { p =>
      nextByName.get(p.name) match {
        case Some(n) =>
          require(n.dataType == p.dataType,
            s"schema evolution rejected: column '${p.name}' changes type " +
              s"${p.dataType.simpleString} -> ${n.dataType.simpleString}")
          p.copy(nullable = p.nullable || n.nullable)
        case None => p.copy(nullable = true)
      }
    }
    val prevNames = prev.fieldNames.toSet
    val added = next.fields.filterNot(f => prevNames.contains(f.name)).map(_.copy(nullable = true))
    StructType(kept ++ added)
  }

  /** Bound on CAS retries — a writer losing the manifest race this many
    * times in a row is pathological contention the caller should see.
    */
  val MaxCommitAttempts = 10

  /** The OPTIMISTIC-CONCURRENCY loop every commit rides (Iceberg's commit
    * model): derive the new snapshot with `next` against the CURRENT
    * latest, then publish it with an atomic create-if-absent of the
    * versioned manifest ([[tryCommit]]). A concurrent writer that took the
    * version makes the publish fail cleanly; `next` re-runs against the
    * winner's snapshot. Returns the published version.
    */
  private def commitLoop(what: String)(next: Option[Snapshot] => Snapshot): Int =
    Iterator.fill(MaxCommitAttempts)(next(latest())).find(tryCommit).map(_.version).getOrElse(
      throw new IllegalStateException(s"$what lost the manifest CAS $MaxCommitAttempts times — " +
        "writer contention is pathological; retry with backoff at the caller"))

  /** The commit step of [[append]] and [[upsert]]: `write` fills the
    * commit's data dir and returns its entry and schema, then the CAS loop
    * publishes it.
    */
  private def publish(spark: SparkSession, commitId: String, deleteKeyCols: Seq[String])(
      write: String => (Entry, StructType)): Int = {
    // the data dir is commit-private (keyed by commitId) and written ONCE;
    // only the snapshot derivation below re-runs when the CAS loses
    val outDir = dataDir.resolve(commitId).toString
    val (entry, written) = write(outDir)
    commitLoop(s"commit '$commitId'") { prev =>
      // re-derived per attempt against the winner's snapshot — including
      // re-merging the schema (a conflicting type change surfaces as
      // mergeSchemas' loud rejection, never a silent overwrite) and
      // re-running due compactions against the winner's entry list
      val p = prev.getOrElse(Empty)
      val v = p.version + 1
      val deletes =
        // a delete is pointless when nothing older exists to delete from
        if (deleteKeyCols.isEmpty || p.entries.isEmpty) p.deletes
        else {
          val dd = delDir.resolve(commitId).toString
          overwrite(spark.read.parquet(outDir).select(deleteKeyCols.map(col): _*).dropDuplicates(), dd)
          p.deletes :+ Del(dd, v)
        }
      // unified schema: the just-written dir's schema merged into the
      // recorded one
      val unified = if (p.entries.isEmpty) written else mergeSchemas(schemaOf(p), written)
      compact(spark, commitId, Snapshot(v, p.entries :+ entry.copy(seq = v), deletes,
        p.rowCount + entry.rows, p.commitIds :+ commitId, Some(unified.json)))
    }
  }

  /** Dir-name prefix for merged generations. NOT underscore-prefixed:
    * Spark/Hadoop file listings silently skip `_`/`.`-prefixed paths as
    * hidden metadata — an `_c...` dir would vanish from every read.
    */
  private val CompactPrefix = "compacted-"

  /** Compaction level of a data dir: fresh commits are level 0, a dir
    * produced by merging level-L dirs is `compacted-<L+1>-...`.
    */
  private def levelOf(dir: String): Int = {
    val name = Paths.get(dir).getFileName.toString
    if (name.startsWith(CompactPrefix))
      name.substring(CompactPrefix.length, name.indexOf('-', CompactPrefix.length)).toInt
    else 0
  }

  /** Merge every level holding ≥ compactFanIn dirs into one next-level dir
    * (cascading: a merge can tip the next level over). Same-level dirs are
    * same-magnitude by construction — this is size-tiered merging without
    * needing size accounting. Current deletes are APPLIED while rewriting
    * (the merged dir takes `newVersion` as its sequence, and every current
    * delete has sequence ≤ newVersion, so none re-applies to it), then
    * deletes that no remaining entry is strictly older than are dropped
    * from the manifest — a fully compacted table reads delete-free.
    */
  private def compact(spark: SparkSession, commitId: String, s: Snapshot): Snapshot = {
    @tailrec def merge(entries: Vector[Entry], seq: Int): Vector[Entry] =
      entries.groupBy(e => levelOf(e.dir)).collect {
        case (l, g) if g.size >= compactFanIn => l
      }.minOption match {
        case None => entries
        case Some(l) =>
          val (group, rest) = entries.partition(e => levelOf(e.dir) == l)
          // the commitId suffix keeps concurrent writers' merge targets
          // disjoint: two writers racing the same version would otherwise
          // both write compacted-<L>-<v>-0 and the CAS loser could clobber
          // the winner's published bytes (levelOf only parses the level
          // between the first two dashes, so the suffix is inert)
          val target = dataDir.resolve(s"$CompactPrefix${l + 1}-${s.version}-$seq-$commitId").toString
          // rewriting under the unified schema also MATERIALIZES evolution:
          // the merged dir physically carries every column, nulls filled
          merge(rest :+ writeDir(readEntries(spark, s, group), target, s.version)._1, seq + 1)
      }
    val entries = merge(s.entries, 0)
    s.copy(entries = entries, deletes = s.deletes.filter(d => entries.exists(_.seq < d.seq)))
  }

  /** Publish the manifest for `s.version` iff nobody else has: the CAS
    * primitive of the optimistic-concurrency loop. `Files.createLink`
    * (hard link) is the POSIX atomic create-if-absent — unlike
    * `ATOMIC_MOVE`, which REPLACES an existing target and was exactly the
    * round-3 race: two concurrent appenders both derived version v+1 and
    * the second rename silently clobbered the first writer's manifest
    * (its rows stayed on disk but left history — a durably lost commit).
    * Returns false when the version already exists (a concurrent writer
    * won); the caller re-derives against the winner and retries.
    */
  private def tryCommit(s: Snapshot): Boolean = {
    Files.createDirectories(snapDir)
    // tmp name carries the last commit id (writer-unique), so two racers'
    // tmp files never collide either
    val tmp = snapDir.resolve(s".tmp-${s.version}-${s.commitIds.lastOption.getOrElse("0")}")
    Files.write(tmp, render(s).getBytes(UTF_8))
    try {
      Files.createLink(manifestPath(s.version), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Simulate a crash AFTER data write but BEFORE manifest publish (test hook):
    * writes the data dir and returns what `append` would have committed.
    */
  def writeUncommitted(df: DataFrame, commitId: String): String = {
    val outDir = dataDir.resolve(commitId).toString
    overwrite(df, outDir)
    outDir
  }
}
