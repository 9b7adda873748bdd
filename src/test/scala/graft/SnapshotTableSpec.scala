package graft

import java.nio.file.{Files, Paths}

import graft.table.SnapshotTable
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

object SnapshotTableSpec {
  final case class Lineage(id: String, part: Int, bytes: Long)
  final case class Scored(id: String, score: Double)
}

class SnapshotTableSpec extends AnyFunSuite {
  import SnapshotTableSpec._
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-snap").toString

  private def rows(t: SnapshotTable): Map[String, Int] =
    t.read(spark).get.as[(String, Int)].collect().toMap

  test("upsert: re-crawled keys replace earlier rows; fresh keys append") {
    val t = new SnapshotTable(tmp())
    t.append(Seq(("u1", 1), ("u2", 1), ("u3", 1)).toDF("url", "gen"), "c1")
    t.upsert(Seq(("u2", 2), ("u4", 2)).toDF("url", "gen"), "c2", Seq("url"))
    assert(rows(t) == Map("u1" -> 1, "u2" -> 2, "u3" -> 1, "u4" -> 2))
  }

  test("upsert chain: latest wins across three generations") {
    val t = new SnapshotTable(tmp())
    t.upsert(Seq(("u1", 1)).toDF("url", "gen"), "c1", Seq("url"))
    t.upsert(Seq(("u1", 2)).toDF("url", "gen"), "c2", Seq("url"))
    t.upsert(Seq(("u1", 3), ("u2", 3)).toDF("url", "gen"), "c3", Seq("url"))
    assert(rows(t) == Map("u1" -> 3, "u2" -> 3))
  }

  test("diffVersions: added/deleted/updated classified; unchanged keys omitted") {
    val t = new SnapshotTable(tmp())
    val v1 = t.append(
      Seq(("u1", 1), ("u2", 1), ("u3", 1), ("u4", 1)).toDF("url", "gen"), "c1")
    t.upsert(Seq(("u2", 2), ("u5", 2)).toDF("url", "gen"), "c2", Seq("url"))
    t.deleteKeys(Seq(Tuple1("u3")).toDF("url"), "c3")
    val v3 = t.latest().get.version
    val got = t.diffVersions(spark, v1, v3, Seq("url"), Seq("gen"))
      .get.as[(String, String)].collect().toMap
    assert(got == Map("u2" -> "updated", "u3" -> "deleted", "u5" -> "added"),
      s"u1/u4 unchanged must be omitted; got $got")
    // reverse diff flips added/deleted and keeps updated
    val rev = t.diffVersions(spark, v3, v1, Seq("url"), Seq("gen"))
      .get.as[(String, String)].collect().toMap
    assert(rev == Map("u2" -> "updated", "u3" -> "added", "u5" -> "deleted"))
    // identity diff is empty; unknown version is None
    assert(t.diffVersions(spark, v3, v3, Seq("url"), Seq("gen")).get.count() == 0)
    assert(t.diffVersions(spark, v1, 99, Seq("url"), Seq("gen")).isEmpty)
  }

  test("diffVersions: a version emptied by deletes diffs as all-deleted") {
    val t = new SnapshotTable(tmp())
    val v1 = t.append(Seq(("u1", 1), ("u2", 1)).toDF("url", "gen"), "c1")
    t.deleteKeys(Seq(Tuple1("u1"), Tuple1("u2")).toDF("url"), "c2")
    val v2 = t.latest().get.version
    val got = t.diffVersions(spark, v1, v2, Seq("url"), Seq("gen"))
      .get.as[(String, String)].collect().toMap
    assert(got == Map("u1" -> "deleted", "u2" -> "deleted"))
  }

  test("rollback: visibility restored to the target; history, replay, and time travel intact") {
    val t = new SnapshotTable(tmp())
    val v1 = t.append(Seq(("u1", 1), ("u2", 1)).toDF("url", "gen"), "c1")
    t.upsert(Seq(("u2", 2), ("u3", 2)).toDF("url", "gen"), "c2", Seq("url"))
    val v3 = t.rollbackTo(v1, "rb1")
    assert(v3 == 3, "rollback must be a NEW version, not a deletion")
    assert(rows(t) == Map("u1" -> 1, "u2" -> 1), "latest reads the rollback target")
    // every version still time-travels, including the rolled-back one
    assert(t.readAt(spark, 2).get.as[(String, Int)].collect().toMap ==
      Map("u1" -> 1, "u2" -> 2, "u3" -> 2))
    // exactly-once replay: the rolled-back commit id is still recognized
    assert(t.hasCommit("c2"), "rollback undoes visibility, not commit history")
    // the rollback publishes NO data dirs: incremental readers see an empty delta
    assert(t.readAppendsSince(spark, sinceVersion = 2).isEmpty ||
      t.readAppendsSince(spark, sinceVersion = 2).get.isEmpty)
    // building forward from the rollback works
    t.append(Seq(("u5", 5)).toDF("url", "gen"), "c3")
    assert(rows(t) == Map("u1" -> 1, "u2" -> 1, "u5" -> 5))
    // guardrails
    intercept[IllegalArgumentException](t.rollbackTo(99, "rbx"))
  }

  test("composite upsert keys: only the full key matches") {
    val t = new SnapshotTable(tmp())
    t.append(Seq(("u1", "en", 1), ("u1", "de", 1)).toDF("url", "lang", "gen"), "c1")
    t.upsert(Seq(("u1", "en", 2)).toDF("url", "lang", "gen"), "c2", Seq("url", "lang"))
    val got = t.read(spark).get.as[(String, String, Int)].collect().toSet
    assert(got == Set(("u1", "en", 2), ("u1", "de", 1)))
  }

  test("deleteKeys: takedown commit hides rows without rewriting data") {
    val t = new SnapshotTable(tmp())
    t.append(Seq(("u1", 1), ("u2", 1)).toDF("url", "gen"), "c1")
    t.deleteKeys(Seq("u1").toDF("url"), "takedown-1")
    assert(rows(t) == Map("u2" -> 1))
    assert(t.hasCommit("takedown-1"))
  }

  test("time travel is exact across upserts and deletes") {
    val t = new SnapshotTable(tmp())
    val v1 = t.append(Seq(("u1", 1), ("u2", 1)).toDF("url", "gen"), "c1")
    val v2 = t.upsert(Seq(("u1", 2)).toDF("url", "gen"), "c2", Seq("url"))
    val v3 = t.deleteKeys(Seq("u2").toDF("url"), "c3")
    def at(v: Int) = t.readAt(spark, v).get.as[(String, Int)].collect().toMap
    assert(at(v1) == Map("u1" -> 1, "u2" -> 1))
    assert(at(v2) == Map("u1" -> 2, "u2" -> 1))
    assert(at(v3) == Map("u1" -> 2))
  }

  test("compaction applies deletes and prunes them from the manifest") {
    val t = new SnapshotTable(tmp(), compactFanIn = 2)
    t.append(Seq(("u1", 1), ("u2", 1)).toDF("url", "gen"), "c1")
    // second commit trips fanIn=2: the upsert's delete must be applied
    // while merging, and nothing older than it remains afterwards
    t.upsert(Seq(("u1", 2)).toDF("url", "gen"), "c2", Seq("url"))
    val snap = t.latest().get
    assert(snap.deletes.isEmpty,
      s"fully compacted table must read delete-free, got ${snap.deletes}")
    assert(rows(t) == Map("u1" -> 2, "u2" -> 1))
    // replay guard survives compaction
    assert(t.hasCommit("c1") && t.hasCommit("c2"))
  }

  test("delete entries survive compaction while older uncompacted dirs remain") {
    val t = new SnapshotTable(tmp(), compactFanIn = 3)
    t.append(Seq(("u1", 1)).toDF("url", "gen"), "c1")
    t.upsert(Seq(("u1", 2)).toDF("url", "gen"), "c2", Seq("url"))
    // fanIn=3 not reached → merge-on-read regime
    val snap = t.latest().get
    assert(snap.deletes.nonEmpty, "uncompacted upsert must keep its delete entry")
    assert(rows(t) == Map("u1" -> 2))
  }

  test("data skipping: disjoint url ranges prune whole dirs; results match a full scan") {
    val t = new SnapshotTable(tmp(), statsCol = Some("url"))
    t.append(Seq(("a/1", 1), ("a/9", 1)).toDF("url", "gen"), "c1")
    t.append(Seq(("m/1", 2), ("m/9", 2)).toDF("url", "gen"), "c2")
    t.append(Seq(("z/1", 3), ("z/9", 3)).toDF("url", "gen"), "c3")
    val (kept, total) = t.pruneRange("m/", "m/~")
    assert(total == 3 && kept.size == 1, s"expected 1 of 3 dirs kept, got ${kept.size} of $total")
    val viaRange = t.readRange(spark, "m/", "m/~").get.as[(String, Int)].collect().toSet
    val viaScan = t.read(spark).get.where(col("url").between("m/", "m/~"))
      .as[(String, Int)].collect().toSet
    assert(viaRange == viaScan && viaRange == Set(("m/1", 2), ("m/9", 2)))
    // nothing intersects → no read at all
    assert(t.readRange(spark, "q/", "q/~").isEmpty)
  }

  test("range and point pruning compare in the UTF-8 byte order the stats are taken in") {
    val t = new SnapshotTable(tmp(), statsCol = Some("url"))
    // U+FF21 sorts before U+1D11E in UTF-8 bytes and after it in UTF-16
    t.append(Seq(("\uFF21", 1), ("\uD834\uDD1E", 1)).toDF("url", "gen"), "c1")
    val e = t.latest().get.entries.head
    assert(e.statMin.contains("\uFF21") && e.statMax.contains("\uD834\uDD1E"))
    assert(t.readRange(spark, "\uFF21", "\uFF21").map(_.count()).contains(1L))
    assert(t.readPoint(spark, "\uFF21").map(_.count()).contains(1L))
  }

  test("readRange and readPoint return what a full-scan filter returns, over keys across the UTF-16/UTF-8 order split") {
    val rnd = new scala.util.Random(37)
    val alphabet = Vector("a", "z", "~", "\u00E9", "\u4E2D", "\uFF21", "\uD834\uDD1E")
    def key(): String = Seq.fill(1 + rnd.nextInt(3))(alphabet(rnd.nextInt(alphabet.size))).mkString
    val t = new SnapshotTable(tmp(), statsCol = Some("url"))
    (1 to 6).foreach(c => t.append(Seq.fill(4)((key(), c)).toDF("url", "gen"), s"c$c"))
    t.append(Seq(("\uFF21", 7), ("\uD834\uDD1E", 7)).toDF("url", "gen"), "c7")
    val full = t.read(spark).get
    def rows(df: Option[org.apache.spark.sql.DataFrame]): Vector[(String, Int)] =
      df.fold(Vector.empty[(String, Int)])(_.as[(String, Int)].collect().toVector.sorted)
    val ranges = ("\uFF21", "\uFF21") +: Seq.fill(15) {
      val (a, b) = (key(), key())
      if (org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .binaryCompare(org.apache.spark.unsafe.types.UTF8String.fromString(b)) <= 0) (a, b) else (b, a)
    }
    ranges.foreach { case (lo, hi) =>
      assert(rows(t.readRange(spark, lo, hi)) == rows(Some(full.where(col("url").between(lo, hi)))), s"[$lo, $hi]")
    }
    ("\uFF21" +: "\uD834\uDD1E" +: Seq.fill(10)(key())).foreach { v =>
      assert(rows(t.readPoint(spark, v)) == rows(Some(full.where(col("url") === v))), v)
    }
  }

  test("data skipping is safe: statless dirs are never pruned") {
    val t = new SnapshotTable(tmp(), statsCol = Some("url"))
    // a dir written without the stats column records no bounds
    t.append(Seq((7, 1)).toDF("other", "gen"), "c1")
    t.append(Seq(("a/1", 2)).toDF("url", "gen"), "c2")
    val (kept, total) = t.pruneRange("z/", "z/~")
    assert(total == 2 && kept.size == 1 && kept.head.statMin.isEmpty,
      "the statless dir must survive every prune")
  }

  test("fastCount: metadata-only, exact across appends and compaction, honest about deletes") {
    val t = new SnapshotTable(tmp(), compactFanIn = 3)
    t.append(Seq(("u1", 1), ("u2", 1)).toDF("url", "gen"), "c1")
    assert(t.fastCount.contains(2L))
    t.append(Seq(("u3", 2)).toDF("url", "gen"), "c2")
    assert(t.fastCount.contains(3L))
    // upsert leaves an un-applied delete → unknown without a scan
    t.upsert(Seq(("u1", 3)).toDF("url", "gen"), "c3", Seq("url"))
    // c3 tips fanIn=3 → compaction applies the delete; either way the
    // answer must be honest: None while deletes are live, exact after
    t.fastCount match {
      case Some(n) =>
        assert(t.latest().get.deletes.isEmpty, "a count with live deletes is a lie")
        assert(n == t.read(spark).get.count())
        assert(n == 3L, "u1 replaced, not duplicated")
      case None =>
        assert(t.latest().get.deletes.nonEmpty)
    }
  }

  test("bloom sidecar: point lookup skips range-covered dirs that provably lack the value") {
    val t = new SnapshotTable(tmp(), statsCol = Some("url"))
    // every dir's [min, max] spans a/…z/ — range pruning keeps all three;
    // only the per-dir bloom sidecars can separate the mid-range members
    t.append(Seq(("a/1", 1), ("m/1", 1), ("z/1", 1)).toDF("url", "gen"), "c1")
    t.append(Seq(("a/2", 2), ("m/2", 2), ("z/2", 2)).toDF("url", "gen"), "c2")
    t.append(Seq(("a/3", 3), ("m/3", 3), ("z/3", 3)).toDF("url", "gen"), "c3")
    val (rangeKept, _) = t.pruneRange("m/2", "m/2")
    assert(rangeKept.size == 3, "min/max alone cannot prune interleaved ranges")
    val (kept, total) = t.prunePoint("m/2")
    assert(total == 3 && kept.size == 1, s"bloom must leave 1 of 3 dirs, got ${kept.size}")
    val got = t.readPoint(spark, "m/2").get.as[(String, Int)].collect().toSet
    assert(got == Set(("m/2", 2)))
    assert(got == t.read(spark).get.where(col("url") === "m/2")
      .as[(String, Int)].collect().toSet, "pruning must not change the result")
    // a value no dir holds reads as empty (or prunes to nothing outright)
    assert(t.readPoint(spark, "m/9").map(_.count()).getOrElse(0L) == 0L)
  }

  test("bloom skipping is safe: sidecar-less dirs are never pruned") {
    val t = new SnapshotTable(tmp(), statsCol = Some("url"))
    t.append(Seq((7, 1)).toDF("other", "gen"), "c1") // no stats column → no sidecar
    t.append(Seq(("a/1", 2)).toDF("url", "gen"), "c2")
    val (kept, total) = t.prunePoint("zzz")
    assert(total == 2 && kept.size == 1 && kept.head.statMin.isEmpty,
      "the sidecar-less dir must survive every point prune")
  }

  test("compacted dirs carry a fresh bloom sidecar") {
    val t = new SnapshotTable(tmp(), compactFanIn = 3, statsCol = Some("url"))
    t.append(Seq(("a/1", 1)).toDF("url", "gen"), "c1")
    t.append(Seq(("m/1", 2)).toDF("url", "gen"), "c2")
    t.append(Seq(("z/1", 3)).toDF("url", "gen"), "c3")
    val snap = t.latest().get
    assert(snap.entries.size == 1 && snap.entries.head.dir.contains("compacted-"),
      "fanIn=3 must merge the three commits")
    assert(t.readPoint(spark, "m/1").get.collect().length == 1)
    // the merged dir's range spans a/…z/ but its bloom rejects an absent key
    val (none, _) = t.prunePoint("q/404")
    assert(none.isEmpty, "compacted dir bloom must reject an absent value")
  }

  test("upsert into an empty table publishes no delete entry") {
    val t = new SnapshotTable(tmp())
    t.upsert(Seq(("u1", 1)).toDF("url", "gen"), "c1", Seq("url"))
    assert(t.latest().get.deletes.isEmpty)
    assert(rows(t) == Map("u1" -> 1))
  }

  test("stats bounds round-trip through the manifest (base64, tab-safe)") {
    val t = new SnapshotTable(tmp(), statsCol = Some("url"))
    t.append(Seq(("héllo/ü", 1), ("zzz", 1)).toDF("url", "gen"), "c1")
    val e = t.latest().get.entries.head
    assert(e.statMin.contains("héllo/ü") && e.statMax.contains("zzz"))
  }

  test("schema evolution: added column reads null from pre-evolution dirs") {
    val t = new SnapshotTable(tmp())
    t.append(Seq(("u1", 1), ("u2", 1)).toDF("url", "gen"), "c1")
    t.append(Seq(("u3", 2, "en")).toDF("url", "gen", "lang"), "c2")
    val got = t.read(spark).get.select("url", "gen", "lang")
      .as[(String, Int, Option[String])].collect().toSet
    assert(got == Set(("u1", 1, None), ("u2", 1, None), ("u3", 2, Some("en"))))
    // time travel returns the PRE-evolution schema at v1
    assert(t.readAt(spark, 1).get.columns.toSeq == Seq("url", "gen"))
  }

  test("schema evolution: dropped column stays; new rows read null for it") {
    val t = new SnapshotTable(tmp())
    t.append(Seq(("u1", 1, "en")).toDF("url", "gen", "lang"), "c1")
    t.append(Seq(("u2", 2)).toDF("url", "gen"), "c2")
    val got = t.read(spark).get.select("url", "lang")
      .as[(String, Option[String])].collect().toSet
    assert(got == Set(("u1", Some("en")), ("u2", None)))
  }

  test("schema evolution: a type change is rejected loudly") {
    val t = new SnapshotTable(tmp())
    t.append(Seq(("u1", 1)).toDF("url", "gen"), "c1")
    val e = intercept[IllegalArgumentException] {
      t.append(Seq(("u2", "two")).toDF("url", "gen"), "c2")
    }
    assert(e.getMessage.contains("gen") && e.getMessage.contains("changes type"))
  }

  test("schema evolution: upsert with added column still deletes by key") {
    val t = new SnapshotTable(tmp())
    t.append(Seq(("u1", 1), ("u2", 1)).toDF("url", "gen"), "c1")
    t.upsert(Seq(("u2", 2, "en")).toDF("url", "gen", "lang"), "c2", Seq("url"))
    val got = t.read(spark).get.select("url", "gen", "lang")
      .as[(String, Int, Option[String])].collect().toSet
    assert(got == Set(("u1", 1, None), ("u2", 2, Some("en"))))
  }

  test("compaction materializes evolution: merged dir carries every column") {
    val t = new SnapshotTable(tmp(), compactFanIn = 3)
    t.append(Seq(("u1", 1)).toDF("url", "gen"), "c1")
    t.append(Seq(("u2", 2)).toDF("url", "gen"), "c2")
    t.append(Seq(("u3", 3, "en")).toDF("url", "gen", "lang"), "c3") // tips fan-in
    val s = t.latest().get
    assert(s.entries.size == 1, "three level-0 dirs must merge into one")
    // the merged parquet itself (read WITHOUT the manifest schema) has lang
    assert(spark.read.parquet(s.entries.head.dir).columns.contains("lang"))
    val got = t.read(spark).get.select("url", "lang")
      .as[(String, Option[String])].collect().toSet
    assert(got == Set(("u1", None), ("u2", None), ("u3", Some("en"))))
  }

  test("incremental read: appends since V, exact even when compaction merged them away") {
    val t = new SnapshotTable(tmp(), compactFanIn = 2) // merge aggressively
    t.append(Seq(("u1", 1)).toDF("url", "gen"), "c1")
    t.append(Seq(("u2", 2)).toDF("url", "gen"), "c2") // compacts c1+c2
    t.append(Seq(("u3", 3)).toDF("url", "gen"), "c3")
    assert(t.latest().get.version == 3)
    val inc = t.readAppendsSince(spark, 1).get.as[(String, Int)].collect().toSet
    assert(inc == Set(("u2", 2), ("u3", 3)),
      "appends after v1 must surface even though c2's dir was compacted out of the manifest")
    assert(t.readAppendsSince(spark, 3).isEmpty, "nothing appended after latest")
  }

  test("incremental read ignores delete-only commits and applies no deletes") {
    val t = new SnapshotTable(tmp())
    t.append(Seq(("u1", 1)).toDF("url", "gen"), "c1")
    t.append(Seq(("u2", 2)).toDF("url", "gen"), "c2")
    t.deleteKeys(Seq(Tuple1("u2")).toDF("url"), "takedown")
    val inc = t.readAppendsSince(spark, 1).get.as[(String, Int)].collect().toSet
    assert(inc == Set(("u2", 2)), "the append stream is not a diff: deletes do not apply")
  }

  test("incremental read pins the current schema across evolution") {
    val t = new SnapshotTable(tmp())
    t.append(Seq(("u1", 1)).toDF("url", "gen"), "c1")
    t.append(Seq(("u2", 2, "en")).toDF("url", "gen", "lang"), "c2")
    val since0 = t.readAppendsSince(spark, 0).get.select("url", "lang")
      .as[(String, Option[String])].collect().toSet
    assert(since0 == Set(("u1", None), ("u2", Some("en"))))
  }

  test("expireBefore: old history dies, retained reads and incremental survive") {
    val t = new SnapshotTable(tmp(), compactFanIn = 2)
    t.append(Seq(("u1", 1)).toDF("url", "gen"), "c1")
    t.append(Seq(("u2", 2)).toDF("url", "gen"), "c2")
    t.append(Seq(("u3", 3)).toDF("url", "gen"), "c3")
    val (manifests, dirs) = t.expireBefore(3)
    assert(manifests == 2 && dirs > 0)
    assert(t.versions() == Vector(3) && t.readAt(spark, 1).isEmpty)
    assert(rows(t) == Map("u1" -> 1, "u2" -> 2, "u3" -> 3), "latest read intact after expiry")
    // c3 is version 3's own commit dir: retained, so incremental still works
    assert(t.readAppendsSince(spark, 2).get.as[(String, Int)].collect().toSet == Set(("u3", 3)))
    assert(t.hasCommit("c1"), "commit-id history lives in the latest manifest, not expired files")
  }

  test("expireBefore keeps every dir a retained manifest references") {
    val t = new SnapshotTable(tmp()) // default fan-in: no compaction
    t.append(Seq(("u1", 1)).toDF("url", "gen"), "c1")
    t.append(Seq(("u2", 2)).toDF("url", "gen"), "c2")
    val (m, d) = t.expireBefore(2)
    assert(m == 1 && d == 0, "v2 still references c1's dir, so nothing may be deleted")
    assert(rows(t) == Map("u1" -> 1, "u2" -> 2))
  }

  test("incremental read honors untilVersion: appends past the bound stay out") {
    // the consumer protocol for concurrent writers: read latest() first,
    // bound the incremental scan to it, record it — a commit landing in
    // between must not be folded into state watermarked below it
    val t = new SnapshotTable(tmp())
    t.append(Seq(("u1", 1)).toDF("url", "gen"), "c1")
    t.append(Seq(("u2", 2)).toDF("url", "gen"), "c2")
    t.append(Seq(("u3", 3)).toDF("url", "gen"), "c3") // the "racing" append
    val bounded = t.readAppendsSince(spark, 1, untilVersion = 2).get
      .as[(String, Int)].collect().toSet
    assert(bounded == Set(("u2", 2)), s"got $bounded")
    assert(t.readAppendsSince(spark, 2, untilVersion = 2).isEmpty, "empty window → None")
    val unbounded = t.readAppendsSince(spark, 1).get.as[(String, Int)].collect().toSet
    assert(unbounded == Set(("u2", 2), ("u3", 3)))
  }

  test("optimistic concurrency: two interleaved appenders, all 20 commits land, history is linear") {
    // The round-3 race: commits were ATOMIC_MOVE-published, which REPLACES
    // an existing target — two appenders deriving the same version meant
    // the second rename silently clobbered the first manifest (a durably
    // lost commit). The CAS publish (hard-link create-if-absent) + the
    // re-derive-and-retry loop must make every commit land exactly once —
    // appends and delete-only commits alike, since both ride one loop.
    val t = new SnapshotTable(tmp(), compactFanIn = 4) // low fan-in: compactions race too
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // each writer: 9 appends with a takedown of its first url mid-stream
    def commitIds(w: Int): Seq[String] =
      (0 until 5).map(i => s"w$w-c$i") ++ Seq(s"w$w-d") ++ (5 until 9).map(i => s"w$w-c$i")
    val threads = (0 until 2).map { w =>
      new Thread(() => {
        try {
          commitIds(w).zipWithIndex.foreach { case (id, i) =>
            if (id.endsWith("-d")) t.deleteKeys(Seq(s"w$w-c0").toDF("url"), id)
            else t.append(Seq((id, w * 100 + i)).toDF("url", "gen"), id)
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"no appender may fail: ${errs.asScala.map(_.getMessage)}")
    // linear version history: exactly 20 versions, 1..20, no gaps
    assert(t.versions() == (1 to 20).toVector, s"versions: ${t.versions()}")
    // every commit visible in the history AND every row readable
    val latest = t.latest().get
    assert(latest.commitIds.toSet == (commitIds(0) ++ commitIds(1)).toSet, "all 20 commit ids recorded")
    assert(latest.commitIds.size == 20, "no duplicate commit ids")
    val live = (0 until 2).flatMap(w => commitIds(w).filterNot(id => id.endsWith("-d") || id.endsWith("-c0")))
    assert(rows(t).keySet == live.toSet, "all 16 surviving rows live, both takedowns applied")
    // exact after racing compactions; None only while a takedown is unapplied
    assert(t.fastCount == (if (latest.deletes.isEmpty) Some(16L) else None),
      s"metadata row count after racing compactions: ${t.fastCount}, deletes ${latest.deletes}")
    // commit-id order embeds version order: each manifest's id list is a
    // strict prefix of its successor's (linear history, no forks)
    val histories = t.versions().map(v => t.snapshotAt(v).get.commitIds)
    histories.sliding(2).foreach {
      case Vector(a, b) => assert(b.startsWith(a) && b.size == a.size + 1,
        s"history must grow linearly: $a -> $b")
      case _ =>
    }
  }

  test("vacuumOrphans: crash leftovers die, referenced and compacted-out dirs survive, grace protects young dirs") {
    val root = tmp()
    val t = new SnapshotTable(root, compactFanIn = 2)
    // four commits with fanIn 2 force compaction, so older manifests
    // reference dirs the CURRENT manifest no longer lists
    (1 to 4).foreach(i => t.append(Seq((s"u$i", i)).toDF("url", "gen"), s"c$i"))
    // two crash signatures: data written but never published, and a
    // stale tmp manifest from a hard-killed CAS
    t.writeUncommitted(Seq(("ux", 99)).toDF("url", "gen"), "crashed-commit")
    Files.write(java.nio.file.Paths.get(root, "_snapshots", ".tmp-9-crashed"),
      "junk".getBytes("UTF-8"))
    // a young orphan is protected by the grace window
    val (d0, t0) = t.vacuumOrphans(graceMs = 3600000L)
    assert((d0, t0) == ((0, 0)), s"grace must protect young orphans, removed ($d0, $t0)")
    // two orphan dirs die: the crashed commit AND the intra-commit
    // cascade intermediate (v4's level-1 merge target was itself merged
    // to level 2 within the same publish, so no manifest ever listed it)
    val (d1, t1) = t.vacuumOrphans(graceMs = 0L)
    assert(d1 == 2 && t1 == 1, s"expected crash dir + cascade intermediate + tmp, got ($d1, $t1)")
    // current read unaffected; TIME TRAVEL unaffected (compacted-out dirs
    // are referenced by older manifests and must survive the vacuum)
    assert(rows(t) == (1 to 4).map(i => s"u$i" -> i).toMap)
    assert(t.readAt(spark, 2).get.count() == 2L, "older version must still read after vacuum")
    // idempotent: nothing left to remove
    assert(t.vacuumOrphans(graceMs = 0L) == ((0, 0)))
  }

  test("manifest codec: render(parse(m)) is byte-identical for every manifest the writer emits") {
    val root = tmp()
    val t = new SnapshotTable(root, compactFanIn = 3, statsCol = Some("url"))
    t.deleteKeys(Seq("u0").toDF("url"), "d0") // delete-only on an empty table: no schema line
    t.append(Seq(("u1", 1), ("u2", 1)).toDF("url", "gen"), "c1")
    t.append(Seq((7, 2)).toDF("other", "gen"), "c2") // no stats column: statless entry
    t.upsert(Seq(("u1", 3)).toDF("url", "gen"), "c3", Seq("url")) // tips fanIn=3: compaction
    t.deleteKeys(Seq("u2").toDF("url"), "d1")
    t.append(Seq(("u4", 4)).toDF("url", "gen"), "c4")
    t.rollbackTo(3, "rb")
    val manifests = t.versions().map(v =>
      new String(Files.readAllBytes(java.nio.file.Paths.get(root, "_snapshots", f"v$v%08d.manifest")), "UTF-8"))
    manifests.foreach(m => assert(t.render(t.parseManifest(m)) == m, s"round trip changed:\n$m"))
    // every layout the writer emits is covered
    val lines = manifests.flatMap(_.split("\n").drop(3)).map(_.split("\t", -1))
    assert(manifests.exists(!_.contains("\nschema:")), "a schema-less manifest")
    assert(lines.exists(f => f.length == 5) && lines.exists(f => f.length == 3 && f(0) != "D") &&
      lines.exists(_(0) == "D"), "stats, statless and delete lines")
    assert(manifests.exists(_.contains("compacted-")), "a compacted entry")
  }

  test("every written dir records what a footer read-back derives: rows, min/max, schema, bloom bytes") {
    import org.apache.spark.sql.types.{StringType, StructType}
    val root = tmp()
    val t = new SnapshotTable(root, compactFanIn = 3, statsCol = Some("url"))
    val ts = java.sql.Timestamp.valueOf("2024-01-02 03:04:05")
    t.deleteKeys(Seq("u0").toDF("url"), "d0")
    t.append(Seq(("u1", 1), ("u2", 1)).toDF("url", "gen"), "c1")
    t.append(Seq((7, 2)).toDF("other", "gen"), "c2")
    t.upsert(Seq(("u1", 3)).toDF("url", "gen"), "c3", Seq("url"))
    t.deleteKeys(Seq("u2").toDF("url"), "d1")
    t.append(Seq(("u4", 4)).toDF("url", "gen"), "c4")
    t.rollbackTo(3, "rb")
    t.append(Seq(("u5", 5, "x")).toDF("url", "gen", "extra"), "c5") // schema evolution
    t.append(Seq(("u6", Seq(("a", 1), ("b", 2)), Array[Byte](1, 2, 3), ts)).toDF("url", "items", "blob", "ts"), "c6")
    // tips the level-0 fan-in: a compaction over the nested columns
    t.append(Seq(("u7", Seq(("c", 3)), Array[Byte](4), ts), ("u\uD834\uDD1E", Seq.empty[(String, Int)],
      Array.emptyByteArray, ts)).toDF("url", "items", "blob", "ts"), "c7")

    def footer(dir: String): StructType = spark.read.parquet(dir).schema
    def merged(prev: Option[StructType], next: StructType): StructType = prev match {
      case None => next
      case Some(p) => StructType(p.fields ++ next.fields.filterNot(f => p.fieldNames.contains(f.name)))
    }
    var expected = Option.empty[StructType]
    var checkedDirs = Set.empty[String]
    for (v <- t.versions()) {
      val s = t.snapshotAt(v).get
      val last = s.commitIds.last
      expected =
        if (last.startsWith("rollback-to-")) t.snapshotAt(last.stripPrefix("rollback-to-").takeWhile(_ != ':').toInt).get.schema
        else if (t.appended(last)) Some(merged(expected, footer(s"$root/data/$last")))
        else expected
      assert(s.schemaJson == expected.map(_.json), s"schema at v$v")
      for (e <- s.entries if !checkedDirs(e.dir)) {
        checkedDirs += e.dir
        val df = spark.read.parquet(e.dir)
        val rows = df.count()
        assert(e.rows == rows, e.dir)
        val urls =
          if (df.schema.exists(f => f.name == "url" && f.dataType == StringType))
            df.select("url").as[String].collect().toVector.filter(_ != null)
          else Vector.empty
        val stats = df.schema.find(f => f.name == "url" && f.dataType == StringType)
          .map(_ => df.agg(min("url"), max("url")).head())
          .filterNot(_.isNullAt(0)).map(r => (r.getString(0), r.getString(1)))
        assert((e.statMin, e.statMax) == ((stats.map(_._1), stats.map(_._2))), e.dir)
        val sidecar = java.nio.file.Paths.get(e.dir, "_graft.bloom")
        if (stats.isEmpty) assert(!Files.exists(sidecar), e.dir)
        else {
          val bf = org.apache.spark.util.sketch.BloomFilter.create(math.min(math.max(rows, 1L), 4000000L), 0.01)
          urls.foreach(bf.putString)
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          assert(Files.readAllBytes(sidecar).sameElements(bos.toByteArray), e.dir)
        }
      }
    }
    assert(checkedDirs.count(_.contains("/compacted-")) == 2 && checkedDirs.exists(_.endsWith("/c6")))
    val nested = t.latest().get.schema.get
    assert(Seq("items", "blob", "ts").forall(nested.fieldNames.contains), nested.treeString)
  }

  test("driver-written rows publish what a Spark append of the same rows publishes") {
    val batches = Seq(
      Seq(Lineage("a", 0, 1L << 40), Lineage(null, 1, 2L)),
      Seq.empty[Lineage],
      Seq(Lineage("\uD834\uDD1E", -3, -1L)))
    val (sparkRoot, driverRoot) = (tmp(), tmp())
    val viaSpark = new SnapshotTable(sparkRoot, compactFanIn = 2)
    val viaDriver = new SnapshotTable(driverRoot, compactFanIn = 2)
    for ((rs, i) <- batches.zipWithIndex) {
      viaSpark.append(rs.toDF().coalesce(1), s"c$i")
      viaDriver.append(spark, rs, s"c$i")
      val dir = s"$driverRoot/data/c$i"
      val files = Files.list(java.nio.file.Paths.get(dir))
      try assert(files.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")) == 1, dir)
      finally files.close()
      // unpinned: the footer alone yields the recorded schema and the rows
      assert(spark.read.parquet(dir).schema == viaDriver.latest().get.schema.get, dir)
      assert(spark.read.parquet(dir).as[Lineage].collect().toSeq == rs, dir)
    }
    def manifests(root: String): Vector[String] = new SnapshotTable(root).versions().map { v =>
      new String(Files.readAllBytes(java.nio.file.Paths.get(root, "_snapshots", f"v$v%08d.manifest")), "UTF-8")
        .replace(root, "<root>")
    }
    assert(manifests(driverRoot) == manifests(sparkRoot))
    assert(viaDriver.latest().get.dataDirs.exists(_.contains("/compacted-")), "driver-written dirs compact")
    assert(viaDriver.read(spark).get.as[Lineage].collect().toSet == batches.flatten.toSet)

    val noScores = intercept[IllegalArgumentException](new SnapshotTable(tmp()).append(spark, Seq(Scored("a", 1.0)), "c1"))
    assert(noScores.getMessage.contains("string/int/long"), noScores.getMessage)
    val noStats = intercept[IllegalArgumentException](
      new SnapshotTable(tmp(), statsCol = Some("id")).append(spark, batches.head, "c1"))
    assert(noStats.getMessage.contains("'id'"), noStats.getMessage)
    val noPlain = intercept[IllegalArgumentException](
      new SnapshotTable(tmp(), plainCols = Set("id")).append(spark, batches.head, "c1"))
    assert(noPlain.getMessage.contains("id are plain"), noPlain.getMessage)
  }

  test("driver-written rows' file is byte-identical to what a default-conf ExampleParquetWriter writes") {
    val rs = Seq(Lineage("a", 0, 1L << 40), Lineage(null, 1, 2L), Lineage("\uD834\uDD1E", -3, -1L))
    val t = new SnapshotTable(tmp())
    t.append(spark, rs, "c0")
    val msg = new SparkToParquetSchemaConverter().convert(t.latest().get.schema.get)
    val ref = Paths.get(tmp(), "ref.parquet")
    val w = ExampleParquetWriter.builder(new LocalOutputFile(ref))
      .withType(msg).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rs.foreach { r =>
      val g = new SimpleGroupFactory(msg).newGroup()
      if (r.id != null) g.add(0, r.id)
      g.add(1, r.part)
      g.add(2, r.bytes)
      w.write(g)
    } finally w.close()
    val written = Files.readAllBytes(Paths.get(t.root, "data", "c0", "part-00000.snappy.parquet"))
    assert(written.toSeq == Files.readAllBytes(ref).toSeq)
  }

  test("a malformed manifest line fails loudly, naming the file") {
    val root = tmp()
    val t = new SnapshotTable(root)
    t.append(Seq(("u1", 1)).toDF("url", "gen"), "c1")
    val p = java.nio.file.Paths.get(root, "_snapshots", "v00000001.manifest")
    Files.write(p, (new String(Files.readAllBytes(p), "UTF-8") + "\nnot-an-entry").getBytes("UTF-8"))
    val e = intercept[IllegalStateException](t.latest())
    assert(e.getMessage.contains("v00000001.manifest") && e.getMessage.contains("not-an-entry"),
      e.getMessage)
  }
}
