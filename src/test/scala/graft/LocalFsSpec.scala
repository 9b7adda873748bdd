package graft

import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import graft.job.ExtractJob
import graft.pages.PagesGen
import graft.streaming.StreamingExtract
import graft.table.{InProcessRawLocalFs, LocalFs}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def tmp(): String = Files.createTempDirectory("graft-localfs").toString

  /** Every path under `base` with its bytes (files only) and POSIX mode. */
  private def tree(base: String): Vector[(String, Option[Seq[Byte]], String)] = {
    val root = Paths.get(base)
    val walk = Files.walk(root)
    try walk.iterator().asScala.toVector.sortBy(_.toString).map { p =>
      (root.relativize(p).toString,
        Option.when(Files.isRegularFile(p))(Files.readAllBytes(p).toSeq),
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS)))
    } finally walk.close()
  }

  private def initialized[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  test("LocalFs writes the tree, bytes, .crc files and modes the stock LocalFileSystem writes") {
    def exercise(fs: FileSystem, base: String): Unit = {
      def p(s: String) = new Path(base, s)
      def write(f: String, bytes: Array[Byte]): Unit = {
        val o = fs.create(p(f))
        try o.write(bytes) finally o.close()
      }
      assert(fs.mkdirs(p("a/b")))
      write("a/b/f1", Array.tabulate[Byte](3000)(i => (i * 31).toByte))
      write("a/g", "gone".getBytes("UTF-8"))
      write("a/h", Array.emptyByteArray)
      assert(fs.rename(p("a/b/f1"), p("a/f2")))
      assert(fs.delete(p("a/g"), false))
      fs.setPermission(p("a/h"), new FsPermission("640"))
      // the sticky bit takes the stock chmod in both
      assert(fs.mkdirs(p("s"), new FsPermission("1777")))
    }
    val (stock, mine) = (tmp(), tmp())
    exercise(initialized(new LocalFileSystem), stock)
    exercise(initialized(new LocalFs), mine)
    val t = tree(mine)
    assert(t == tree(stock))
    assert(t.map(_._1).toSet == Set("", "a", "a/b", "a/f2", "a/.f2.crc", "a/h", "a/.h.crc", "s"), t.map(_._1))
    assert(t.find(_._1 == "a/h").get._3 == "rw-r-----")
    assert(t.find(_._1 == "a").get._3 == "rwxr-xr-x")
  }

  test("LocalFs.Context renames as Hadoop's LocalFs does: NONE refuses an existing destination, OVERWRITE replaces it") {
    def exercise(impl: String, base: String): Unit = {
      val conf = new Configuration()
      conf.set("fs.AbstractFileSystem.file.impl", impl)
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      def p(s: String) = new Path(base, s)
      def write(f: String, s: String): Unit = {
        val o = fc.create(p(f), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        try o.write(s.getBytes("UTF-8")) finally o.close()
      }
      fc.mkdir(p("logs"), FsPermission.getDirDefault, true)
      write("logs/.0.tmp", "first")
      fc.rename(p("logs/.0.tmp"), p("logs/0"), Options.Rename.NONE)
      write("logs/.1.tmp", "second")
      intercept[FileAlreadyExistsException](fc.rename(p("logs/.1.tmp"), p("logs/0"), Options.Rename.NONE))
      fc.rename(p("logs/.1.tmp"), p("logs/0"), Options.Rename.OVERWRITE)
      write("logs/.2.tmp", "dropped")
      assert(fc.delete(p("logs/.2.tmp"), false))
    }
    val (stock, mine) = (tmp(), tmp())
    exercise(classOf[org.apache.hadoop.fs.local.LocalFs].getName, stock)
    exercise(classOf[LocalFs.Context].getName, mine)
    val t = tree(mine)
    assert(t == tree(stock))
    assert(t.map(_._1).toSet == Set("", "logs", "logs/0", "logs/.0.crc"), t.map(_._1))
    assert(new String(Files.readAllBytes(Paths.get(mine, "logs/0")), "UTF-8") == "second")
  }

  test("a symlink's link status is the stock one, for a live and a dangling link; a missing path is not found") {
    val base = tmp()
    val target = Files.write(Paths.get(base, "target"), "x".getBytes("UTF-8"))
    Files.createSymbolicLink(Paths.get(base, "live"), target)
    Files.createSymbolicLink(Paths.get(base, "dangling"), Paths.get(base, "nowhere"))
    val (stock, mine) = (initialized(new RawLocalFileSystem), initialized(new InProcessRawLocalFs))
    for (name <- Seq("live", "dangling", "target")) {
      val p = new Path(Paths.get(base, name).toString)
      assert(mine.getFileLinkStatus(p).toString == stock.getFileLinkStatus(p).toString, name)
    }
    assert(mine.getFileLinkStatus(new Path(base, "live")).isSymlink)
    assert(mine.getFileLinkStatus(new Path(base, "dangling")).isSymlink)
    for (fs <- Seq(stock, mine))
      intercept[java.io.FileNotFoundException](fs.getFileLinkStatus(new Path(base, "missing")))
  }

  test("no-fork gate: a batch run and a two-epoch stream start no process on the table root or its checkpoint") {
    import spark.implicits._
    val pages = (0 until 80).map(i => PagesGen.row(i.toLong, s"page $i of the no-fork gate", "en"))
    val (batchRoot, inputDir, streamRoot) = (tmp(), tmp(), tmp())
    for (half <- pages.grouped(40))
      spark.createDataset(half).coalesce(1).write.mode("append").parquet(inputDir)
    val spawned = ProcessSpawns.during {
      ExtractJob.run(spark, pages.toDS(), batchRoot, commitId = "c1")
      StreamingExtract.start(spark, inputDir, streamRoot, maxFilesPerTrigger = 1).awaitTermination()
    }
    assert(ExtractJob.resultsTable(batchRoot).latest().get.rowCount == 80)
    assert(ExtractJob.resultsTable(streamRoot).latest().get.commitIds.size == 2, "two epochs")
    val onTables = spawned.filter(c => Seq(batchRoot, streamRoot).exists(c.contains))
    assert(onTables.isEmpty, s"${onTables.size} of ${spawned.size} started processes: ${onTables.take(5)}")
  }
}
