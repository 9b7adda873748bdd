package graft.table

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its permission and link calls done
  * in-process. Without Hadoop's native library, the stock class forks a
  * `chmod` for every `mkdirs` and `create` and a `readlink` for every
  * FileContext rename (2.4–4.1 ms each, against microseconds for the NIO
  * call). Everything else, and so every file, byte, mode and `.crc`, is the
  * stock class's.
  */
class InProcessRawLocalFs extends RawLocalFileSystem {

  /** rwx-only modes through NIO; the sticky bit (which NIO cannot set) and
    * a store with no POSIX view keep the stock `chmod`.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // a plain FsPermission of the mode: a subclass (FileContext passes
      // FsCreateModes) may print something other than "rwxr-xr-x"
      val rwx = PosixFilePermissions.fromString(new FsPermission(mode).toString)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, rwx)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** What the stock method returns when `readlink` prints nothing (a file,
    * a directory, or a `FileNotFoundException` for a missing path); a real
    * symlink still goes through the stock method.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `fs.file.impl` for the table's writes: Hadoop's checksummed
  * `LocalFileSystem` (the `.crc` sidecars) over [[InProcessRawLocalFs]].
  */
final class LocalFs extends LocalFileSystem(new InProcessRawLocalFs)

object LocalFs {

  /** The FileContext side (`fs.AbstractFileSystem.file.impl`): Hadoop's
    * `LocalFs` over [[InProcessRawLocalFs]].
    */
  final class Context(uri: URI, conf: Configuration) extends ChecksumFs(new RawContext(uri, conf))

  /** Hadoop's `RawLocalFs` with [[InProcessRawLocalFs]] as its delegate;
    * its three overrides are the stock class's.
    */
  private final class RawContext(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new InProcessRawLocalFs, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    @deprecated("Hadoop deprecates the no-argument form", "")
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }
}
