package graft.core

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's local filesystem with two
  * calls made as syscalls instead of child processes.
  *
  * Without `libhadoop` (Spark's distribution ships none),
  * `RawLocalFileSystem.setPermission` forks `chmod` for every file and
  * directory it creates with a permission, and `getFileLinkStatus` forks
  * `readlink` on every `AbstractFileSystem` rename. A stream checkpoint
  * creates four files per state-store delta (the delta, its `.crc`,
  * Spark's checksum sidecar and that sidecar's `.crc`) and renames each
  * into place; a text or parquet commit creates its task-attempt dirs and
  * part files the same way. A drained `st_*` twin started about 236
  * child processes, and a pass of the benchmark's `mapreduce` workload
  * (two text commits) 66.
  *
  * Everything else is Hadoop's: the `.crc` files ([[LocalFileSystem]] and
  * [[ChecksumFs]] stay on top), the committers, the permission bits
  * written, and a real symlink's status. [[Conf]] registers the classes
  * for both Hadoop entry points of the `file` scheme; every session the
  * engine builds applies it.
  */
object LocalFs {

  /** `spark.hadoop.*` settings that make `FileSystem.get` (committers,
    * text and parquet writes) and `FileContext` (Spark's streaming
    * checkpoint manager) resolve `file:` paths to these classes.
    */
  val Conf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[FileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[AbstractFs].getName)

  // S_IFMT, S_IFDIR, and S_ISUID | S_ISGID
  private val TypeBits = 0xF000
  private val DirType = 0x4000
  private val SetIdBits = 0xC00

  /** `RawLocalFileSystem` with `chmod` and the link check as syscalls. */
  class Raw extends RawLocalFileSystem {

    /** `Files.setPosixFilePermissions`, the bits `chmod %04o` would leave.
      * Goes to Hadoop's `chmod` for what the nine rwx bits cannot say: a
      * sticky bit, a store without POSIX attributes, and a directory with
      * set-user- or set-group-ID, which `chmod 0755` keeps on a directory
      * while a 9-bit mode would clear them.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val f = pathToFile(p).toPath
      val syscall = !permission.getStickyBit && (try {
        val mode = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
        (mode & TypeBits) != DirType || (mode & SetIdBits) == 0
      } catch { case _: UnsupportedOperationException => false })
      if (syscall) Files.setPosixFilePermissions(f, posix(permission))
      else super.setPermission(p, permission)
    }

    /** What Hadoop returns for a path that is not a symlink is its
      * `getFileStatus`; only a real symlink needs Hadoop's `readlink`.
      */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: Hadoop's checksummed local filesystem over [[Raw]]. */
  class FileSystem extends LocalFileSystem(new Raw)

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` over [[Raw]]. */
  class AbstractFs(@annotation.unused uri: URI, conf: Configuration)
      extends ChecksumFs(new RawAbstractFs(conf))

  /** Hadoop's `RawLocalFs` (package-private there) over [[Raw]]. Like
    * `LocalFs`, it is bound to `file:///` whatever path it was asked for.
    */
  private class RawAbstractFs(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new Raw, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The nine rwx bits of `p` as NIO permissions. */
  private def posix(p: FsPermission): java.util.Set[attribute.PosixFilePermission] = {
    val bits = p.toShort
    val out = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
    // the enum lists owner rwx, group rwx, others rwx: bit 8 down to bit 0
    attribute.PosixFilePermission.values.foreach { q =>
      if ((bits & (1 << (8 - q.ordinal))) != 0) out.add(q)
    }
    out
  }
}
