package graft.core

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a forked process per file.
  *
  * Without libhadoop (Spark ships none), Hadoop's `RawLocalFileSystem`
  * applies a file's or directory's mode by running `chmod` in a child
  * process, and answers `getFileLinkStatus` (every `FileContext` rename,
  * which Spark's streaming checkpoint commits use) by running `readlink`.
  * Every data file, `.crc` sibling and created directory pays a fork.
  * [[Raw]] does the same two operations in-process through `java.nio`:
  *
  *   - `setPermission` applies exactly the requested `rwx` bits;
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus`, which is what the stock code returns for it.
  *
  * The cases `java.nio` cannot reproduce exactly go to the stock code: a
  * sticky bit, a directory carrying setuid/setgid (which `chmod`'s octal
  * form keeps on directories and `chmod(2)` clears), a platform without a
  * POSIX file view, and a real symlink.
  *
  * [[Checksummed]] (the `FileSystem` API) and [[Fs]] (the `FileContext`
  * API) put Hadoop's checksum layer over [[Raw]], as the stock
  * `LocalFileSystem` and `local.LocalFs` do, so `.crc` files, the atomic
  * `FileContext` rename and the `file` scheme are unchanged.
  * [[SparkSessionFactory.builder]] installs both. */
object LocalFs {

  private val Sticky = 0x200 // 01000
  private val SetIds = 0xc00 // 06000
  private val TypeMask = 0xf000 // S_IFMT
  private val Dir = 0x4000 // S_IFDIR

  private val unixView =
    FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** `PosixFilePermission` declares owner/group/others × read/write/execute
    * in `rwxrwxrwx` order, high bit first. */
  private def posixBits(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex.collect {
      case (p, i) if (mode & (0x100 >> i)) != 0 => p
    }.toSet.asJava

  /** The raw local filesystem with in-process `setPermission` and
    * `getFileLinkStatus`. */
  class Raw extends RawLocalFileSystem {

    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0x3ff
      val file = pathToFile(p).toPath
      def keepsSetIds: Boolean = {
        val cur = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
        (cur & TypeMask) == Dir && (cur & SetIds) != 0
      }
      if (!unixView || (mode & Sticky) != 0 || keepsSetIds)
        super.setPermission(p, permission)
      else Files.setPosixFilePermissions(file, posixBits(mode))
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** `fs.file.impl`: the checksummed `LocalFileSystem` over [[Raw]]. */
  class Checksummed extends LocalFileSystem(new Raw)

  /** [[Raw]] behind the `AbstractFileSystem` API, with the overrides of
    * Hadoop's `local.RawLocalFs` (whose constructors are package-private). */
  class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort(): Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  }

  /** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
    * filesystem over [[RawFs]], as Hadoop's `local.LocalFs`. */
  class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))
}
