package graft.sources

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with in-process `chmod` and `readlink`.
  *
  * Without `libhadoop.so`, `RawLocalFileSystem` forks a `chmod` for every
  * file and directory it creates and a `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls on each atomic
  * checkpoint write: offset and commit logs, state-store uploads, index
  * commits. Each fork costs milliseconds; the same work through `java.nio`
  * costs microseconds. Files, checksums and permissions on disk are the
  * same as Hadoop's. `GraftSession` registers [[NioLocalFileSystem]] and
  * [[NioLocalFs]] for the `file:` scheme.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits in-process; a sticky bit goes through Hadoop. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (1 << (8 - i))) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** Hadoop's link check, on the same string Hadoop hands `readlink`
    * (`f.toString`, scheme included): anything that is not a readable
    * link is a plain status, and a real link goes through Hadoop. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val isLink =
      try { Files.readSymbolicLink(new File(f.toString).toPath); true }
      catch { case _: IOException | _: InvalidPathException => false }
    if (isLink) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

/** [[NioRawLocalFileSystem]] with `.crc` checksum files: the `FileSystem`
  * for `file:` (`fs.file.impl`). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` twin of `org.apache.hadoop.fs.local.RawLocalFs`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** [[NioRawLocalFs]] with `.crc` checksum files: the `AbstractFileSystem`
  * for `file:` (`fs.AbstractFileSystem.file.impl`). */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
