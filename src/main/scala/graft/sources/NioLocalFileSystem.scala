package graft.sources

import java.io.{File, FileNotFoundException}
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, PosixFileAttributes, PosixFilePermission}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system over [[NioRawLocalFileSystem]]:
  * the same `.crc` side files, with no process started per file.
  * `GraftSession` registers it for the `file:` scheme.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFileSystem` with permissions set and read through
  * `java.nio.file.Files`. Without Hadoop's native library, the parent
  * forks `chmod` for every file and directory it creates (through
  * `setPermission`) and `ls -ld` for every status whose permission,
  * owner or group is read. Needs a POSIX platform. `PosixFilePermission`
  * has no sticky bit: setting one still goes through the parent, and a
  * status reports none.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, toPosix(permission))

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val attrs =
      try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
      catch { case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $f does not exist")
      }
    new LazyPosixStatus(attrs, getDefaultBlockSize(f), file,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** The parent lists a directory through [[getFileStatus]] but builds
    * a file's own status itself.
    */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))
}

object NioRawLocalFileSystem {
  /** `PosixFilePermission` in bit order: OWNER_READ is 0400 … OTHERS_EXECUTE 0001. */
  private val Bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => p -> (0x100 >> i) }

  private def toPosix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    Bits.collect { case (p, bit) if (mode & bit) != 0 => p }.toSet.asJava
  }

  private def fromPosix(perms: java.util.Set[PosixFilePermission]): FsPermission =
    new FsPermission(Bits.collect { case (p, bit) if perms.contains(p) => bit }.sum.toShort)

  /** A status whose permission, owner and group are read on first use,
    * as Hadoop's own local status does, but with one `stat` call.
    */
  private final class LazyPosixStatus(attrs: BasicFileAttributes, blockSize: Long,
                                      file: File, path: Path)
      extends FileStatus(attrs.size, attrs.isDirectory, 1, blockSize,
        attrs.lastModifiedTime.toMillis, attrs.lastAccessTime.toMillis,
        null, null, null, path) {
    @volatile private var loaded = false

    private def load(): Unit = if (!loaded) synchronized {
      if (!loaded) {
        val posix = Files.readAttributes(file.toPath, classOf[PosixFileAttributes])
        setPermission(fromPosix(posix.permissions))
        setOwner(posix.owner.getName)
        setGroup(posix.group.getName)
        loaded = true
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }
}
