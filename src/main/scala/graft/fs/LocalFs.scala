package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{FileTime, GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * The `file:` scheme, bound for both Hadoop APIs by the library's
 * `core-site.xml`. Without the native libhadoop, Hadoop's
 * RawLocalFileSystem forks `chmod` for the permission of every created
 * file and directory, and `readlink` for every link-status read, four
 * of which sit in each `FileContext` rename. Every durable write (sink
 * part files, epoch markers, spec records, the streaming offset and
 * commit logs) paid 5–20 ms of forks (PERF_NOTES.md). These classes do
 * that work in-process through java.nio; checksums, the umask and
 * rename semantics stay Hadoop's own.
 */
final class NioRawLocalFileSystem extends RawLocalFileSystem {
  // NIO cannot set the sticky bit: such a permission takes Hadoop's path
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
    }

  // One lstat through the "unix" view, whose mode carries the sticky bit.
  // Symlinks keep Hadoop's path: it resolves and qualifies the target.
  override def getFileLinkStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a = try Files.readAttributes(file.toPath,
        "unix:mode,size,lastModifiedTime,lastAccessTime,owner,group",
        LinkOption.NOFOLLOW_LINKS)
      catch { case _: NoSuchFileException =>
        throw new FileNotFoundException(s"File $f does not exist") }
    val mode = a.get("mode").asInstanceOf[Int]
    val fileType = mode & 0xf000 // S_IFMT
    if (fileType == 0xa000) super.getFileLinkStatus(f) // S_IFLNK
    else {
      def millis(k: String) = a.get(k).asInstanceOf[FileTime].toMillis
      new FileStatus(a.get("size").asInstanceOf[Long],
        fileType == 0x4000, 1, getDefaultBlockSize(f), // S_IFDIR
        millis("lastModifiedTime"), millis("lastAccessTime"),
        new FsPermission((mode & 0x3ff).toShort), // rwx bits + sticky
        a.get("owner").asInstanceOf[UserPrincipal].getName,
        a.get("group").asInstanceOf[GroupPrincipal].getName,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }
  }
}

/** `FileSystem` API: checksummed, like Hadoop's LocalFileSystem. */
final class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` API over [[NioRawLocalFileSystem]], with the overrides
  * of Hadoop's RawLocalFs. */
final class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `FileContext` API: checksummed, like Hadoop's LocalFs. Spark's
  * CheckpointFileManager writes the streaming offset and commit logs
  * through it. */
final class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
