package graft.exec

import java.net.URI
import java.nio.file.{FileAlreadyExistsException, Files, LinkOption, Paths}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its child processes. With no native
  * library, `RawLocalFileSystem` runs `chmod` for every file (data and
  * `.crc`) and directory it creates and `readlink` for every
  * `getFileLinkStatus`. These set the same mode through `java.nio` and
  * skip the `readlink` for a path that is no symlink; a mode NIO cannot
  * express (sticky, setuid or setgid bit) and a real symlink take Hadoop's own route.
  * A file rename never replaces an existing file ([[rename]]). */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission's order is the mode's bit order, 0400 first
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  /** A file renamed onto an existing file fails and leaves it as it was,
    * as HDFS and the Hadoop FileSystem specification do ([[Publish.file]]
    * relies on it); Hadoop's `File.renameTo` replaces it. A hard link is
    * the atomic no-replace step, then the old name goes. Directories, a
    * rename onto itself, links across devices and `.crc` siblings (renamed
    * only after their data file moved) take Hadoop's route. */
  override def rename(src: Path, dst: Path): Boolean = {
    val s = pathToFile(src).toPath
    val d = pathToFile(dst).toPath
    val crc = dst.getName.startsWith(".") && dst.getName.endsWith(".crc")
    if (crc || s == d || !Files.isRegularFile(s, LinkOption.NOFOLLOW_LINKS) ||
        Files.isDirectory(d)) super.rename(src, dst)
    else try { Files.createLink(d, s); Files.delete(s); true }
    catch {
      case _: FileAlreadyExistsException => false
      case _: java.io.IOException | _: UnsupportedOperationException =>
        super.rename(src, dst)
    }
  }

  // Hadoop's non-native route reads the link as `new File(f.toString)`
  // and, when `readlink` prints nothing, returns `getFileStatus(f)`.
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` route streaming
  * checkpoints take: Hadoop's `LocalFs` over the fork-free raw filesystem.
  * Hadoop constructs it reflectively from (URI, Configuration), as it does
  * `LocalFs`; the three overrides are those of
  * `org.apache.hadoop.fs.local.RawLocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme,
      false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults()
      override def isValidName(src: String): Boolean = true
    })
