package graft

import java.io.FileNotFoundException
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` filesystem of [[Sessions.local]]: Hadoop's checksummed
  * `LocalFileSystem` over [[NioRawLocalFileSystem]], which applies a
  * permission without forking a process.
  *
  * Without Hadoop's native library, the stock raw filesystem runs every
  * `setPermission` as a shell `chmod`, and it calls `setPermission` for
  * every directory `mkdirs` creates and every file `create` opens: about
  * 20 forked processes per `Layout.writeDual` of an extract. Nothing else
  * differs: checksums, deletes and the permissions themselves are
  * Hadoop's.
  *
  * `rename` refuses a destination that is an existing file and returns
  * false, as Hive's `ProxyLocalFileSystem` does. That class served `file:`
  * before, picked from the `FileSystem` service files by jar order, and
  * the sink's rename protocols are written against it. Hadoop's raw rename
  * would replace the file. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    if (isExistingFile(dst)) false else super.rename(src, dst)

  private def isExistingFile(p: Path): Boolean =
    try getFileStatus(p).isFile
    catch { case _: FileNotFoundException => false }
}

/** `RawLocalFileSystem` whose `setPermission` calls `chmod(2)` through
  * `java.nio` instead of forking the `chmod` command, in the one case where
  * both give the same mode: Hadoop's `NativeIO` is absent, the mode fits
  * in `0777`, and the path carries no setuid, setgid or sticky bit (the
  * command keeps a directory's setuid and setgid bits, `chmod(2)` clears
  * them). Every other case, and a path whose filesystem has no POSIX
  * attributes, goes to Hadoop's own implementation. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    val file = pathToFile(p).toPath
    if (NoNativeIO && (mode & ~0x1ff) == 0 && !hasSpecialBits(file))
      Files.setPosixFilePermissions(file, posix(mode))
    else super.setPermission(p, permission)
  }
}

object NioRawLocalFileSystem {
  private val NoNativeIO = !NativeIO.isAvailable

  /** True when `file` has a setuid, setgid or sticky bit, or when its
    * filesystem cannot tell (no `unix` attribute view). */
  private def hasSpecialBits(file: java.nio.file.Path): Boolean =
    try (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0
    catch { case _: UnsupportedOperationException => true }

  /** `PosixFilePermission` declares its values from owner-read (`0400`)
    * down to others-execute (`0001`). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }
}
