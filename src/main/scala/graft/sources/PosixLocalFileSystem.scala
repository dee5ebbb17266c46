package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file://` FileSystem with permissions set in the JVM.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and Hadoop calls it for every file it creates
  * (`createOutputStreamWithMode`) and every directory it makes
  * (`mkOneDirWithMode`): task files, their `.crc` sidecars, the
  * `_temporary` trees of a commit and `_SUCCESS`. This subclass sets the
  * same bits with one `Files.setPosixFilePermissions` call. The sticky
  * bit has no `PosixFilePermission`, so a sticky mode still goes through
  * Hadoop's own path.
  */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(
      pathToFile(p).toPath, PosixLocalFileSystem.posixBits(permission))
}

/** The checksummed `file://` FileSystem over [[PosixRawLocalFileSystem]]:
  * `.crc` sidecars and checksum checks as in Hadoop's `LocalFileSystem`,
  * which it stays, because `FileSystem.getLocal` casts to that class.
  */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

object PosixLocalFileSystem {

  /** The rwx bits of `permission`: `PosixFilePermission` lists them in
    * mode order, owner read (0400) first.
    */
  private[sources] def posixBits(
      permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
      if ((mode & (0x100 >> i)) != 0) bits.add(bit)
    }
    bits
  }
}
