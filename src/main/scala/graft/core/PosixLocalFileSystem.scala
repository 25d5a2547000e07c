package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed local filesystem (`.crc` files kept) whose
  * `setPermission` does not start a process. Without libhadoop,
  * `RawLocalFileSystem.setPermission` runs `chmod` through
  * `Shell.execCommand` for every file, `.crc` file and directory a
  * write creates: hundreds of ~2 ms process spawns per KG sync.
  * Registered for `file://` by [[Graft]].
  */
class PosixLocalFileSystem extends LocalFileSystem(new PosixLocalFileSystem.Raw)

object PosixLocalFileSystem {

  class Raw extends RawLocalFileSystem {
    /** Same bits as `chmod`, set through `java.nio`. Sticky and other
      * bits outside 0777, and hosts where NativeIO already avoids the
      * shell, keep Hadoop's own path.
      */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (NativeIO.isAvailable || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
    }
  }

  /** `PosixFilePermission` declares OWNER_READ … OTHERS_EXECUTE in the
    * order of the mode bits 0400 … 0001.
    */
  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(perm)
    }
    s
  }
}
