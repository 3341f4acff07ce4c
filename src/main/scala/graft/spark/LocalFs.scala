package graft.spark

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system (`.crc` files included) with a
  * `setPermission` that does not fork. Without libhadoop, the stock
  * `RawLocalFileSystem.setPermission` runs a `chmod` process for every file
  * and directory a write creates, about 8 ms per file together with its new
  * directory. Here the nine rwx bits are set with
  * `Files.setPosixFilePermissions` instead. A permission with the sticky bit,
  * or a path that already has a special bit (a directory that inherited
  * setgid, which `chmod` keeps), still takes Hadoop's own path, so the
  * resulting modes are those of a stock local write.
  *
  * A write opts in through its Hadoop conf, which reaches the driver's
  * committer and every executor's writer ([[LocalFs.writerOptions]]). */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Writer options that route a `file:` write through [[LocalFs]]. The
    * cache is off for that conf: the cached `file:` instance is keyed by
    * scheme and user, not by conf, and would be the stock one. */
  val writerOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      // 0x1ff = the nine rwx bits; 0xe00 = setuid, setgid, sticky
      if ((permission.toShort & ~0x1ff) != 0 ||
          (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) != 0)
        super.setPermission(p, permission)
      else // without special bits, toString is the 9-character "rwxr-x---" form
        Files.setPosixFilePermissions(file, PosixFilePermissions.fromString(permission.toString))
    }
  }
}
