package graft.spark

import java.nio.file.Files
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The table layer's `file:` FileSystem: Hadoop's checksummed
  * [[LocalFileSystem]] (same files, same `.crc` files) over
  * [[NioRawLocalFileSystem]]. Without libhadoop, Hadoop's own local FS
  * sets the mode of every file, `.crc` file and directory it creates by
  * starting a `chmod` process; this one sets the same mode bits with one
  * `chmod(2)` call. Hadoop builds it reflectively from `fs.file.impl`,
  * hence the top-level class with a no-arg constructor.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[RawLocalFileSystem]] whose `setPermission` sets the mode through the
  * JDK's `unix:mode` attribute (one `chmod(2)`, the full 12-bit mode)
  * instead of `Shell.execCommand("chmod", "%04o", ...)`. It leaves what
  * that 4-digit `chmod` leaves: the sticky bit and nine permission bits
  * as asked, set-uid/set-gid cleared on a file and kept on a directory.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val asked = permission.toShort & 0x3ff // sticky + rwxrwxrwx (01777)
    val kept = if (Files.isDirectory(file)) mode(file) & 0xc00 else 0 // S_ISUID | S_ISGID
    Files.setAttribute(file, "unix:mode", Int.box(asked | kept))
  }

  private def mode(file: java.nio.file.Path): Int =
    Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
}
