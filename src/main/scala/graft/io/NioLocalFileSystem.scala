package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem the engine's sessions use (`Sessions.tuned` sets
  * `spark.hadoop.fs.file.impl` to it): Hadoop's checksummed
  * `LocalFileSystem` over a raw filesystem that sets permissions through
  * `java.nio` instead of a forked `chmod`.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs
  * `chmod <mode> <file>` in a child process, and Hadoop calls it for every
  * file and directory it creates with a permission: each output file and
  * its `.crc`, each checkpoint file. A `create` + `close` took 10.5 ms that
  * way and 0.3 ms through `Files.setPosixFilePermissions` (4-core VM).
  * `java.nio` has no sticky bit, so a mode that carries one, and a store
  * without POSIX attributes, still take Hadoop's own path.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val file = pathToFile(p).toPath
      if (permission.getStickyBit ||
          !file.getFileSystem.supportedFileAttributeViews.contains("posix")) {
        super.setPermission(p, permission)
      } else {
        Files.setPosixFilePermissions(file, posix(permission.toShort))
      }
    }
  }

  /** The nine mode bits as `java.nio` permissions (`PosixFilePermission`
    * lists them owner-read first, the order of the octal digits).
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (p, i) if (mode >> (8 - i) & 1) == 1 => p }
      .toSet.asJava
}
