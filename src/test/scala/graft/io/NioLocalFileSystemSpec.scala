package graft.io

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkTestBase

class NioLocalFileSystemSpec extends SparkTestBase {

  private def mode(p: JPath): String = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** A fresh (uncached) `file:` filesystem of `impl` under `umask`. */
  private def fsWith(impl: Class[_], umask: String): FileSystem = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.file.impl", impl.getName)
    conf.set(FsPermission.UMASK_LABEL, umask)
    FileSystem.newInstance(new URI("file:///"), conf)
  }

  /** Modes of a file (created with its parent directory) and of a
    * directory made through `fs`.
    */
  private def created(fs: FileSystem): (String, String) = {
    val root = Files.createTempDirectory("graft-nio-fs")
    val file = root.resolve("made/out.bin")
    val out = fs.create(new Path(file.toUri), true)
    out.write(1); out.close()
    assert(fs.mkdirs(new Path(root.resolve("dir").toUri)))
    (mode(file), mode(root.resolve("dir")))
  }

  test("the session's file: filesystem is NioLocalFileSystem over its java.nio raw filesystem") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass === classOf[NioLocalFileSystem.Raw])
    assert(new Path(Files.createTempDirectory("graft-nio-fs").toUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration).getClass === classOf[NioLocalFileSystem])
  }

  test("created files and directories get the umask-applied modes, as with Hadoop's own") {
    for ((umask, fileMode, dirMode) <- Seq(("022", "rw-r--r--", "rwxr-xr-x"),
                                           ("077", "rw-------", "rwx------"),
                                           ("027", "rw-r-----", "rwxr-x---"))) {
      val nio = fsWith(classOf[NioLocalFileSystem], umask)
      val hadoop = fsWith(classOf[LocalFileSystem], umask)
      try {
        assert(created(nio) === ((fileMode, dirMode)), s"umask $umask")
        assert(created(hadoop) === ((fileMode, dirMode)), s"umask $umask")
      } finally { nio.close(); hadoop.close() }
    }
  }

  test("setPermission: plain modes through java.nio, a sticky bit through Hadoop's path") {
    val fs = FileSystem.get(new URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("graft-nio-fs")
    val file = dir.resolve("f")
    Files.write(file, Array[Byte](1))
    fs.setPermission(new Path(file.toUri), new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(mode(file) === "rw-r-----")
    fs.setPermission(new Path(dir.toUri), new FsPermission(Integer.parseInt("1750", 8).toShort))
    val st = fs.getFileStatus(new Path(dir.toUri)).getPermission
    assert(st.getStickyBit && mode(dir) === "rwxr-x---")
    intercept[java.io.IOException] {
      fs.setPermission(new Path(dir.resolve("missing").toUri), new FsPermission(Integer.parseInt("644", 8).toShort))
    }
  }
}
