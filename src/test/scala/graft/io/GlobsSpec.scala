package graft.io

import java.nio.file.Files

import graft.SparkTestBase

class GlobsSpec extends SparkTestBase {

  test("expand lists the matches in path order, qualified") {
    val dir = Files.createTempDirectory("graft-globs")
    Seq("b.bin", "a.bin", "c.txt").foreach(n => Files.write(dir.resolve(n), Array[Byte](1)))
    assert(Globs.expand(spark, s"$dir/*.bin") === Seq(s"file:$dir/a.bin", s"file:$dir/b.bin"))
  }

  test("a glob that matches nothing raises an error naming it") {
    val glob = s"${Files.createTempDirectory("graft-globs-empty")}/*.csv"
    val e = intercept[IllegalArgumentException](Globs.expand(spark, glob))
    assert(e.getMessage.contains(s"no file matches $glob"), e.getMessage)
  }
}
