package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.SparkTestBase
import graft.io.VerifyFixtures

/** Smoke cases for the probe entry point: one query, one dir, one
  * iteration gives one parseable line; `ingest` gives one per file.
  */
class ProbeSpec extends SparkTestBase {

  test("Probe prints one parseable line per query, dir and iteration") {
    val dir = "/root/testdata/sf0.001"
    val lines = ArrayBuffer[String]()
    Probe.run(spark, Seq("q_a1_resample", dir, "1"))(lines += _)
    val Line = ("""\[probe\] q_a1_resample (\S+) iter1 wall=([\d.]+)s heap=\d+M->\d+M """ +
      """jobs=(\d+) stages=(\d+) tasks=(\d+) taskTime=[\d.]+s gc=[\d.]+s """ +
      """shufR=[\d.]+MB shufW=[\d.]+MB spill=[\d.]+MB shuffles=(\d+)""").r
    lines.toSeq match {
      case Seq(Line(d, wall, jobs, stages, tasks, shuffles)) =>
        assert(d === dir)
        assert(wall.toDouble > 0.0)
        assert(jobs.toInt >= 1 && stages.toInt >= jobs.toInt && tasks.toInt >= stages.toInt)
        assert(shuffles.toInt === 1)
      case other => fail(s"unexpected probe output: $other")
    }
  }

  test("Probe ingest prints one parseable line per matched csv_expert file") {
    val dir = Files.createTempDirectory("graft-probe-ingest-spec")
    Seq("raw_b.csv", "raw_a.csv").foreach(n =>
      Files.copy(Paths.get(VerifyFixtures.camsExpertFixture()), dir.resolve(n)))
    val lines = ArrayBuffer[String]()
    Probe.run(spark, Seq("ingest", s"$dir/raw_*.csv"))(lines += _)
    val Line = ("""\[probe\] ingest (\S+) wall=([\d.]+)s mb=[\d.]+ jobs=(\d+) stages=\d+ """ +
      """tasks=\d+ taskTime=[\d.]+s gc=[\d.]+s shufR=[\d.]+MB shufW=[\d.]+MB spill=[\d.]+MB""").r
    val files = lines.toSeq.map {
      case Line(file, wall, jobs) =>
        assert(wall.toDouble > 0.0)
        assert(jobs.toInt === 2)
        new org.apache.hadoop.fs.Path(file).getName
      case other => fail(s"unexpected probe output: $other")
    }
    assert(files === Seq("raw_a.csv", "raw_b.csv"))
  }
}
