package graft.io

import java.nio.file.{Files, Path}

import graft.SparkTestBase
import graft.obs.Profile

/** The driver-side csv_expert header sniff: any preamble length, any
  * path form the reader accepts, a named error without a header, and no
  * Spark job.
  */
class CamsExpertCsvSpec extends SparkTestBase {

  private lazy val tmp = Files.createTempDirectory("graft-cams-sniff")

  private def write(dir: Path, name: String, header: String, preamble: Int = 3): Path = {
    val body = (1 until preamble).map(i => s"# Metadata line $i;;;\n").mkString +
      s"# $header\n2024-01-01T00:00:00.0/2024-01-01T00:01:00.0;1.0;2.0\n"
    Files.write(dir.resolve(name), body.getBytes("UTF-8"))
  }

  test("a 300-line # preamble resolves to its last # line") {
    val p = write(tmp, "raw_long.csv", "Observation period;GHI;DHI", preamble = 300)
    assert(CamsExpertCsv.sniffHeader(spark, p.toString) ===
      Seq("Observation period", "GHI", "DHI"))
  }

  test("a file: URI path reads the same header as the plain path") {
    val p = write(tmp, "raw_uri.csv", "Observation period;BNI")
    assert(p.toUri.toString.startsWith("file:"))
    assert(CamsExpertCsv.sniffHeader(spark, p.toUri.toString) ===
      CamsExpertCsv.sniffHeader(spark, p.toString))
  }

  test("a glob or a directory takes the first matching file by path") {
    val dir = Files.createDirectory(tmp.resolve("glob"))
    write(dir, "raw_b.csv", "Observation period;B")
    write(dir, "raw_a.csv", "Observation period;A")
    write(dir, "_hidden.csv", "Observation period;HIDDEN")
    assert(CamsExpertCsv.sniffHeader(spark, s"$dir/raw_*.csv") ===
      Seq("Observation period", "A"))
    assert(CamsExpertCsv.sniffHeader(spark, dir.toString) ===
      Seq("Observation period", "A"))
  }

  test("a gzip file decodes by its extension, as the csv scan does") {
    val p = tmp.resolve("raw_zipped.csv.gz")
    val gz = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    try gz.write("# meta\n# Observation period;GHI\nx;1\n".getBytes("UTF-8")) finally gz.close()
    assert(CamsExpertCsv.sniffHeader(spark, p.toString) === Seq("Observation period", "GHI"))
  }

  test("a file with no # line raises the named require error") {
    val p = tmp.resolve("raw_bare.csv")
    Files.write(p, "Observation period;GHI\n1;2\n".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](CamsExpertCsv.sniffHeader(spark, p.toString))
    assert(e.getMessage.contains("no '#' header found"), e.getMessage)
  }

  test("sniffHeader starts no Spark job") {
    val p = write(tmp, "raw_jobs.csv", "Observation period;GHI", preamble = 300)
    val (cols, stats) = Profile(spark)(CamsExpertCsv.sniffHeader(spark, p.toString))
    assert(cols === Seq("Observation period", "GHI"))
    assert(stats.jobs === 0)
  }
}
