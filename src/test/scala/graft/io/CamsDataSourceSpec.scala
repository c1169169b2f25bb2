package graft.io

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import graft.SparkTestBase
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._

class CamsDataSourceSpec extends SparkTestBase {

  private lazy val fixture = VerifyFixtures.camsExpertFixture()

  private lazy val tmp = Files.createTempDirectory("graft-cams-source")

  /** `format("cams")` returns the schema and rows of [[CamsExpertCsv.read]]. */
  private def assertSameAsRead(path: String): Int = {
    val byName = spark.read.format("cams").load(path)
    val read = CamsExpertCsv.read(spark, path)
    assert(byName.schema === read.schema)
    assert(byName.count() === read.count())
    val a = byName.collect().map(_.toString).sorted.toSeq
    val b = read.collect().map(_.toString).sorted.toSeq
    assert(a === b)
    a.length
  }

  test("format(\"cams\") resolves by short name and matches the csv reader path") {
    assert(assertSameAsRead(fixture) > 100)
  }

  test("column pruning reaches the reader: projected scan parses only requested fields") {
    val v2 = spark.read.format("cams").load(fixture)
      .select(col("GHI"))
    val scan = v2.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec => f
    }
    assert(scan.isDefined, v2.queryExecution.executedPlan.toString)
    assert(scan.get.relation.fileFormat.isInstanceOf[CSVFileFormat])
    assert(scan.get.requiredSchema.fieldNames.toSeq === Seq("GHI"),
      scan.get.simpleString(1000))
    assert(scan.get.simpleString(1000).contains("ReadSchema: struct<GHI:double>"))
    // corrupt GHI line ("abc") comes back null; corrupt-time line still
    // yields a row here (time filtering is the pipeline's job)
    val vals = v2.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(vals.contains(None))
    assert(vals.flatten.nonEmpty)
  }

  test("multi-path load reads every path") {
    val two = spark.read.format("cams").load(fixture, fixture)
    val one = spark.read.format("cams").load(fixture)
    assert(two.count() === 2 * one.count())
  }

  test("blank lines are skipped, matching the csv reader path") {
    val dir = Files.createTempDirectory("cams-blank")
    val src = new String(Files.readAllBytes(Paths.get(fixture)), "UTF-8")
    val p = dir.resolve("raw_blank.csv")
    Files.write(p, (src + "\n\n\n").getBytes("UTF-8"))
    val v2 = spark.read.format("cams").load(p.toString)
    val v1 = CamsExpertCsv.read(spark, p.toString)
    assert(v2.count() === v1.count())
  }

  test("schema inference types the observation period as string, data columns as double") {
    val schema = spark.read.format("cams").load(fixture).schema
    assert(schema.fields.head.name === "Observation period")
    assert(schema.fields.head.dataType.typeName === "string")
    assert(schema.fields.tail.forall(_.dataType.typeName === "double"))
  }

  test("a cached plain csv read of the same file does not stand in for format(\"cams\")") {
    val plain = spark.read.schema(CamsExpertCsv.read(spark, fixture).schema).csv(fixture).cache()
    try {
      plain.count()
      assertSameAsRead(fixture)
    } finally plain.unpersist()
  }

  test("a gzip copy reads the same rows as the csv reader path") {
    val gz = tmp.resolve("raw_fixture.csv.gz")
    val out = new GZIPOutputStream(Files.newOutputStream(gz))
    try Files.copy(Paths.get(fixture), out) finally out.close()
    assert(assertSameAsRead(gz.toString) === assertSameAsRead(fixture))
  }

  test("a file: URI and a two-file glob read the same rows as the csv reader path") {
    val uri = Paths.get(fixture).toUri.toString
    assert(uri.startsWith("file:"))
    assert(assertSameAsRead(uri) === assertSameAsRead(fixture))
    val dir = Files.createDirectory(tmp.resolve("glob"))
    Seq("raw_a.csv", "raw_b.csv").foreach(n => Files.copy(Paths.get(fixture), dir.resolve(n)))
    assert(assertSameAsRead(s"$dir/raw_*.csv") === 2 * assertSameAsRead(fixture))
  }
}
