package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import graft.SparkTestBase
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** `format("cams")` tokenizes each file split as one stream; Spark's own
  * line-mode CSV scan, with the same schema and
  * [[CamsExpertCsv.csvOptions]], is the reference every case compares
  * against, through both entry points: [[CamsExpertCsv.read]] and a
  * schema-less `format("cams")` load.
  */
class CamsDataSourceSpec extends SparkTestBase {

  private lazy val fixture = VerifyFixtures.camsExpertFixture()

  private lazy val tmp = Files.createTempDirectory("graft-cams-source")

  /** Sorted row strings. */
  private def rowStrings(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Sorted row strings and the count, which plans its own pruned scan. */
  private def rows(df: DataFrame): (Seq[String], Long) = (rowStrings(df), df.count())

  /** Spark's line-mode CSV scan of `path` with the csv_expert options. */
  private def lineMode(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.options(CamsExpertCsv.csvOptions).schema(schema).csv(path)

  /** Both `format("cams")` entry points return the schema and rows of
    * Spark's line-mode scan, whole and under `project`; the row count.
    */
  private def assertSameAsRead(
      path: String,
      s: SparkSession = spark,
      project: DataFrame => DataFrame = identity): Int = {
    val read = CamsExpertCsv.read(s, path)
    val byName = s.read.format("cams").load(path)
    val csv = lineMode(s, path, read.schema)
    assert(byName.schema === csv.schema)
    assert(read.schema === csv.schema)
    val want = rows(project(csv))
    assert(rows(project(read)) === want)
    assert(rows(project(byName)) === want)
    want._1.length
  }

  /** A csv_expert file: the fixture's preamble and header, then `data`. */
  private def withData(name: String, data: String): String = {
    val src = new String(Files.readAllBytes(Paths.get(fixture)), StandardCharsets.UTF_8)
    val header = src.linesIterator.takeWhile(_.startsWith("#")).mkString("", "\n", "\n")
    val p = tmp.resolve(name)
    Files.write(p, (header + data).getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  /** The data lines of the fixture. */
  private lazy val fixtureData: Seq[String] =
    new String(Files.readAllBytes(Paths.get(fixture)), StandardCharsets.UTF_8)
      .linesIterator.filterNot(_.startsWith("#")).toSeq

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
      val plan = spark.read.format("cams").load(fixture).queryExecution.executedPlan
      assert(plan.collectFirst { case c: InMemoryTableScanExec => c }.isEmpty, plan.toString)
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

  test("splits that fall mid-line read the rows of the line-mode scan") {
    val small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    assert(small.read.format("cams").load(fixture).rdd.getNumPartitions > 3)
    assert(assertSameAsRead(fixture, small) === assertSameAsRead(fixture))
  }

  test("CRLF endings, whitespace-only lines and lines that end in spaces") {
    val data = fixtureData.zipWithIndex.map {
      case (l, i) if i % 3 == 0 => l + "\r\n"
      case (l, i) if i % 7 == 1 => l + "   \n  \t \n"
      case (l, i) if i % 5 == 2 => l + "  \n"
      case (l, _) => l + "\n"
    }.mkString
    val path = withData("raw_crlf.csv", data)
    val small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    assert(assertSameAsRead(path) === fixtureData.length)
    assert(assertSameAsRead(path, small) === fixtureData.length)
  }

  test("a # line in the middle of the data is skipped; one after spaces is data") {
    val (a, b) = fixtureData.splitAt(50)
    val path = withData("raw_comment.csv",
      (a ++ Seq("# a note;1;2;3;4", "#", "  # indented;5;6;7;8") ++ b).mkString("", "\n", "\n"))
    assert(assertSameAsRead(path) === fixtureData.length + 1)
  }

  test("a quoted number, an unclosed quote and other odd lines read as line mode reads them") {
    val t = "2024-03-01T05:00:00.0/2024-03-01T05:01:00.0"
    val odd = Seq(
      s"$t;\"3.5\";4.0;5.0;6.0",           // a quoted number
      s"$t;\"4.5;5.0;6.0;7.0",             // a quote that never closes
      s"$t;1.0;2.0;3.0;4.0",              // read on its own after it
      s"$t;1.0;2.0;3.0;4\\",              // a trailing backslash
      s"\uFEFF$t;1.0;2.0;3.0;4.0",        // a byte-order mark mid-run
      s"$t;\"1.0\";2.0;3.0;4.0",
      s"\uFEFF$t;1.0;2.0;3.0;4.0",        // one after a quoted line
      s"\uFEFF$t;\"1.0\";2.0;3.0;4.0",    // a quoted one
      s"$t;1.0;2.0",                      // short
      s"$t;1.0;2.0;3.0;4.0;5.0;6.0",      // long
      s"$t;;;;",                          // empty values
      s"$t;1.0;é;3.0;4.0")                // a multi-byte character
    val (a, b) = fixtureData.splitAt(20)
    // the first data line opens with a byte-order mark too
    val path = withData("raw_odd.csv", (odd.drop(4) ++ a ++ odd ++ b ++ odd).mkString("", "\n", "\n"))
    val small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", "1536")
    val n = fixtureData.length + 3 * odd.length - 4
    assert(assertSameAsRead(path) === n)
    assert(assertSameAsRead(path, small) === n)
    // the line after the unclosed quote keeps its own values
    val got = CamsExpertCsv.read(spark, path).where(col("BNI") === 3.0 && col("GHI") === 1.0)
    assert(got.count() >= 2)
  }

  test("the corrupt-record column holds each malformed line as line mode does") {
    val t = "2024-03-01T05:00:00.0/2024-03-01T05:01:00.0"
    val path = withData("raw_corrupt.csv", (fixtureData ++ Seq(
      s"$t;abc;1.0;2.0;3.0  ", s"$t;\"x;1.0;2.0;3.0", s"$t;1.0;2.0", s"$t;1.0;2.0;3.0;4.0"))
      .mkString("", "\r\n", "\r\n"))
    val schema = CamsExpertCsv.read(spark, path).schema.add("_corrupt_record", StringType)
    def both(s: SparkSession) =
      Seq(s.read.format("cams").schema(schema).load(path), lineMode(s, path, schema))
    val small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    for (s <- Seq(spark, small)) {
      val Seq(cams, csv) = both(s)
      assert(rows(cams) === rows(csv))
      // a count of this would need the corrupt-record column alone
      val corrupt = (df: DataFrame) => rowStrings(df.select("GHI", "_corrupt_record")
        .where(col("_corrupt_record").isNotNull))
      assert(corrupt(cams) === corrupt(csv))
      assert(corrupt(cams).length >= 4)
    }
    // a query of the corrupt-record column alone is refused, as Spark refuses it
    val Seq(cams, csv) = both(spark)
    val errors = Seq(cams, csv).map(df =>
      intercept[AnalysisException](df.select("_corrupt_record").collect()).getCondition)
    assert(errors.head === errors.last)
  }

  test("a pruned projection and a pushed filter read the rows of the line-mode scan") {
    val small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    for (s <- Seq(spark, small)) {
      assertSameAsRead(fixture, s, _.select("GHI"))
      assertSameAsRead(fixture, s, _.select("BNI", "Observation period"))
      assertSameAsRead(fixture, s, _.where(col("DHI") > 55.0).select("GHI"))
    }
  }

  test("options the stream cannot follow line for line read through Spark's line mode") {
    val schema = CamsExpertCsv.read(spark, fixture).schema
    for (opt <- Seq("lineSep" -> "\n", "multiLine" -> "true", "encoding" -> "ISO-8859-1")) {
      val cams = spark.read.format("cams").option(opt._1, opt._2).load(fixture)
      val csv = spark.read.options(CamsExpertCsv.csvOptions + opt).schema(schema).csv(fixture)
      assert(rows(cams) === rows(csv), opt)
      assert(rows(cams)._1.length === fixtureData.length, opt)
    }
  }
}
