package graft.io

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType

import graft.SparkTestBase
import graft.obs.Profile

/** [[Parquet.read]] gives the schema Spark's own (non-merging)
  * inference gives, and reads the footer on the driver instead of in a
  * Spark job.
  */
class ParquetSpec extends SparkTestBase {

  private val Tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  private def assertParity(paths: String*): Unit =
    assert(Parquet.read(spark, paths: _*).schema === spark.read.parquet(paths: _*).schema,
      paths.mkString(", "))

  private def uri(path: String): String = new java.io.File(path).toURI.toString.stripSuffix("/")

  for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"every $sf table reads with the inferred schema") {
      Tables.foreach(t => assertParity(s"/root/testdata/$sf/$t.parquet"))
    }

  test("a TIMESTAMP(NANOS) column reads as long, as the session's nanosAsLong says") {
    val path = new Path(Files.createTempDirectory("graft-parquet-nanos").toString, "e.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val conf = spark.sessionState.newHadoopConf()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(path, conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    assertParity(path.toString)
    val df = Parquet.read(spark, path.toString)
    assert(df.schema("ts").dataType === LongType)
    assert(df.select("ts").head().getLong(0) === 1700000000123456789L)
  }

  test("a replica directory of part files, its file: URI and several paths read like Spark") {
    val dst = Files.createTempDirectory("graft-parquet-replica").toString
    ScaleReplicate.ensure(spark, "/root/testdata/sf0.001", dst, 2)
    Tables.foreach { t =>
      assertParity(s"$dst/$t.parquet")
      assertParity(uri(s"$dst/$t.parquet"))
    }
    assertParity("/root/testdata/sf0.001/documents.parquet", s"$dst/documents.parquet")
    val (rows, stats) = Profile(spark)(Parquet.read(spark, s"$dst/events.parquet").schema)
    assert(rows.nonEmpty && stats.jobs === 0)
  }

  test("a date-partitioned layout keeps its inferred partition column") {
    val out = Files.createTempDirectory("graft-parquet-parts").resolve("t").toString
    Layout.writeDatePartitioned(
      graft.Tables.events(spark, "/root/testdata/sf0.001").select(col("event_id"), col("ts")),
      "ts", out)
    assertParity(out)
    assert(Parquet.read(spark, out).columns.last === "p_date")
  }

  test("a file-sink output directory is read through its metadata log, as Spark does") {
    val root = Files.createTempDirectory("graft-parquet-sink")
    val src = root.resolve("src").toString
    val out = root.resolve("out").toString
    spark.range(5).select(col("id").as("doc_id")).write.parquet(src)
    spark.readStream.schema("doc_id LONG").parquet(src).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    // a stray file the sink never committed, with another schema, sorted first
    spark.range(1).select(col("id").as("aaa")).coalesce(1).write.parquet(s"$out/_tmp")
    Files.list(root.resolve("out/_tmp")).filter(_.toString.endsWith(".parquet")).forEach(p =>
      Files.move(p, root.resolve("out/a-stray.parquet")))
    assertParity(out)
    assert(Parquet.read(spark, out).columns.toSeq === Seq("doc_id"))
  }

  test("a missing path raises Spark's own error") {
    val missing = Files.createTempDirectory("graft-parquet-missing").resolve("none").toString
    val e = intercept[AnalysisException](Parquet.read(spark, missing))
    assert(e.getMessage.contains("none"))
  }
}
