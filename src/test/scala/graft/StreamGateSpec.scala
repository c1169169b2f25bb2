package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

/** How the `q_st*` streaming gates treat their paths: table paths given
  * as `file:` URIs stream and size like plain paths, a missing table is
  * a named error, the session's shuffle partitions survive a failing
  * gate, and file-sink output is scoped per (application, dir).
  */
class StreamGateSpec extends SparkTestBase {
  import spark.implicits._

  private val Shuffle = "spark.sql.shuffle.partitions"

  private def uri(dir: String): String = new java.io.File(dir).toURI.toString.stripSuffix("/")

  /** A `documents` parquet DIRECTORY of four part files, ~12 MB of
    * incompressible hex text: more than one 8 MB state partition.
    */
  private lazy val bigDocs: String = {
    val dir = Files.createTempDirectory("graft-gate-big").toString
    spark.range(0, 90000, 1, 4)
      .select(col("id").as("doc_id"), concat_ws(" ",
        (0 until 4).map(i => md5(concat(lit(s"$i-"), col("id").cast("string")))): _*)
        .as("text"))
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def stateParts(path: String): Int =
    SparkEntry.withBoundedStreamState(spark, Seq(path))(spark.conf.get(Shuffle).toInt)

  test("q_st2 over a file: URI parquet directory returns the plain path's rows") {
    val q = SparkEntry.queries("q_st2_stream_dedup")
    val plain = q(spark, bigDocs).as[String].collect().sorted
    val viaUri = q(spark, uri(bigDocs)).as[String].collect().sorted
    assert(plain.length === 90000)
    assert(viaUri.length === plain.length)
    assert(viaUri.sameElements(plain))
  }

  test("withBoundedStreamState sizes a file: URI like the plain path") {
    val plain = stateParts(s"$bigDocs/documents.parquet")
    assert(plain >= 2)
    assert(stateParts(s"${uri(bigDocs)}/documents.parquet") === plain)
  }

  test("a missing table path fails the gate with an error naming the path") {
    val missing = Files.createTempDirectory("graft-gate-missing").resolve("nowhere").toString
    val e = intercept[Exception](SparkEntry.queries("q_st2_stream_dedup")(spark, missing))
    assert(e.getMessage.contains(s"$missing/documents.parquet"))
  }

  test("spark.sql.shuffle.partitions is restored when the gate body throws") {
    val dir = Files.createTempDirectory("graft-gate-notext").toString
    Seq(1L, 2L).toDF("doc_id").write.parquet(s"$dir/documents.parquet") // no `text`
    val s = spark.newSession()
    s.conf.set(Shuffle, "7")
    intercept[AnalysisException](SparkEntry.queries("q_st2_stream_dedup")(s, dir))
    assert(s.conf.get(Shuffle) === "7")
  }

  test("q_st5 on two dirs writes two per-application sink paths") {
    def docs(ids: Range): String = {
      val dir = Files.createTempDirectory("graft-gate-st5").toString
      ids.map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
        .write.parquet(s"$dir/documents.parquet")
      dir
    }
    val (a, b) = (docs(1 to 3), docs(10 to 14))
    val q = SparkEntry.queries("q_st5_stream_file_sink")
    def sinkDir(dir: String): String = {
      val dirs = q(spark, dir).inputFiles.map(f => new Path(f).getParent.toString).distinct
      assert(dirs.length === 1)
      dirs.head
    }
    val (outA, outB) = (sinkDir(a), sinkDir(b))
    assert(outA !== outB)
    Seq(outA, outB).foreach(o => assert(o.contains(spark.sparkContext.applicationId)))
    assert(spark.read.parquet(outA).count() === 3) // b's run left a's sink alone
    assert(spark.read.parquet(outB).count() === 5)
  }
}
