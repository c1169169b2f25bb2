package graft.streaming

import java.nio.file.Files

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.functions._

/** The streaming dedup spelling of the q_st2 gate — `dropDuplicates` on
  * the md5 fingerprint — run through [[SparkEntry.runToMemory]] over two
  * micro-batches: a fingerprint first seen in batch 1 is not emitted
  * again by batch 2, so the appended sink holds each fingerprint once.
  */
class StreamDedupSpec extends SparkTestBase {
  import spark.implicits._

  test("md5-fingerprint dropDuplicates holds state across micro-batches") {
    val src = Files.createTempDirectory("graft-sdedup").toString
    // ONE part file per batch dir, so maxFilesPerTrigger=1 makes exactly
    // one micro-batch of each
    Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "alpha beta"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$src/b1")
    Seq((4L, "gamma delta"), (5L, "epsilon zeta"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$src/b2")
    val schema = spark.read.parquet(s"$src/b1").schema
    val docs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/*")

    val fp = docs.select(substring(md5(col("text")), 1, 16).as("fp"))
      .dropDuplicates("fp")
    val (got, batches) = MicroBatches(spark) {
      SparkEntry.runToMemory(spark, fp, "t_sdedup", "append").as[String].collect().toSeq
    }
    assert(batches === 2)
    val expected = Seq("alpha beta", "gamma delta", "epsilon zeta")
      .toDF("text").select(substring(md5(col("text")), 1, 16)).as[String].collect()
    assert(got.sorted === expected.toSeq.sorted) // each fingerprint exactly once
  }
}
