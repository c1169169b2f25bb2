package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.{SparkEntry, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The built-in `session_window` spelling of the q_st7 gate run through
  * [[SparkEntry.runToMemory]] over two micro-batches: an event in batch
  * 2 within the gap of a batch-1 session extends that session, and the
  * complete-mode table equals the same aggregation run in batch.
  */
class StreamSessionWindowSpec extends SparkTestBase {
  import spark.implicits._

  private def sessions(events: DataFrame): DataFrame = events
    .withColumn("ts", date_trunc("second", col("ts")))
    .withWatermark("ts", "1 hour")
    .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
    .agg(count(lit(1)).as("n_events"))
    .select(col("user_id"), col("session_window.start").as("start"), col("n_events"))

  test("session_window merges across micro-batches, equals batch") {
    val src = Files.createTempDirectory("graft-sesswin").toString
    def ts(s: String) = Timestamp.valueOf(s"2024-01-01 $s")
    // ONE part file per batch dir, so maxFilesPerTrigger=1 makes exactly
    // one micro-batch of each
    Seq((1L, ts("00:00:00")), (1L, ts("00:10:00.400")), (2L, ts("00:00:00")))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$src/b1")
    // u1 00:35 is within 30 minutes of 00:10 (batch 1): same session
    Seq((1L, ts("00:35:00")), (1L, ts("02:00:00")), (2L, ts("01:00:00")))
      .toDF("user_id", "ts").coalesce(1).write.parquet(s"$src/b2")
    val schema = spark.read.parquet(s"$src/b1").schema
    val events = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/*")

    val (got, batches) = MicroBatches(spark) {
      SparkEntry.runToMemory(spark, sessions(events), "t_sesswin", "complete")
        .as[(Long, Timestamp, Long)].collect().toSeq.sortBy(r => (r._1, r._2.getTime))
    }
    assert(batches === 2)
    assert(got === Seq(
      (1L, ts("00:00:00"), 3L), (1L, ts("02:00:00"), 1L),
      (2L, ts("00:00:00"), 1L), (2L, ts("01:00:00"), 1L)))
    val batch = sessions(spark.read.parquet(s"$src/*"))
      .as[(Long, Timestamp, Long)].collect().toSeq.sortBy(r => (r._1, r._2.getTime))
    assert(got === batch)
  }
}
