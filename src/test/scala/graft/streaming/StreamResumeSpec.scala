package graft.streaming

import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkTestBase
import graft.io.Parquet

/** Kill and resume under the session's checkpoint manager: a q_st2-shaped
  * `dropDuplicates` stream stopped after one source file and restarted
  * from the same checkpoint emits what one run over both files emits,
  * and no fingerprint twice.
  */
class StreamResumeSpec extends SparkTestBase {
  import spark.implicits._

  /** Writes `texts` as one parquet file named `name` in `src`. */
  private def addFile(src: JPath, name: String, texts: String*): Unit = {
    val staging = Files.createTempDirectory("graft-resume-stage")
    texts.toDF("text").coalesce(1).write.mode("overwrite").parquet(staging.resolve("t").toString)
    Files.list(staging.resolve("t")).filter(_.getFileName.toString.endsWith(".parquet"))
      .forEach(p => Files.move(p, src.resolve(name)))
  }

  /** One `AvailableNow` run of the dedup over `src` from `ckpt`; returns
    * the fingerprints its batches emitted.
    */
  private def run(src: JPath, ckpt: JPath): Seq[String] = {
    val docs = spark.readStream.schema(Parquet.read(spark, src.toString).schema)
      .parquet(src.toString)
    val fp = docs.select(substring(md5(col("text")), 1, 16).as("fp")).dropDuplicates("fp")
    val emitted = ArrayBuffer[String]()
    fp.writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        emitted ++= batch.as[String].collect()
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    emitted.toSeq
  }

  test("the session renames checkpoint files through FileSystem") {
    val ckpt = new Path(Files.createTempDirectory("graft-resume-mgr").toUri)
    val mgr = CheckpointFileManager.create(ckpt, spark.sessionState.newHadoopConf())
    assert(mgr.isInstanceOf[FileSystemBasedCheckpointFileManager])
  }

  test("a dedup stream stopped after one file resumes from its checkpoint") {
    val root = Files.createTempDirectory("graft-resume")
    val src = Files.createDirectory(root.resolve("src"))
    addFile(src, "part-1.parquet", "alpha beta", "gamma delta", "alpha beta")
    val first = run(src, root.resolve("ckpt"))
    addFile(src, "part-2.parquet", "gamma delta", "epsilon zeta", "epsilon zeta")
    val resumed = run(src, root.resolve("ckpt"))
    val once = run(src, root.resolve("ckpt-once"))

    def fp(t: String) = Seq(t).toDF("t").select(substring(md5(col("t")), 1, 16)).as[String].head()
    assert(first.sorted === Seq(fp("alpha beta"), fp("gamma delta")).sorted)
    assert(resumed === Seq(fp("epsilon zeta")))
    val emitted = first ++ resumed
    assert(emitted.distinct.size === emitted.size)
    assert(emitted.sorted === once.sorted)
  }
}
