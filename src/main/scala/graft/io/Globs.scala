package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Driver-side glob expansion through the pattern's Hadoop `FileSystem`.
  * A reader handed the matched paths instead of the pattern skips
  * Spark's single-path metadata probe (`FileStreamSink.hasMetadata`),
  * which looks the pattern up as a literal path and logs a
  * `FileNotFoundException` WARN for a read that succeeds.
  */
object Globs {

  /** The paths `glob` matches, qualified and in `globStatus` order (the
    * order Spark's own glob expansion gives); a glob that matches
    * nothing raises an error naming it.
    */
  def expand(spark: SparkSession, glob: String): Seq[String] = {
    val pattern = new Path(glob)
    val fs = pattern.getFileSystem(spark.sessionState.newHadoopConf())
    val paths = Option(fs.globStatus(pattern)).toSeq.flatten.map(_.getPath.toString)
    require(paths.nonEmpty, s"no file matches $glob")
    paths
  }
}
