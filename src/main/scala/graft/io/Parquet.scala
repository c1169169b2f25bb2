package graft.io

import java.io.FileNotFoundException

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Schema-less parquet reads without Spark's schema-inference job.
  *
  * `spark.read.parquet(path)` with no schema runs a one-task Spark job
  * only to read one footer (`ParquetFileFormat.mergeSchemasInParallel`):
  * ~0.1 s of each small `query_mix` batch query on a 4-core VM. Here
  * the driver reads the same footer and converts it as that job does,
  * with [[ParquetFileFormat.readSchemaFromFooter]] and the session's
  * converter, so `nanosAsLong`, INT96, NTZ inference and the footer's
  * Spark row metadata apply unchanged.
  */
object Parquet {

  /** `spark.read.parquet(paths: _*)`, given the schema Spark's
    * non-merging inference would find. Paths the helper does not
    * resolve itself — a glob, a missing path, a file-sink output
    * directory (its file list is the `_spark_metadata` log) or no data
    * file at all — are left to Spark's own inference and its errors.
    */
  def read(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(schema) => spark.read.schema(schema).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** Spark's choice of footer (`ParquetUtils.inferSchema` without
    * `mergeSchema`): over every visible leaf file sorted by path, a
    * `_common_metadata` summary, else a `_metadata` one, else the first
    * data file. Directories are listed with `listStatus` only: a
    * `LocatedFileStatus` copies the permission, which on the local
    * filesystem forks an `ls -ld` per file.
    */
  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    if (paths.isEmpty || paths.exists(_.exists("{}[]*?\\".contains(_)))) return None
    val conf = spark.sessionState.newHadoopConf()
    val roots = try paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      fs -> fs.getFileStatus(path)
    } catch { case _: FileNotFoundException => return None }
    roots match {
      case Seq((fs, st)) if st.isDirectory && fs.exists(new Path(st.getPath, "_spark_metadata")) =>
        return None
      case _ =>
    }
    val leaves = roots.flatMap { case (fs, st) => leafFiles(fs, st) }.sortBy(_.getPath.toString)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(leaves.find(f => !isSummary(f.getPath.getName)))
      .map(footer => schemaOf(spark, conf, footer))
  }

  private def isSummary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE

  /** A root file as given; a directory's files at any depth, skipping
    * the names Spark's file index hides (`_x` without `=`, `.x`,
    * `x._COPYING_`) except the two summary files.
    */
  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName))
      .flatMap(c => if (c.isDirectory) leafFiles(fs, c) else Seq(c))

  private def hidden(name: String): Boolean = {
    val exclude = (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")
    exclude && !name.startsWith("_common_metadata") && !name.startsWith("_metadata")
  }

  private def schemaOf(spark: SparkSession, conf: Configuration, st: FileStatus): StructType = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(st, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(st.getPath, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
