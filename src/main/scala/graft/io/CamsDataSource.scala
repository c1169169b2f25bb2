package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** `spark.read.format("cams").load(...)`: the CAMS `csv_expert` format by
  * short name. It is Spark's CSV file source with the schema and options
  * of [[CamsExpertCsv]], so it plans the same `FileSourceScanExec` as
  * [[CamsExpertCsv.read]]: paths, globs, compression codecs, file splits,
  * the session's Hadoop conf and column pruning are all Spark's.
  */
class CamsDataSource extends CSVFileFormat {

  override def shortName(): String = "cams"

  /** Schema from the header of the first file by path, on the driver. */
  override def inferSchema(
      spark: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] =
    files.map(_.getPath).minByOption(_.toString).map(f => CamsExpertCsv.schemaFor(
      CamsExpertCsv.headerOf(spark.sessionState.newHadoopConf(), f)))

  override def buildReader(
      spark: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] =
    super.buildReader(spark, dataSchema, partitionSchema, requiredSchema, filters,
      options ++ CamsExpertCsv.csvOptions, hadoopConf)

  // CSVFileFormat equals any CSVFileFormat; a plain csv relation over the
  // same files reads other rows, so the two must not match (cache lookup)
  override def canEqual(that: Any): Boolean = that.isInstanceOf[CamsDataSource]
  override def equals(that: Any): Boolean = canEqual(that)
}
