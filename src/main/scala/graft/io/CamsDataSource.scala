package graft.io

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 provider for the CAMS `csv_expert` format — the same
  * semantics as [[CamsExpertCsv.read]] (commented `#` preamble, last
  * comment line is the `;`-separated header, string observation period +
  * lenient doubles), surfaced as a first-class pluggable source:
  *
  * {{{ spark.read.format("cams").load("/path/raw_*.csv") }}}
  *
  * What makes this engine-grade rather than a parser wrapper:
  *  - schema inference happens once on the driver from the first file's
  *    header ([[CamsExpertCsv.sniffHeader]]: a bounded streaming read
  *    that starts no Spark job);
  *  - column pruning is pushed INTO the reader
  *    (`SupportsPushDownRequiredColumns`): a projection of 2 columns
  *    splits each line and parses only those 2 fields — the V2 analogue
  *    of parquet's ReadSchema pruning, visible in `.explain`;
  *  - one input partition per file (CAMS station-files are single-digit
  *    MB; a block-splitting path would slice on line boundaries the same
  *    way Spark's text source does).
  *
  * Reference semantics: `/root/reference/code/get-cams-solrad-ts.py:62-96`.
  */
class CamsDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "cams"

  override def supportsExternalMetadata(): Boolean = true

  private def paths(options: CaseInsensitiveStringMap): Seq[Path] = {
    val spark = SparkSession.active
    // multi-path load(p1, p2, ...) arrives as a JSON-encoded array in
    // the 'paths' option (DataFrameReader serializes it with Jackson),
    // NOT comma-separated
    val multi = Option(options.get("paths")).toSeq.flatMap { json =>
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(json, classOf[Array[String]]).toSeq
    }
    val raw = Option(options.get("path")).toSeq ++ multi
    require(raw.nonEmpty, "cams source requires a path")
    val conf = spark.sessionState.newHadoopConf()
    raw.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      Option(fs.globStatus(hp)).toSeq.flatten.map(_.getPath)
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val first = paths(options).headOption
      .getOrElse(throw new IllegalArgumentException("cams source: no files matched"))
    CamsExpertCsv.schemaFor(CamsExpertCsv.sniffHeader(SparkSession.active, first.toString))
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    CamsTable(schema, paths(new CaseInsensitiveStringMap(properties)))
}

private[io] case class CamsTable(tableSchema: StructType, files: Seq[Path])
    extends Table with SupportsRead {
  override def name(): String = s"cams(${files.size} files)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    CamsScanBuilder(tableSchema, files.map(_.toString))
}

private[io] case class CamsScanBuilder(fullSchema: StructType, files: Seq[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema

  /** Column pruning pushed into the reader: only the requested fields
    * are parsed per line.
    */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve the source's field order; Spark projects on top
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => keep.contains(f.name)))
  }

  override def build(): Scan = CamsScan(fullSchema, required, files)
}

private[io] case class CamsScan(
    fullSchema: StructType, required: StructType, files: Seq[String])
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"CamsScan ReadSchema: ${required.fieldNames.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => CamsInputPartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    CamsReaderFactory(fullSchema.fieldNames, required)
}

private[io] case class CamsInputPartition(file: String) extends InputPartition

private[io] case class CamsReaderFactory(allNames: Array[String], required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CamsPartitionReader(partition.asInstanceOf[CamsInputPartition].file,
      allNames, required)
}

/** Per-file reader: skips the `#` preamble, splits on `;`, parses ONLY
  * the pruned columns — lenient doubles (unparseable → null), matching
  * the PERMISSIVE semantics of the csv path.
  */
private[io] class CamsPartitionReader(
    file: String, allNames: Array[String], required: StructType)
    extends PartitionReader[InternalRow] {

  // column index in the raw line → position in the output row
  private val wanted: Array[(Int, Int, Boolean)] =
    required.fields.zipWithIndex.map { case (f, outIdx) =>
      (allNames.indexOf(f.name), outIdx, f.dataType == StringType)
    }

  private val reader = {
    val p = new Path(file)
    // executor-side FS access with a fresh Configuration: sufficient for
    // local/HDFS-default deployments; a production build would thread a
    // serialized driver conf through the reader factory for object
    // stores with credentials in the session conf
    val fs = p.getFileSystem(new Configuration())
    new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    var line = reader.readLine()
    // skip the comment preamble AND blank lines — Spark's csv source
    // drops empty lines, and the two read paths must agree row-for-row
    while (line != null && (line.startsWith("#") || line.trim.isEmpty))
      line = reader.readLine()
    if (line == null) { current = null; false }
    else {
      val parts = line.split(";", -1)
      val row = new Array[Any](required.length)
      wanted.foreach { case (srcIdx, outIdx, isString) =>
        if (srcIdx >= 0 && srcIdx < parts.length) {
          val v = parts(srcIdx).trim
          row(outIdx) =
            if (isString) UTF8String.fromString(v)
            else try java.lang.Double.valueOf(v) catch { case _: NumberFormatException => null }
        }
      }
      current = InternalRow.fromSeq(row.toIndexedSeq)
      true
    }
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
