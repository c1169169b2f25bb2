package graft.io

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Reader for CAMS `csv_expert` files (SURVEY.md §2.1 S2).
  *
  * Format (reference `/root/reference/code/get-cams-solrad-ts.py:53-88`):
  * `;`-delimited; all metadata lines AND the header line are prefixed with
  * `#`; the **last** `#` line before the first data line is the header.
  *
  * Two-phase read, Spark-first:
  *  1. sniff the header from the top of the file (only the commented
  *     prefix is examined — a bounded driver-side read, independent of
  *     file size);
  *  2. one distributed `format("cams")` scan ([[CamsDataSource]]) with
  *     that schema and [[csvOptions]]: a Spark CSV file scan whose splits
  *     are each tokenized as one stream, so every metadata line is
  *     skipped and column pruning / predicate pushdown work as usual.
  * A schema-less `spark.read.format("cams").load(...)` is the same scan,
  * its schema read from the same header on the driver.
  */
object CamsExpertCsv {

  /** Columns that stay strings; everything else in a csv_expert file is
    * numeric (irradiance, cloud cover, angles...).
    */
  private val stringCols = Set("Observation period")

  /** Driver-side header sniff: last `#`-prefixed line before data.
    * Streams the first file `path` matches, by path (a glob, or a
    * directory's visible files), through Hadoop `FileSystem` (any scheme,
    * codecs by extension) and stops at the first data line: the cost is
    * the preamble's at any file size, and no Spark job starts.
    */
  def sniffHeader(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val glob = new Path(path)
    val fs = glob.getFileSystem(conf)
    val file = Option(fs.globStatus(glob)).toSeq.flatten
      .flatMap(s => if (!s.isDirectory) Seq(s) else fs.listStatus(s.getPath).toSeq
        .filter(c => c.isFile && !Seq("_", ".").exists(c.getPath.getName.startsWith)))
      .map(_.getPath).minByOption(_.toString)
      .getOrElse(throw new IllegalArgumentException(s"no csv_expert file matches $path"))
    headerOf(conf, file)
  }

  /** The header of one csv_expert file, read as [[sniffHeader]] does. */
  private[io] def headerOf(conf: Configuration, file: Path): Seq[String] = {
    val raw = file.getFileSystem(conf).open(file)
    val in = Option(new CompressionCodecFactory(conf).getCodec(file))
      .fold[InputStream](raw)(_.createInputStream(raw))
    val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    val header =
      try Iterator.continually(reader.readLine())
        .takeWhile(l => l != null && l.startsWith("#")).reduceOption((_, l) => l)
      finally in.close()
    require(header.isDefined, s"no '#' header found in $file")
    header.get.dropWhile(_ == '#').trim.split(";").map(_.trim).toSeq
  }

  /** `;`-separated, `#` lines skipped, bad fields as nulls (failure isolation). */
  val csvOptions: Map[String, String] =
    Map("sep" -> ";", "comment" -> "#", "mode" -> "PERMISSIVE")

  def schemaFor(columns: Seq[String]): StructType =
    StructType(columns.map { c =>
      StructField(c, if (stringCols.contains(c)) StringType else DoubleType, nullable = true)
    })

  /** Read one csv_expert file (or a glob of files sharing a layout). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val cols = sniffHeader(spark, path)
    spark.read.format("cams").schema(schemaFor(cols)).load(path)
  }
}
