package graft.io

import java.io.InputStream
import java.nio.charset.{Charset, StandardCharsets}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.hadoop.io.Text
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, GraftCsvBridge, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.ExprUtils
import org.apache.spark.sql.execution.datasources.{HadoopFileLinesReader, PartitionedFile}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** `spark.read.format("cams").load(...)`: the CAMS `csv_expert` format by
  * short name, and the scan [[CamsExpertCsv.read]] plans. A
  * `CSVFileFormat` with the schema rule and [[CamsExpertCsv.csvOptions]]
  * of [[CamsExpertCsv]]: paths, globs, codecs, file splits, the session's
  * Hadoop conf, column pruning, pushed filters and the `PERMISSIVE`
  * corrupt-record handling are all Spark's.
  *
  * Only the tokenizing differs. Spark's line-mode scan hands univocity
  * one decoded `String` per line, which re-arms the parser for every line
  * and ends each one by throwing an `EOFException`. Here the split's lines
  * (Spark's `HadoopFileLinesReader`, so split boundaries and codecs stay
  * Spark's) are joined with `\n` and tokenized as one stream by Spark's
  * `UnivocityParser.parseStream`, with the same parser and options. Blank
  * and `#` lines are dropped as line mode drops them. A line that holds
  * the quote character, so that a quoted value can never span lines, or
  * that would begin a stream with a byte univocity could read as a
  * byte-order mark, goes through Spark's per-line parse. Options the stream cannot follow
  * line for line (`multiLine`, `header`, `lineSep`, a charset other than
  * UTF-8, a single variant column) read through Spark's line mode.
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
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val opts = options ++ CamsExpertCsv.csvOptions
    val sql = spark.sessionState.conf
    def csvOptions(o: Map[String, String]) = new CSVOptions(
      o, sql.csvColumnPruning, sql.sessionLocalTimeZone, sql.columnNameOfCorruptRecord)
    val csv = csvOptions(opts)
    if (!CamsDataSource.streamable(csv))
      return super.buildReader(spark, dataSchema, partitionSchema, requiredSchema, filters,
        opts, hadoopConf)
    // the driver-side checks of CSVFileFormat.buildReader
    val corrupt = csv.columnNameOfCorruptRecord
    ExprUtils.verifyColumnNameOfCorruptRecord(dataSchema, corrupt)
    if (requiredSchema.length == 1 && requiredSchema.head.name == corrupt)
      throw GraftCsvBridge.corruptRecordOnlyError()
    val pruning = csv.isColumnPruningEnabled(requiredSchema)
    val pushed = filters.filterNot(_.references.contains(corrupt))
    // Spark's line and stream parses each assert their own `multiLine`
    // setting in the header checker; with `header` off neither checks a line
    val streamCsv = csvOptions(opts + ("multiLine" -> "true"))
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf))

    (file: PartitionedFile) => {
      val dataCols = StructType(dataSchema.filterNot(_.name == corrupt))
      val requiredCols = StructType(requiredSchema.filterNot(_.name == corrupt))
      val parser = new UnivocityParser(dataCols, requiredCols, csv, pushed)
      val schema = if (pruning) requiredCols else dataCols
      val source = s"CSV file: ${file.urlEncodedPath}"
      val lineChecker = new CSVHeaderChecker(schema, csv, source, file.start == 0)
      val streamChecker = new CSVHeaderChecker(schema, streamCsv, source, file.start == 0)
      val lines = new HadoopFileLinesReader(file, csv.lineSeparatorInRead, conf.value.value)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => lines.close()))
      val tokenizer = parser.tokenizer
      new CamsDataSource.Runs(lines, csv.quote.toByte).flatMap {
        case Left(line) =>
          // A run ends with the tokenizer stopped, and a stopped tokenizer's
          // next parseLine starts afresh and drops a leading U+FEFF, which
          // line mode drops only from a split's first line: re-arm it first.
          if (line.startsWith("\uFEFF") && tokenizer.getContext != null &&
              tokenizer.getContext.isStopped) tokenizer.parseLine(" ")
          GraftCsvBridge.parseIterator(Iterator.single(line), parser, lineChecker, requiredSchema)
        case Right(run) => GraftCsvBridge.parseStream(run, parser, streamChecker, requiredSchema)
      }
    }
  }

  // CSVFileFormat equals any CSVFileFormat; a plain csv relation over the
  // same files reads other rows, so the two must not match (cache lookup)
  override def canEqual(that: Any): Boolean = that.isInstanceOf[CamsDataSource]
  override def equals(that: Any): Boolean = canEqual(that)
}

object CamsDataSource {

  /** Whether the stream parse reads what Spark's line mode reads. */
  private def streamable(o: CSVOptions): Boolean =
    !o.multiLine && !o.headerFlag && o.lineSeparatorInRead.isEmpty &&
      o.singleVariantColumn.isEmpty && o.quote < 0x80 &&
      Charset.forName(o.charset) == StandardCharsets.UTF_8

  /** The kept lines of one split as alternating runs: `Left(line)` for a
    * line the per-line parse takes, or `Right(stream)`, a stream of the
    * plain lines that follow, each ended by `\n`, up to the next held line
    * or the end of the split. A line is held when it holds the quote
    * character, or when it would begin a stream with a byte that can open
    * a byte-order mark (0x00, 0xef, 0xfe, 0xff), which univocity strips or
    * decodes by at the start of a stream only. Blank and `#` lines (the
    * comment character [[CamsExpertCsv.csvOptions]] sets) are skipped, as
    * Spark's `filterCommentAndEmpty` skips them: in UTF-8 every byte of a
    * multi-byte character is ≥ 0x80, so a line of bytes ≤ 0x20 is the line
    * whose `String.trim` is empty. A run must be read to its end before the
    * next is taken.
    */
  private final class Runs(lines: Iterator[Text], quote: Byte)
      extends Iterator[Either[String, InputStream]] {
    private var line: Text = _   // the plain line being streamed
    private var pos = 0          // its next byte; getLength is its '\n'
    private var held: String = _ // a line for the per-line parse
    private var done = false

    /** Reads up to the next kept line, unless one is pending; `inRun` when
      * a stream asks, so the line continues its run. The reader reuses its
      * `Text`, so this runs only once `line` is spent.
      */
    private def advance(inRun: Boolean): Unit =
      while (line == null && held == null && !done) {
        if (!lines.hasNext) done = true
        else {
          val t = lines.next()
          val b = t.getBytes
          val n = t.getLength
          var i = 0
          var blank = true
          var quoted = false
          while (i < n) {
            if ((b(i) & 0xff) > 0x20) blank = false
            if (b(i) == quote) quoted = true
            i += 1
          }
          if (!blank && b(0) != '#') {
            if (quoted || (!inRun && (b(0) == 0 || (b(0) & 0xff) >= 0xef)))
              held = new String(b, 0, n, StandardCharsets.UTF_8)
            else { line = t; pos = 0 }
          }
        }
      }

    override def hasNext: Boolean = { advance(inRun = false); held != null || line != null }

    override def next(): Either[String, InputStream] = {
      if (!hasNext) throw new NoSuchElementException("no run left in the split")
      if (held == null) Right(stream)
      else { val h = held; held = null; Left(h) }
    }

    private object stream extends InputStream {
      override def read(): Int = {
        val one = new Array[Byte](1)
        if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
      }

      override def read(buf: Array[Byte], off: Int, len: Int): Int = {
        var n = 0
        while (n < len && line != null) {
          val left = line.getLength - pos
          if (left > 0) {
            val k = math.min(left, len - n)
            System.arraycopy(line.getBytes, pos, buf, off + n, k)
            pos += k
            n += k
          } else {
            buf(off + n) = '\n'
            n += 1
            line = null
            advance(inRun = true)
          }
        }
        if (n == 0 && len > 0) -1 else n
      }
    }
  }
}
