package org.apache.spark.sql.catalyst.csv

import java.io.InputStream

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's stream-mode and line-mode CSV parses and its
  * corrupt-record error, `private[sql]` in their Scala signatures (the
  * same forwarder idiom as `GraftColumnBridge`): `graft.io.CamsDataSource`
  * tokenizes each file split as one stream through it, and the lines the
  * stream must not take one by one, with Spark's parser, `CSVOptions` and
  * `FailureSafeParser`.
  */
object GraftCsvBridge {
  def parseIterator(
      lines: Iterator[String],
      parser: UnivocityParser,
      headerChecker: CSVHeaderChecker,
      schema: StructType): Iterator[InternalRow] =
    UnivocityParser.parseIterator(lines, parser, headerChecker, schema)

  def parseStream(
      in: InputStream,
      parser: UnivocityParser,
      headerChecker: CSVHeaderChecker,
      schema: StructType): Iterator[InternalRow] =
    UnivocityParser.parseStream(in, parser, headerChecker, schema)

  /** The error Spark's CSV scan raises when a query over raw files
    * references only the corrupt-record column.
    */
  def corruptRecordOnlyError(): Throwable =
    QueryCompilationErrors.queryFromRawFilesIncludeCorruptRecordColumnError()
}
