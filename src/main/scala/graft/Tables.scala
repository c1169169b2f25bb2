package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.io.Parquet

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md).
  * One parquet per table under `\$dir/<name>.parquet`, read with the
  * footer's schema ([[Parquet.read]]), so a load starts no Spark job.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    Parquet.read(spark, s"$dir/$name.parquet")

  /** Normalize a physical timestamp column to session-TZ TimestampType,
    * whatever parquet encoding the fixture carries. Real corpora mix all
    * three, so every entry point (batch AND stream) must accept:
    *   - TIMESTAMP(NANOS): Spark surfaces it as a raw long under
    *     `spark.sql.legacy.parquet.nanosAsLong=true` ([[Sessions]]);
    *     `div` keeps the nanos→micros conversion exact integer math.
    *   - timestamp[us] with isAdjustedToUTC=false → TIMESTAMP_NTZ in
    *     Spark 4; the cast reinterprets the wall clock in the session
    *     zone, which is exact under the pinned UTC session.
    *   - TIMESTAMP (tz-adjusted) → already what we want; pass through.
    * Missing column is a no-op so the helper is safe on any table.
    */
  def normalizeTs(df: DataFrame, name: String = "ts"): DataFrame =
    if (!df.columns.contains(name)) df
    else df.schema(name).dataType match {
      case LongType =>
        df.withColumn(name, timestamp_micros(expr(s"`$name` div 1000")))
      case TimestampNTZType =>
        df.withColumn(name, col(name).cast(TimestampType))
      case _ => df
    }

  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(load(spark, dir, "events"))
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
