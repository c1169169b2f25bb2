package graft.io

import org.apache.spark.sql.DataFrame

/** Bucketed-table co-location (builder scale checklist: "repartition/
  * bucketing for co-located joins").
  *
  * A fact table joined repeatedly on the same key (orders ⋈ lineitem on
  * orderkey; documents ⋈ signatures on doc_id) should be written
  * bucketed: both sides hash-partitioned into the same bucket count at
  * write time, so every subsequent join/aggregation on that key runs
  * with ZERO shuffle — the scan itself reports the partitioning and
  * Catalyst drops the Exchange. At 100 TB that converts the dominant
  * repeated cost (a full shuffle per join) into a one-time write cost.
  */
object Bucketing {

  /** Write `df` as a bucketed, sorted parquet table in the session
    * catalog. `buckets` should be sized so each bucket is O(shuffle
    * partition target) at full scale.
    *
    * Idempotent across JVMs: the in-memory catalog forgets tables on
    * restart while the warehouse directory persists, so a bare
    * `saveAsTable` would refuse the stale location — drop both first.
    */
  /** Append to an existing bucketed table (create it if absent) —
    * incremental stores grow per ingest; each append adds one file per
    * bucket per job, preserving the bucket spec so downstream
    * co-located joins keep their zero-Exchange property. Interleave
    * with [[graft.io.Layout.compact]]-style maintenance when the
    * per-bucket file count accretes.
    */
  def appendBucketed(
      df: DataFrame, table: String, keys: Seq[String], buckets: Int): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table)) {
      // The in-memory catalog forgets tables on JVM restart while the
      // warehouse directory persists. Routing that case through
      // writeBucketed would DELETE the surviving store (an incremental
      // dedup history, in StreamNearDup's case) and silently replace it
      // with one batch — so re-register the surviving data with its
      // bucket spec instead; bucket ids live in the part-file names, so
      // a re-registered table keeps its co-location guarantees.
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val loc = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc) && fs.listStatus(loc).nonEmpty) {
        val schema = Parquet.read(spark, loc.toString).schema.toDDL
        val cluster = keys.map(k => s"`$k`").mkString(", ")
        spark.sql(
          s"""CREATE TABLE `$table` ($schema) USING parquet
             |CLUSTERED BY ($cluster) SORTED BY ($cluster) INTO $buckets BUCKETS
             |LOCATION '${loc.toString}'""".stripMargin)
      } else {
        writeBucketed(df, table, keys, buckets)
        return
      }
    }
    df.write
      .mode("append")
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.drop(1): _*)
      .sortBy(keys.head, keys.drop(1): _*)
      .saveAsTable(table)
  }

  def writeBucketed(
      df: DataFrame, table: String, keys: Seq[String], buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, keys.head, keys.drop(1): _*)
      .sortBy(keys.head, keys.drop(1): _*)
      .saveAsTable(table)
  }
}
