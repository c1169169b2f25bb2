package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned storage layout (the directory-level complement to
  * [[Bucketing]]'s bucket-level co-location): write a time-keyed table
  * partitioned by derived date so that date-ranged reads prune whole
  * directories at PLANNING time — at 100 TB, a one-day query against a
  * year of data must list and read ~1/365th of the files, not filter
  * 100 TB row-by-row. The scan's `PartitionFilters` (asserted in
  * `LayoutSpec`) is the evidence: pruning happens before I/O.
  */
object Layout {

  /** Write `df` to `outDir` as parquet partitioned by the date of
    * `tsCol` (directory per day, Hive-style `p_date=...`). The
    * pre-write repartition ON the partition column means each task
    * holds whole dates, so every directory gets ONE file per writing
    * task instead of one file per (task × date) — the classic
    * small-files failure a naive partitioned write produces.
    */
  def writeDatePartitioned(df: DataFrame, tsCol: String, outDir: String): Unit =
    df.withColumn("p_date", to_date(col(tsCol)))
      .repartition(col("p_date"))
      .write.mode("overwrite").partitionBy("p_date").parquet(outDir)

  /** Read a [[writeDatePartitioned]] layout; date predicates on
    * `p_date` prune partitions at planning time.
    */
  def readDatePartitioned(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, dir)

  /** Compact a parquet directory into right-sized files: read, count
    * the layout's current bytes from the file system, rewrite as
    * ceil(bytes / targetFileBytes) files. The operational answer to
    * streaming sinks and incremental appends accreting thousands of
    * KB-sized files (each costing a task + an open + a footer parse per
    * read at 100 TB). Round-robin repartition — not coalesce — so the
    * output files are evenly sized regardless of input skew. Returns
    * the output file count.
    */
  def compact(
      spark: SparkSession, inDir: String, outDir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // overwrite mode deletes the output before the lazy read pulls from
    // it — in-place compaction would destroy the input mid-job
    require(fs.makeQualified(path) != fs.makeQualified(new org.apache.hadoop.fs.Path(outDir)),
      s"compact cannot write in place: $inDir == $outDir")
    val bytes = fs.getContentSummary(path).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    Parquet.read(spark, inDir).repartition(nFiles)
      .write.mode("overwrite").parquet(outDir)
    nFiles
  }

  /** Deterministic shard id for export layouts: a MINSTD (Lehmer)
    * multiplicative hash over an integer id, reduced mod `n`. Pure
    * 64-bit integer arithmetic — no engine-specific hash — so the
    * assignment is reproducible across Spark, DuckDB, and any
    * downstream reader, stable under repartitioning, and independent of
    * row order. The id is reduced mod 2^31−1 BEFORE the multiply, so
    * the intermediate is ≤ (2^31−2)·48271 ≈ 2^47 — no 64-bit overflow
    * for ANY long id (Spark 4 runs ANSI mode, where a silent-wrap
    * Knuth-style `id * 2654435761` throws on large ids — found by the
    * 10× scaled bench, whose replica ids exceed 2^32).
    */
  def shardId(id: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column = {
    require(n >= 1, s"shard count must be >= 1, got $n")
    pmod(pmod(id.cast("long"), lit(2147483647L)) * lit(48271L) % lit(2147483647L),
      lit(n.toLong))
  }

  /** The same shard arithmetic as DuckDB SQL, kept beside the Scala so
    * oracle and operator can never drift.
    */
  def shardIdSql(id: String, n: Int): String = {
    val m = 2147483647L
    s"((((($id % $m) + $m) % $m) * 48271) % $m) % $n"
  }

  /** Export `df` into exactly `n` hash-sharded parquet directories
    * (`shard=K/`), one file per shard: the training-data export layout
    * (a reader can consume shard K alone; re-exports land rows in the
    * same shard). The repartition ON the shard column makes each task
    * hold whole shards — one file per shard, not per (task × shard).
    */
  def writeSharded(df: DataFrame, idCol: String, n: Int, outDir: String): Unit = {
    require(!df.columns.contains("shard"),
      "input already has a 'shard' column; rename it — writeSharded reserves that name")
    df.withColumn("shard", shardId(col(idCol), n))
      .repartition(n, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
  }

  /** Deterministic global training shuffle: export `df` hash-SHARDED
    * (the [[shardId]] arithmetic) and hash-ORDERED within each shard by
    * `(md5(salt || id), id)`. A trainer that consumes shard 0..n-1 in
    * file order sees a reproducible pseudo-random permutation of the
    * corpus — THE export shape for epoch shuffling at 100 TB, where an
    * explicit global sort-by-random would be one giant range shuffle
    * per epoch; here the permutation is a pure function of (id, salt),
    * so re-exports, retries, and other engines reproduce it row for
    * row, and a new salt is a new epoch order.
    *
    * Plan: one hash shuffle on the shard id (each task holds whole
    * shards → one file per shard) with an in-task sort — no global
    * range exchange, no sampling pass. Row order inside each written
    * file IS the (hash, id) order (`sortWithinPartitions` before a
    * partitioned write survives into the parquet row order;
    * `LayoutSpec` pins this physically).
    */
  def writeShuffled(
      df: DataFrame, idCol: String, salt: String, n: Int,
      outDir: String): Unit = {
    require(!df.columns.contains("shard"),
      "input already has a 'shard' column; rename it — writeShuffled reserves that name")
    require(!df.columns.contains("__h"),
      "input already has a '__h' column; rename it — writeShuffled reserves that name")
    df.withColumn("shard", shardId(col(idCol), n))
      .withColumn("__h", graft.ext.Sampling.hashHex(col(idCol), salt))
      .repartition(n, col("shard"))
      .sortWithinPartitions(col("shard"), col("__h"), col(idCol))
      .drop("__h")
      .write.mode("overwrite").partitionBy("shard").parquet(outDir)
  }

  /** Write `df` clustered along `zCol` (a
    * [[graft.functions.ZOrder.zValue]] column): range-partition into
    * `numFiles` z-ranges, sort within each, drop the helper column,
    * write parquet. Because the z-curve keeps both source dimensions
    * locally contiguous, every row group's min/max stats form a tight
    * box in BOTH dimensions — a 2-D range predicate on the read side is
    * pushed to the parquet reader and skips row groups that a
    * single-column sort could only skip for one dimension.
    */
  def writeZOrdered(
      df: DataFrame, zCol: org.apache.spark.sql.Column,
      outDir: String, numFiles: Int): Unit =
    df.withColumn("__z", zCol)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
}
