package graft

import org.apache.spark.sql.SparkSession

/** One place for the session config every entry point (Verify, Bench,
  * tests) shares, so correctness-critical settings can't drift.
  */
object Sessions {

  /** Apply the engine's required settings to a builder. */
  def tuned(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // engine extensions: native vector/text-hash functions, the HOF
      // dot-product rewrite, and the window-top-k operator rewrite +
      // strategy (graft.plans.TopKPerKey)
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      // A parquet TIMESTAMP(NANOS) column reads as a long (Tables.events
      // converts one to TimestampType). The testdata's events.ts is
      // TIMESTAMP_NTZ and reads as TimestampNTZType either way.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Streaming checkpoint files are renamed through FileSystem.rename
      // (the manager Spark already uses for stores without FileContext,
      // such as s3a). The default FileContext manager resolves links on
      // the local filesystem by forking `readlink`, one process per
      // checkpoint file, serially on the stream's thread: JFR
      // `jdk.ProcessStart` counted 89 forks per q_st2_stream_dedup run
      // (64 `readlink`, 25 `chmod`), and 25 (0 `readlink`) with this
      // manager; the `fs.file.impl` below removes the 25 `chmod`.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
      // Local files and directories get their permission through java.nio,
      // not a forked `chmod` per file and per `.crc`
      // (graft.io.NioLocalFileSystem).
      .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = tuned(SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
