package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal copy-on-write snapshot table: versioned manifests + file-level
  * min/max statistics — the two primitives under every lakehouse table
  * format (commit log + data skipping), built from nothing but parquet
  * and a JSON file per version.
  *
  * Why it matters at 100 TB: a directory listing is not a table. With a
  * manifest, (a) readers see a VERSION — concurrent writers can commit
  * new snapshots without torn reads; (b) time travel is "read an older
  * manifest"; (c) per-file min/max on a layout column lets a selective
  * scan open the FILES that can match, not the directory — file-level
  * skipping sits above parquet's row-group skipping and composes with
  * the range/z-order layouts ([[Layout]]) that make the stats tight.
  *
  * Scale shape: manifests list files + stats (KBs per thousand files) —
  * driver-side JSON by design, like every table format's commit. Stats
  * are collected in one distributed pass over the written files
  * (`input_file_name` group-by), the same job a format's write commit
  * runs. Reads hand Spark an explicit file list — no listing job, no
  * directory scan.
  *
  * Deliberately NOT here: concurrent-commit arbitration (optimistic
  * locking) and schema evolution — single-writer semantics are assumed,
  * documented, and enough for the engine's export/ingest loops.
  */
object SnapshotTable {

  /** Stats row: one parquet file plus min/max of the stats column. */
  case class FileStat(path: String, statMin: String, statMax: String)
  case class Manifest(version: Int, statsCol: String, files: Seq[FileStat])

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(dir: String, version: Int) =
    new Path(dir, f"manifest-v$version%05d.json")

  /** Write `df` as snapshot `version` of the table at `dir`, range-laid
    * by `statsCol` into `numFiles` files so per-file stats are tight.
    * Data files land under `dir/v<version>/`; older versions' files are
    * untouched (copy-on-write). Returns the manifest.
    */
  def writeSnapshot(df: DataFrame, dir: String, version: Int,
      statsCol: String, numFiles: Int): Manifest = {
    require(version > 0, "versions start at 1")
    require(numFiles > 0, "numFiles must be positive")
    val spark = df.sparkSession
    require(!fs(spark, dir).exists(manifestPath(dir, version)),
      s"snapshot v$version already committed at $dir (copy-on-write: pick a new version)")
    val dataDir = s"$dir/v$version"
    df.repartitionByRange(numFiles, col(statsCol))
      .sortWithinPartitions(statsCol)
      .write.mode("overwrite").parquet(dataDir)
    // The commit's stats pass: one distributed scan of what was written.
    val stats = Parquet.read(spark, dataDir)
      .groupBy(input_file_name().as("path"))
      .agg(min(col(statsCol)).cast("string").as("statMin"),
        max(col(statsCol)).cast("string").as("statMax"))
      .collect()
      .map(r => FileStat(r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_.path)
    // an empty snapshot has no file list to hand a reader later — fail
    // the COMMIT, not the read, and say why
    require(stats.nonEmpty,
      s"refusing to commit v$version at $dir: the snapshot is empty")
    val m = Manifest(version, statsCol, stats.toSeq)
    val json =
      s"""{"version":${m.version},"statsCol":"${m.statsCol}","files":[""" +
        m.files.map(f =>
          s"""{"path":${quote(f.path)},"min":${quote(f.statMin)},"max":${quote(f.statMax)}}""")
          .mkString(",") + "]}"
    val out = fs(spark, dir).create(manifestPath(dir, version), false)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    m
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Read the manifest for `version` (driver-side KBs). */
  def readManifest(spark: SparkSession, dir: String, version: Int): Manifest = {
    val p = manifestPath(dir, version)
    val in = fs(spark, dir).open(p)
    val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val entry = """\{"path":(".*?(?<!\\)"),"min":(".*?(?<!\\)"),"max":(".*?(?<!\\)")\}""".r
    val files = entry.findAllMatchIn(json).map { m =>
      FileStat(unquote(m.group(1)), unquote(m.group(2)), unquote(m.group(3)))
    }.toSeq
    val v = """"version":(\d+)""".r.findFirstMatchIn(json).get.group(1).toInt
    val sc = """"statsCol":"([^"]*)"""".r.findFirstMatchIn(json).get.group(1)
    Manifest(v, sc, files)
  }

  private def unquote(s: String): String =
    s.substring(1, s.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")

  /** Time travel: the table exactly as committed at `version` — Spark
    * gets the manifest's explicit file list, never a directory listing.
    */
  def readSnapshot(spark: SparkSession, dir: String, version: Int): DataFrame = {
    val m = readManifest(spark, dir, version)
    Parquet.read(spark, m.files.map(_.path): _*)
  }

  /** Retention expiry: physically delete every snapshot version below
    * `keepFrom` — its data directory AND its manifest. This is the
    * second half of right-to-erasure ([[graft.ext.Privacy.eraseKeys]]
    * removes rows from the CURRENT version copy-on-write; compliance
    * additionally requires the pre-erasure files to stop existing once
    * the retention window closes) and the standard VACUUM every
    * copy-on-write table needs to bound storage.
    *
    * Versions don't share files (each writes `dir/v<N>/`), so expiry
    * is a pure delete — no reference counting. Driver-side filesystem
    * metadata operations only, like every table format's vacuum.
    * Returns the number of versions deleted.
    */
  def expireVersions(spark: SparkSession, dir: String, keepFrom: Int): Int = {
    require(keepFrom >= 1, "keepFrom must be >= 1")
    val f = fs(spark, dir)
    val manifestRe = """manifest-v(\d+)\.json""".r
    val versions = f.listStatus(new Path(dir)).toSeq
      .map(_.getPath.getName)
      .collect { case manifestRe(v) => v.toInt }
    val expired = versions.filter(_ < keepFrom).sorted
    expired.foreach { v =>
      val dataDir = new Path(dir, s"v$v")
      if (f.exists(dataDir)) f.delete(dataDir, true)
      f.delete(manifestPath(dir, v), false)
    }
    expired.size
  }

  /** Stats-pruned read: only files whose [min, max] can intersect
    * [lo, hi] on the stats column are opened. String comparison on the
    * stringified stats is correct for string columns and for
    * fixed-width formatted values; numeric callers pass the same
    * format they wrote. Returns (dataframe, filesRead, filesTotal) so
    * callers — and specs — can SEE the skipping.
    */
  def prunedRead(spark: SparkSession, dir: String, version: Int,
      lo: String, hi: String): (DataFrame, Int, Int) = {
    val m = readManifest(spark, dir, version)
    val hit = m.files.filter(f => f.statMax >= lo && f.statMin <= hi)
    val df =
      if (hit.isEmpty) {
        val empty = Parquet.read(spark, m.files.map(_.path): _*).limit(0)
        empty
      } else Parquet.read(spark, hit.map(_.path): _*)
    (df, hit.size, m.files.size)
  }
}
