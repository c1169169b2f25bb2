package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.{Sessions, SparkEntry}
import graft.io.{Globs, Sinks}
import graft.obs.Profile
import graft.ops.Resample
import graft.pipelines.SolarPipelines

/** The probe entry point: builds each named driver query, runs it
  * through the noop sink (every output column evaluated) under
  * [[graft.obs.Profile]], and prints one line per (query, dir,
  * iteration): wall seconds (build + run), heap before → after, the
  * profile's counters and the non-adaptive exchange count
  * (`shuffles=`, the number `PlanBudgetSpec` pins).
  * {{{ runMain graft.tools.Probe <q1,q2,...> <dir>[,<dir2>] [iters] [k=v ...] [plans=<outDir>] }}}
  *  - several dirs run each query on each dir in turn, so a base vs
  *    scaled ratio (a `ReplicateDir` replica) comes from one JVM;
  *  - `k=v` sets a session conf (e.g. `spark.sql.adaptive.enabled=false`);
  *    the queries run in a new session of the local one either way;
  *  - `plans=<outDir>` writes each query's `explain("formatted")` plan
  *    to `<outDir>/<query>_<dir name>.txt`;
  *  - the query name `year` is the reference's full yearly volume,
  *    generated (the dir is not read): see [[year]].
  *
  * {{{ runMain graft.tools.Probe ingest <csv_expert path or glob> [k=v ...] }}}
  * runs the reference's raw-file loop instead: each matched file, one at
  * a time in path order, through `SolarPipelines.resampleRaw` and
  * `Sinks.writeCsv(…, Some("time"))` into a temporary directory, and
  * prints one line per file: wall seconds, the file's MB and the
  * profile's counters. The parse layer can then be profiled on any set
  * of station-year files.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    try run(spark, args.toSeq)(println)
    finally spark.stop()
  }

  def run(root: SparkSession, args: Seq[String])(out: String => Unit): Unit = {
    require(args.length >= 2,
      "usage: Probe <q1,q2,...> <dir>[,<dir2>] [iters] [k=v ...] [plans=<outDir>] | " +
        "Probe ingest <csv_expert path or glob> [k=v ...]")
    val (plans, opts) = args.drop(2).partition(_.startsWith("plans="))
    val (confs, iters) = opts.partition(_.contains("="))
    val spark = root.newSession()
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    if (args.head == "ingest") ingest(spark, args(1))(out)
    else queries(spark, args(0).split(",").toSeq, args(1).split(",").toSeq,
      iters.lastOption.fold(1)(_.toInt), plans.lastOption)(out)
  }

  private def queries(
      spark: SparkSession,
      names: Seq[String],
      dirs: Seq[String],
      iters: Int,
      plans: Option[String])(out: String => Unit): Unit = {
    val planDir = plans.map(p => Files.createDirectories(Paths.get(p.stripPrefix("plans="))))
    val rt = Runtime.getRuntime
    def heapMb = (rt.totalMemory() - rt.freeMemory()) >> 20
    for (name <- names; dir <- dirs; i <- 1 to iters) {
      System.gc()
      val heap0 = heapMb
      val ((df, wall), stats) = Profile(spark) {
        val t0 = System.nanoTime()
        val df = query(spark, name, dir)
        df.write.format("noop").mode("overwrite").save()
        (df, (System.nanoTime() - t0) / 1e9)
      }
      out(f"[probe] $name $dir iter$i wall=$wall%.2fs heap=${heap0}M->${heapMb}M " +
        s"${stats.line} shuffles=${Profile.shuffles(df)}")
      if (i == 1) planDir.foreach { d =>
        Files.writeString(d.resolve(s"${name}_${Paths.get(dir).getFileName}.txt"),
          df.queryExecution.explainString(FormattedMode))
      }
    }
  }

  /** The raw-file loop: each file `glob` matches, resampled and written. */
  private def ingest(spark: SparkSession, glob: String)(out: String => Unit): Unit = {
    val tmp = Files.createTempDirectory("graft-probe-ingest")
    val dest = tmp.resolve("out").toString
    try Globs.expand(spark, glob).sorted.foreach { file =>
      val (wall, stats) = Profile(spark) {
        val t0 = System.nanoTime()
        Sinks.writeCsv(SolarPipelines.resampleRaw(spark, file), dest, Some("time"))
        (System.nanoTime() - t0) / 1e9
      }
      val path = new Path(file)
      val mb = path.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(path).getLen / 1048576.0
      out(f"[probe] ingest $file wall=$wall%.3fs mb=$mb%.1f ${stats.line}")
    } finally {
      val dir = new Path(tmp.toUri)
      dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)
    }
  }

  private def query(spark: SparkSession, name: String, dir: String): DataFrame =
    if (name == "year") year(spark) else SparkEntry.queries(name)(spark, dir)

  /** The reference's real yearly volume (BASELINE.md): 35 stations × 2
    * sky types × 527,040 minutes (2024) = 36,892,800 1-minute rows,
    * generated with `spark.range` (no driver materialization), through
    * the keyed tumbling 10-minute mean — the reference's whole
    * compute-bound workload for a year.
    */
  private def year(spark: SparkSession): DataFrame = {
    val stations = 35
    val skyTypes = 2
    val minutes = 527040L
    val raw = spark.range(stations * skyTypes * minutes).select(
      (col("id") % stations).cast("int").as("station"),
      ((col("id") / stations) % skyTypes).cast("int").as("sky_type"),
      timestamp_seconds(lit(1704067200L) + (col("id") / (stations * skyTypes)) * 60).as("time"),
      (rand(42) * 60.0).as("GHI"),
      (rand(43) * 30.0).as("DHI"),
      (rand(44) * 80.0).as("BNI"))
    Resample.tumblingMean(raw, "time", 10,
      valueCols = Seq("GHI", "DHI", "BNI"), extraKeys = Seq("station", "sky_type"))
  }
}
