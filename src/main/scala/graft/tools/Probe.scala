package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.{Sessions, SparkEntry}
import graft.obs.Profile
import graft.ops.Resample

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
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    try run(spark, args.toSeq)(println)
    finally spark.stop()
  }

  def run(root: SparkSession, args: Seq[String])(out: String => Unit): Unit = {
    require(args.length >= 2,
      "usage: Probe <q1,q2,...> <dir>[,<dir2>] [iters] [k=v ...] [plans=<outDir>]")
    val Seq(names, dirs) = args.take(2).map(_.split(",").toSeq)
    val (plans, opts) = args.drop(2).partition(_.startsWith("plans="))
    val (confs, iters) = opts.partition(_.contains("="))
    val spark = root.newSession()
    confs.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    val planDir = plans.lastOption.map(p => Files.createDirectories(Paths.get(p.stripPrefix("plans="))))
    val rt = Runtime.getRuntime
    def heapMb = (rt.totalMemory() - rt.freeMemory()) >> 20
    for (name <- names; dir <- dirs; i <- 1 to iters.lastOption.fold(1)(_.toInt)) {
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
