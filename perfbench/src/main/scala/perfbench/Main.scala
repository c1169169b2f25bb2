package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <file>`. With `--generate 1` (and no
  * `--seconds`, `--trace`, `--out`) it only generates the inputs, so that
  * the measured JVM starts cold and receives nothing but the files.
  *
  * Closed loop, one client, one process. Inputs are generated from the
  * seed (and cached by seed and size) before anything is timed. Set-up is
  * the `Sessions.local(nproc)` build in a fresh JVM plus one checked
  * warm-up pass. Then warm passes run until `--seconds` have passed. With
  * `--trace 1`, passes alternate between untraced and traced, and one
  * extra pass is cut at materialized layer boundaries.
  *
  * Writes the result object to `--out` and the full artifact (environment,
  * every operation, every failure with its exception, spans) next to it.
  */
object Main {

  val IngestFiles = 1
  val CompareStations = 4
  val CompareDays = 14
  val MixScale = 0.25
  val MinPasses = 5

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val work = Paths.get(a("work")).toAbsolutePath
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
    val cores = Runtime.getRuntime.availableProcessors

    val w: Workload = workload match {
      case "ingest_year" => new IngestYear(work, seed, IngestFiles)
      case "compare_compile" => new CompareCompile(work, seed, CompareStations, CompareDays)
      case "query_mix" => new QueryMix(work, seed, MixScale)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tracer = new Tracer(s"$workload-$seed-${java.util.UUID.randomUUID()}")
    val ops = ArrayBuffer[Op]()

    // ----------------------------------------------------------- set-up
    var spark: SparkSession = null
    def stopSession(): Unit = if (spark != null) {
      spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
    w.generate { spark = graft.Sessions.local(cores.toString); spark }
    stopSession()
    if (a.get("generate").contains("1")) return
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val out = Paths.get(a("out")).toAbsolutePath

    val s0 = Clock.now()
    spark = graft.Sessions.local(cores.toString)
    val sessionBuild = Clock.now() - s0
    ops ++= w.pass(spark, tracer)
    val setupSeconds = Clock.now() - s0

    // ---------------------------------------------------- measured passes
    val passes = ArrayBuffer[Pass]()
    val cpu, steal, rawWall = ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    // traced runs alternate untraced/traced passes in ABBA order, so the
    // warm-up trend does not land on one side of trace.overhead_s
    while ((System.nanoTime() - t0) / 1e9 < seconds || passes.length < MinPasses) {
      val traced = trace && passes.length % 4 % 3 != 0
      if (traced) tracer.start(spark)
      val c0 = Clock.cpuSeconds(); val st0 = Clock.stealSeconds(); val w0 = System.nanoTime()
      val p = tracer.span("pass")(w.pass(spark, tracer))
      rawWall += (System.nanoTime() - w0) / 1e9
      cpu += Clock.cpuSeconds() - c0; steal += Clock.stealSeconds() - st0
      if (traced) tracer.stop()
      passes += Pass(traced, p.map(_.seconds).sum, p)
      ops ++= p
    }
    val layers =
      if (!trace) Map.empty[String, Double]
      else {
        tracer.start(spark)
        val l = tracer.span("layers")(w.layers(spark, tracer))
        tracer.stop()
        l
      }

    // ---------------------------------------------------------- metrics
    val measured = passes.filterNot(_.traced)
    val wall = median(measured.map(_.seconds).toSeq)
    val opTimes = measured.flatMap(_.ops.map(_.seconds)).toSeq
    val failures = ops.filterNot(_.ok)
    val endToEnd = Map(
      "setup_s" -> (setupSeconds, "s"),
      "wall_s" -> (wall, "s"),
      "rows_per_s" -> (w.rows / wall, "1/s"),
      "op_p50_s" -> (quantile(opTimes, 0.5), "s"),
      "op_p75_s" -> (quantile(opTimes, 0.75), "s"),
      "ok_frac" -> ((ops.length - failures.length).toDouble / ops.length, "share"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    val perLayer =
      if (trace) Layers(tracer, passes.toSeq, layers, cores, sessionBuild)
      else Map.empty[String, (Double, String)]
    val metrics = (if (trace) perLayer else endToEnd).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u)
    }
    val result = Map("correct" -> failures.isEmpty, "attempted" -> ops.length,
      "failed" -> failures.length, "metrics" -> metrics)

    val env = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "run_id" -> tracer.runId, "nproc" -> cores,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filter(_.startsWith("-X")).toSeq,
      "inputs" -> w.inputs)
    val artifact = Map("env" -> env, "result" -> result,
      "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "samples" -> Map("setup_s" -> setupSeconds, "session_build_s" -> sessionBuild,
        "passes" -> passes.map(p => Map("traced" -> p.traced, "seconds" -> p.seconds)),
        "op_samples" -> opTimes.length, "pass_raw_wall_s" -> rawWall, "pass_cpu_s" -> cpu,
        "pass_steal_s" -> steal),
      "failures" -> failures.map(o => Map("op" -> o.name, "error" -> o.error)),
      "operations" -> ops.map(o => Map("op" -> o.name, "group" -> o.group,
        "seconds" -> o.seconds, "ok" -> o.ok)),
      "spans" -> tracer.spans)
    stopSession()
    Files.createDirectories(out.getParent)
    Files.writeString(out.resolveSibling(out.getFileName.toString.stripSuffix(".json") +
      ".artifact.json"), Json(artifact) + "\n")
    Files.writeString(out, Json(result) + "\n")
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val h = (s.length - 1) * q
      val lo = h.toInt
      s(lo) + (h - lo) * (s(math.min(lo + 1, s.length - 1)) - s(lo))
    }

  /** The JVM's resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
