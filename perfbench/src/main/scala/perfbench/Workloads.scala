package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.io.{CamsExpertCsv, Sinks}
import graft.model.Schemas
import graft.ops.{Qc, TimeOps}
import graft.pipelines.SolarPipelines

/** One timed operation: its registry group, seconds, and why it failed. */
final case class Op(name: String, group: String, seconds: Double, error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** One warm pass: whether it was traced, its seconds (the sum of its
  * operations') and the operations.
  */
final case class Pass(traced: Boolean, seconds: Double, ops: Seq[Op])

/** A benchmark workload: seeded inputs, one pass of timed operations (a
  * warm run), and, for the traced run, the same work cut at materialized
  * layer boundaries.
  */
trait Workload {
  /** Input description for the artifact: files, rows, bytes, hashes... */
  def inputs: Map[String, Any]
  /** Input rows one pass consumes. */
  def rows: Long
  /** Generates inputs that need a session; `spark` is built only if so. */
  def generate(spark: => SparkSession): Unit = ()
  /** One pass; every result is checked before the next operation. */
  def pass(spark: SparkSession, tr: Tracer): Seq[Op]
  /** Layer metrics from one pass cut at materialized boundaries. */
  def layers(spark: SparkSession, tr: Tracer): Map[String, Double] = Map.empty
}

object Workload {
  /** Times `body`, then checks its result; exceptions become failures. */
  def op[T](name: String, group: String, tr: Tracer)(body: => T)(check: T => Unit): Op = {
    val t0 = Clock.now()
    try {
      val r = tr.span(name)(body)
      val s = Clock.now() - t0
      try { check(r); Op(name, group, s, None) }
      catch { case e: Throwable => Op(name, group, s, Some(s"check: ${e.getMessage}")) }
    } catch {
      case e: Throwable => Op(name, group, Clock.now() - t0, Some(describe(e)))
    }
  }

  /** Runs `body` as span `name`; returns its result and seconds. */
  def timed[T](tr: Tracer, name: String)(body: => T): (T, Double) = {
    val t0 = Clock.now()
    val r = tr.span(name)(body)
    (r, Clock.now() - t0)
  }

  def describe(e: Throwable): String = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  def near(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= tol * math.max(1.0, math.abs(b))

  def require(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new IllegalStateException(msg)

  /** Materializes `df` into memory through the noop sink. */
  def materialize(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.write.format("noop").mode("overwrite").save()
    p
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

import Workload._

// ------------------------------------------------------------ ingest_year

/** Entry point G: each seeded csv_expert file (one leap year of 1-minute
  * rows for one station and sky type) goes through
  * `SolarPipelines.resampleRaw` and `Sinks.writeCsv`, one file at a time.
  */
final class IngestYear(work: Path, seed: Long, nFiles: Int) extends Workload {
  private val inDir = work.resolve(s"inputs/ingest_year-s$seed-f$nFiles")
  private val outDir = work.resolve("out/ingest_year")

  private val (files, genSeconds) = Gen.cached(inDir) {
    (0 until nFiles).toList.map { i =>
      val sky = Gen.SkyTypes(i % 2)
      val st = Gen.Stations(i / 2 % Gen.Stations.length)._1
      Gen.camsExpert(inDir.resolve(s"raw_1min_${st}_${sky}_$i.csv"), seed * 1000 + i, sky,
        lonHours = 7.0 + i % 3)
    }
  }

  def inputs: Map[String, Any] = Map(
    "files" -> files.length, "rows" -> rows, "bytes" -> files.map(_.bytes).sum,
    "rows_per_file" -> files.map(_.rowsRead), "rows_kept" -> files.map(_.rowsKept).sum,
    "sha256" -> files.map(_.sha256),
    "gen_s" -> genSeconds)

  def rows: Long = files.map(_.rowsRead).sum

  private def name(f: Gen.CamsFile) = java.nio.file.Paths.get(f.path).getFileName.toString
  private def out(f: Gen.CamsFile) = outDir.resolve(name(f).stripSuffix(".csv"))

  def pass(spark: SparkSession, tr: Tracer): Seq[Op] = files.map { f =>
    op(name(f), "ingest", tr) {
      val df = tr.span("pipelines.resampleRaw")(SolarPipelines.resampleRaw(spark, f.path))
      tr.span("io.sinks.writeCsv")(Sinks.writeCsv(df, out(f).toString, Some("time")))
    }(_ => checkCsv(out(f), f.expected))
  }

  /** The written CSV against the plain-Scala resample of the generated
    * rows: same buckets, every mean within 1e-9.
    */
  private def checkCsv(dir: Path, e: Gen.Resampled): Unit = {
    val parts = Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq
    require(parts.length == 1, s"expected one part file, found ${parts.length}")
    val lines = Files.readAllLines(parts.head).asScala
    require(lines.head == ("time" +: e.columns).mkString(","), s"header ${lines.head}")
    val body = lines.tail
    require(body.length == e.bucketMinute.length,
      s"${body.length} buckets, expected ${e.bucketMinute.length}")
    body.iterator.zipWithIndex.foreach { case (line, i) =>
      val fs = line.split(",", -1)
      val t = java.time.Instant.parse(fs(0)).getEpochSecond
      require(t == Gen.epoch(e.bucketMinute(i)), s"bucket $i at $t")
      e.columns.indices.foreach { c =>
        val got = if (fs(c + 1).isEmpty) Double.NaN else fs(c + 1).toDouble
        require(near(got, e.means(i)(c)), s"bucket $i ${e.columns(c)}: $got vs ${e.means(i)(c)}")
      }
    }
  }

  override def layers(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    var sniff, parse, resample, csv = 0.0
    var read, kept, buckets = 0L
    files.foreach { f =>
      val (_, s1) = timed(tr, "io.cams.sniff")(CamsExpertCsv.sniffHeader(spark, f.path))
      sniff += s1
      val obs = Observation()
      val (raw, s2) = timed(tr, "io.cams.parse")(materialize(CamsExpertCsv.read(spark, f.path)
        .observe(obs, count(lit(1)).as("read"),
          count(TimeOps.parseIntervalStart(col("Observation period"))).as("kept"))))
      parse += s2
      read += obs.get("read").asInstanceOf[Long]
      kept += obs.get("kept").asInstanceOf[Long]
      val bobs = Observation()
      val (res, s3) = timed(tr, "ops.resample")(materialize(
        SolarPipelines.resampleRawDf(raw).observe(bobs, count(lit(1)).as("n"))))
      resample += s3
      buckets += bobs.get("n").asInstanceOf[Long]
      val (_, s4) = timed(tr, "io.sinks.csv")(Sinks.writeCsv(res, out(f).toString, Some("time")))
      csv += s4
      res.unpersist(true); raw.unpersist(true)
    }
    val spans = tr.spans
    def jobs(name: String) = tr.schedUnder(spans.filter(_.name == name)).jobs.toDouble
    Map("io.cams.sniff_s" -> sniff, "io.cams.sniff_jobs" -> jobs("io.cams.sniff"),
      "io.cams.parse_s" -> parse, "io.cams.rows_parsed" -> read.toDouble,
      "io.cams.keep_ratio" -> kept.toDouble / read,
      "ops.resample_s" -> resample, "ops.resample.buckets_out" -> buckets.toDouble,
      "ops.resample.shuffle_write_mb" ->
        tr.schedUnder(spans.filter(_.name == "ops.resample")).shuffleWrite / 1e6,
      "io.sinks.csv_s" -> csv)
  }
}

// -------------------------------------------------------- compare_compile

/** Entry points C and K: QC-flagged 1-minute ground files against the
  * processed 10-minute CAMS series for every station in one plan
  * (`compareAllStations`, collected), then the station x time cube from
  * the processed glob (`compileCube`) through both cube sinks.
  */
final class CompareCompile(work: Path, seed: Long, stations: Int, days: Int) extends Workload {
  private val inDir = work.resolve(s"inputs/compare_compile-s$seed-n$stations-d$days")
  private val outDir = work.resolve("out/compare_compile")

  private val (in, genSeconds) =
    Gen.cached(inDir)(Gen.compareInputs(inDir, seed, stations, days))

  def inputs: Map[String, Any] = Map(
    "stations" -> stations, "days" -> days,
    "files" -> (in.groundFiles.length + in.processedFiles.length + 1),
    "rows" -> rows, "ground_rows" -> in.groundRows, "bytes" -> in.bytes,
    "sha256" -> in.sha256, "gen_s" -> genSeconds)

  def rows: Long = in.groundRows + in.processedFiles.length.toLong * days * 144

  private def ground(spark: SparkSession): DataFrame = spark.read.option("header", "true")
    .schema(Schemas.groundQc).csv(inDir.resolve("ground").toString + "/QC_*_2024_flagged.csv")
    .withColumn("station", graft.ops.Stations.stationFromFileName("QC_(.*?)_2024_flagged\\.csv"))

  private def cams(spark: SparkSession): DataFrame = spark.read.option("header", "true")
    .schema(Schemas.processed10Min).csv(processedGlob)
    .withColumn("station",
      graft.ops.Stations.stationFromFileName("processed_10min_(.*?)_observed_cloud\\.csv"))

  private def processedGlob = inDir.resolve("processed").toString + "/processed_10min_*_observed_cloud.csv"

  private def locations(spark: SparkSession): DataFrame = spark.read.option("header", "true")
    .schema(Schemas.station).csv(in.locations)

  private def cubeDir = outDir.resolve("cube_parquet")
  private def ncPath = outDir.resolve("cube.nc")

  def pass(spark: SparkSession, tr: Tracer): Seq[Op] = Seq(
    op("compare_compile", "solar", tr) {
      val stats = tr.span("pipelines.compareAllStations")(
        SolarPipelines.compareAllStations(ground(spark), cams(spark)).collect())
      val cube = tr.span("pipelines.compileCube")(
        SolarPipelines.compileCube(spark, processedGlob, locations(spark)))
      tr.span("io.sinks.writeCube")(Sinks.writeCube(cube, cubeDir.toString))
      tr.span("io.sinks.writeNetCdf")(Sinks.writeNetCdf(cube, ncPath.toString))
      stats
    } { stats => checkStats(stats); checkCube(spark) })

  private def checkStats(stats: Array[org.apache.spark.sql.Row]): Unit = {
    require(stats.length == in.fits.size, s"${stats.length} stat rows, expected ${in.fits.size}")
    stats.foreach { r =>
      val key = (r.getAs[String]("station"), r.getAs[String]("component"))
      val e = in.fits.getOrElse(key, throw new IllegalStateException(s"unexpected $key"))
      require(r.getAs[Long]("n") == e.n, s"$key n ${r.getAs[Long]("n")} vs ${e.n}")
      require(near(r.getAs[Double]("slope"), e.slope), s"$key slope ${r.getAs[Double]("slope")} vs ${e.slope}")
    }
  }

  /** The parquet cube has the expected rows, and the NetCDF file read
    * back holds exactly the same cells.
    */
  private def checkCube(spark: SparkSession): Unit = {
    val cube = spark.read.parquet(cubeDir.toString)
      .select(col("station"), col("time_epoch"), col("GHI"), col("DHI"), col("DNI"),
        col("latitude"), col("longitude"), col("elevation")).collect()
    require(cube.length == in.cubeRows, s"cube has ${cube.length} rows, expected ${in.cubeRows}")
    require(!cube.exists(_.getString(0) == "sleman"), "excluded station in cube")
    val nc = Sinks.readNetCdfCube(spark, ncPath.toString).collect()
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1))
    val fromNc = nc.map(r => key(r) -> r.toSeq.drop(2)).toMap
    require(fromNc.size == cube.length, s"netcdf has ${fromNc.size} cells, cube ${cube.length}")
    cube.foreach { r =>
      require(fromNc.get(key(r)).contains(r.toSeq.drop(2)), s"netcdf cell ${key(r)} differs")
    }
  }

  override def layers(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val gObs, cObs, jObs = Observation()
    val (clean, qc) = timed(tr, "ops.qc")(materialize(
      Qc.clean(ground(spark).observe(gObs, count(lit(1)).as("n"))).observe(cObs, count(lit(1)).as("n"))))
    val (_, compare) = timed(tr, "pipelines.compare")(SolarPipelines.compareStats(
      SolarPipelines.compareFrame(clean, cams(spark), Seq("station"))
        .observe(jObs, count(lit(1)).as("n")), Seq("station")).collect())
    val (cube, compile) = timed(tr, "pipelines.compile")(materialize(
      SolarPipelines.compileCube(spark, processedGlob, locations(spark))))
    val (_, cubeS) = timed(tr, "io.sinks.cube")(Sinks.writeCube(cube, cubeDir.toString))
    val (_, ncS) = timed(tr, "io.sinks.netcdf")(Sinks.writeNetCdf(cube, ncPath.toString))
    val cubeRows = cube.count()
    cube.unpersist(true); clean.unpersist(true)
    val spans = tr.spans
    def shuffleMb(name: String) = {
      val s = tr.schedUnder(spans.filter(_.name == name))
      (s.shuffleRead + s.shuffleWrite) / 1e6
    }
    Map("ops.qc_s" -> qc,
      "ops.qc.keep_ratio" -> cObs.get("n").asInstanceOf[Long].toDouble / gObs.get("n").asInstanceOf[Long],
      "pipelines.compare_s" -> compare,
      "pipelines.compare.join_rows" -> jObs.get("n").asInstanceOf[Long].toDouble,
      "pipelines.compare.shuffle_mb" -> shuffleMb("pipelines.compare"),
      "pipelines.compile_s" -> compile,
      "pipelines.compile.shuffle_mb" -> shuffleMb("pipelines.compile"),
      "io.sinks.cube_s" -> cubeS,
      "io.sinks.cube_mb" -> dirBytes(cubeDir) / 1e6,
      "io.sinks.netcdf_s" -> ncS,
      "io.sinks.netcdf_rows_per_s" -> cubeRows / ncS)
  }
}

// -------------------------------------------------------------- query_mix

/** A fixed list of `SparkEntry.queries` over the generated tables, in a
  * seeded order, each through the noop sink; `ExtQueries.prepare` hooks
  * run untimed. Each result hash must equal the warm-up pass's.
  */
final class QueryMix(work: Path, seed: Long, scale: Double) extends Workload {
  private val dataDir = work.resolve(s"inputs/query_mix-scale$scale")
  private val all = graft.SparkEntry.queries
  private val groups: Map[String, String] = {
    val ext = graft.ExtQueries.queries.keySet
    val stat = graft.StatQueries.queries.keySet
    val eval = graft.EvalQueries.queries.keySet
    QueryMix.Queries.map { q =>
      q -> (if (q.startsWith("q_st")) "stream" else if (ext(q)) "ext"
        else if (stat(q)) "stat" else if (eval(q)) "eval" else "core")
    }.toMap
  }
  private val order = new scala.util.Random(seed).shuffle(QueryMix.Queries)
  private val reference = scala.collection.mutable.Map[String, String]()
  private var genSeconds = 0.0
  private var dataRows = 0L

  /** The tables depend only on `scale`; they are generated once per
    * checkout under a fixed seed and reused.
    */
  override def generate(spark: => SparkSession): Unit = {
    val marker = dataDir.resolve("_rows")
    if (!Files.exists(marker)) {
      val t0 = System.nanoTime()
      val rows = MixData.write(spark, dataDir.toString, QueryMix.DataSeed, scale)
      Files.writeString(marker, s"$rows ${(System.nanoTime() - t0) / 1e9}")
    }
    val Array(rows, seconds) = Files.readString(marker).trim.split(" ")
    dataRows = rows.toLong
    genSeconds = seconds.toDouble
  }

  def inputs: Map[String, Any] = Map(
    "queries" -> order.length, "order" -> order, "rows" -> rows,
    "bytes" -> dirBytes(dataDir), "scale" -> scale, "gen_s" -> genSeconds)

  def rows: Long = dataRows

  def pass(spark: SparkSession, tr: Tracer): Seq[Op] = order.map { q =>
    scala.util.Try(graft.ExtQueries.prepare.get(q).foreach(_(spark, dataDir.toString))) match {
      case scala.util.Failure(e) => Op(q, groups(q), 0.0, Some(s"prepare: ${describe(e)}"))
      case _ =>
        op(q, groups(q), tr)(ResultHash.noopWrite(all(q)(spark, dataDir.toString))) { h =>
          reference.get(q) match {
            case None => reference(q) = h
            case Some(r) => require(h == r, s"result hash $h, warm-up gave $r")
          }
        }
    }
  }
}

object QueryMix {
  val DataSeed = 20240101L
  /** Chosen from the registries for results that repeat exactly across
    * runs and sessions on the generated tables; none writes under the
    * absolute fixture root.
    */
  val Queries: Seq[String] = Seq(
    "q_w1_topk", // core: window top-k, rewritten to TopKPerKey
    "q_ext_text_stats", // ext: native text functions
    "q_ext_welch_t", // stat
    "q_ext_lift", // eval
    "q_st2_stream_dedup") // stream: stateful dedup
}
