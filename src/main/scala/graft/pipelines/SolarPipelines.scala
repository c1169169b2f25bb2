package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.CamsExpertCsv
import graft.model.Schemas
import graft.ops._

/** The reference's three entry points re-expressed as Spark plans
  * (SURVEY.md §3). Each is a declarative pipeline over the operators in
  * `graft.ops` — Catalyst handles the pruning/pushdown the reference did
  * by hand (§4), and every step is shuffle-minimal by construction:
  * resample is one partial-aggregated shuffle, the compare join is a
  * single co-keyed join, compile is shuffle-free (broadcast join only).
  */
object SolarPipelines {

  // ---------------------------------------------------------------- 3.1
  /** Entry point 1 (`get-cams-solrad-ts.py:47-96`): raw 1-minute
    * csv_expert → parse interval start → numeric projection → tumbling
    * 10-min mean. Returns the processed series with a `time` column.
    * Through `Sinks.writeCsv(…, Some("time"))` a file is two Spark jobs:
    * scan + partial aggregation, then one task that does the final
    * aggregation, the sort and the write (the header sniff starts none).
    * The interval start is parsed once per row: a line whose start does
    * not parse lands in the null bucket [[Resample.tumblingMean]] drops,
    * with no row filter on `time` for Catalyst to push below the parse.
    */
  def resampleRaw(spark: SparkSession, rawPath: String, minutes: Int = 10): DataFrame = {
    val raw = CamsExpertCsv.read(spark, rawPath)
    resampleRawDf(raw, minutes)
  }

  /** Same, from an already-loaded raw frame (for tests / other sources). */
  def resampleRawDf(raw: DataFrame, minutes: Int = 10): DataFrame = {
    val withTime = raw.withColumn("time", TimeOps.parseIntervalStart(col("Observation period")))
    Resample.tumblingMean(withTime, "time", minutes)
      .drop("n_rows")
  }

  /** Required-column validation from `get-cams-solrad-ts.py:119-121`. */
  def validateStations(stations: DataFrame): DataFrame = {
    val missing = Schemas.requiredStationCols -- stations.columns.toSet
    require(missing.isEmpty, s"station metadata missing columns: $missing")
    stations
  }

  /** J4/S6 (`get-cams-solrad-ts.py:130-156`): the download request
    * matrix — stations × sky types with the CDS request parameters as
    * columns. The reference iterates this matrix sequentially; as a
    * frame it distributes (each row is one fetch task for a connector)
    * and the actual HTTP fetch stays a pluggable edge (zero-egress here,
    * SURVEY §7.3).
    */
  def downloadMatrix(
      stations: DataFrame,
      skyTypes: Seq[String] = Seq("clear", "observed_cloud"),
      dateRange: String = "2024-01-01/2024-12-31"): DataFrame = {
    val spark = stations.sparkSession
    import spark.implicits._
    validateStations(stations)
      .crossJoin(skyTypes.toDF("sky_type"))
      .select(
        col("station"), col("latitude"), col("longitude"), col("elevation"),
        col("sky_type"),
        lit(dateRange).as("date"),
        lit("1minute").as("time_step"),
        lit("csv_expert").as("format"),
        graft.ops.Stations.sanitizeFileName(
          concat(col("station"), lit("_"), col("sky_type"))).as("file_tag"))
  }

  // ---------------------------------------------------------------- 3.2
  /** Entry point 2 prep (`solrad-compare.py:8-91`): QC-clean the ground
    * series, unit-convert and rename the CAMS series, inner-join on
    * timestamp, derive biases and the guarded GHI/DHI ratio.
    *
    * `ground` needs `Datetime (UTC)`, GHI/DHI/DNI and flag columns;
    * `cams` needs `time`, GHI/DHI/BNI (+ optional `Cloud coverage`).
    *
    * `keys`: extra join keys carried through (e.g. `station`) — the
    * reference loops this pipeline per location (`solrad-compare.py:
    * 195-206`); with a station column both inputs run in ONE plan for
    * every station at once, which is the whole point at scale.
    */
  def compareFrame(ground: DataFrame, cams: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val keyCols = keys.map(col)
    val cleanGround = Qc.clean(ground)
      .withColumnRenamed("Datetime (UTC)", "timestamp")
      .select(keyCols ++ Seq(col("timestamp"), col("GHI").as("GHI_ground"),
        col("DHI").as("DHI_ground"), col("DNI").as("DNI_ground")): _*)

    val camsConverted = Units.whPerMinuteToWatts(cams)
    val withCloud =
      if (camsConverted.columns.contains("Cloud coverage"))
        camsConverted.withColumnRenamed("Cloud coverage", "cloud_cover")
      else camsConverted
    val camsRenamed = withCloud
      .withColumnRenamed("time", "timestamp")
      .withColumnRenamed("BNI", "DNI")
      .select(keyCols ++ Seq(col("timestamp"), col("GHI").as("GHI_cams"),
        col("DHI").as("DHI_cams"), col("DNI").as("DNI_cams")) ++
        (if (withCloud.columns.contains("cloud_cover")) Seq(col("cloud_cover")) else Nil): _*)

    val joined = cleanGround.join(camsRenamed, keys :+ "timestamp", "inner").na.drop(
      Seq("GHI_ground", "DHI_ground", "DNI_ground", "GHI_cams", "DHI_cams", "DNI_cams"))
    joined
      .withColumn("bias_GHI", Compare.bias(col("GHI_cams"), col("GHI_ground")))
      .withColumn("bias_DHI", Compare.bias(col("DHI_cams"), col("DHI_ground")))
      .withColumn("bias_DNI", Compare.bias(col("DNI_cams"), col("DNI_ground")))
      .withColumn("ghi_dhi_ratio",
        Compare.guardedRatio(col("GHI_ground"), col("DHI_ground")))
  }

  /** Entry point 2 stats (`solrad-compare.py:126-132`): per component,
    * linregress(ground, cams) + mean bias + n — the numbers the
    * reference renders onto its PNG panels. One shared scan: the three
    * per-component aggregates run in a single Aggregate over the joined
    * frame (the reference re-scans per component).
    */
  def compareStats(compared: DataFrame, keys: Seq[String] = Nil): DataFrame = {
    val comps = Seq("GHI", "DHI", "DNI")
    val aggs = comps.flatMap { c =>
      Seq(
        regr_slope(col(s"${c}_cams"), col(s"${c}_ground")).as(s"${c}_slope"),
        regr_intercept(col(s"${c}_cams"), col(s"${c}_ground")).as(s"${c}_intercept"),
        regr_r2(col(s"${c}_cams"), col(s"${c}_ground")).as(s"${c}_r2"),
        regr_count(col(s"${c}_cams"), col(s"${c}_ground")).as(s"${c}_n"),
        avg(col(s"bias_$c")).as(s"${c}_mean_bias"))
    }
    val wide =
      if (keys.isEmpty) compared.agg(aggs.head, aggs.tail: _*)
      else compared.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    // unpivot to one row per component (per key group)
    val stacked = comps.map { c =>
      s"'$c', ${c}_slope, ${c}_intercept, ${c}_r2, ${c}_n, ${c}_mean_bias"
    }.mkString(", ")
    wide.selectExpr(keys :+
      s"stack(${comps.size}, $stacked) as (component, slope, intercept, r2, n, mean_bias)": _*)
  }

  /** The reference's whole compare run — 29 sequential per-location
    * pipelines (`solrad-compare.py:195-206`) — as one declarative plan:
    * inputs carry a `station` column, one co-keyed join, one grouped
    * multi-regression aggregate. */
  def compareAllStations(ground: DataFrame, cams: DataFrame): DataFrame =
    compareStats(compareFrame(ground, cams, keys = Seq("station")), keys = Seq("station"))

  // ---------------------------------------------------------------- 3.3
  /** Entry point 3 (`compile-solrad.py:25-195`): glob of processed
    * per-station files → filename provenance → canonical station key →
    * exclusion filter → broadcast metadata join → local time → long-format
    * cube. One shuffle-free plan: the union is the multi-file scan, the
    * join is broadcast.
    *
    * `locations` must carry `station` and `timezone` ('UTC+7') columns;
    * `processedGlob` is expanded on the driver ([[graft.io.Globs]]).
    */
  def compileCube(
      spark: SparkSession,
      processedGlob: String,
      locations: DataFrame,
      fileNamePattern: String = "processed_10min_(.*?)_observed_cloud\\.csv",
      excludeStations: Seq[String] = Seq("Sleman")): DataFrame = {
    val scanned = spark.read
      .option("header", "true")
      .schema(Schemas.processed10Min)
      .csv(graft.io.Globs.expand(spark, processedGlob): _*)
      .withColumn("station_raw", Stations.stationFromFileName(fileNamePattern))
    compileCubeDf(scanned, locations, excludeStations)
  }

  /** Same from a pre-scanned frame carrying `station_raw` provenance. */
  def compileCubeDf(
      scanned: DataFrame,
      locations: DataFrame,
      excludeStations: Seq[String] = Seq("Sleman")): DataFrame = {
    val excluded = excludeStations.foldLeft(scanned)(
      (df, s) => Stations.excludeStation(df, col("station_raw"), s))
    val meta = locations
      .withColumn("utc_offset", TimeOps.parseUtcOffset(col("timezone")))
      .select(col("station").as("station_original"), col("latitude"),
        col("longitude"), col("elevation"), col("utc_offset"),
        Stations.cleanStationName(col("station")).as("station_key"))
    val joined = Stations.attachMetadata(excluded, meta, col("station_raw"),
      locationsNameCol = "station_original")
    joined
      .withColumn("time_utc", col("time"))
      .withColumn("time_local", TimeOps.localTime(col("time_utc"), col("utc_offset")))
      .na.drop(Seq("time_utc", "time_local"))
      .withColumnRenamed("BNI", "DNI")
      .select("station_key", "station_original", "time_utc", "time_local",
        "GHI", "DHI", "DNI", "latitude", "longitude", "elevation")
      .withColumnRenamed("station_key", "station")
  }
}
