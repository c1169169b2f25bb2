package graft.io

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sinks (SURVEY.md §2.1 S7, S8).
  *
  * The reference's NetCDF cube sink (`/root/reference/code/compile-solrad.py:176-195`)
  * maps to partitioned long-format Parquet plus a JSON attribute sidecar:
  * the dense (station × time) xarray cube is an artifact of the NetCDF
  * container, not of the data — long format is the scalable canonical
  * form (35 stations is nothing; 100 TB of (station, time) rows is a
  * partitioned columnar table).
  */
object Sinks {

  /** S7: single-header CSV, time-ordered, for small summary outputs only
    * (`coalesce(1)` is deliberate — never use for large data).
    * The one task sorts locally: a global `orderBy` would add a sampling
    * job and a range exchange to order what one partition orders alone.
    */
  def writeCsv(df: DataFrame, path: String, orderCol: Option[String] = None): Unit = {
    val one = df.coalesce(1)
    orderCol.fold(one)(c => one.sortWithinPartitions(col(c)))
      .write.mode("overwrite").option("header", "true").csv(path)
  }

  /** CF-style global attributes from the reference compile step
    * (`compile-solrad.py:156-173`).
    */
  def cfAttributes(extra: Map[String, String] = Map.empty): Map[String, String] = Map(
    "featureType" -> "timeSeries",
    "Conventions" -> "CF-1.8",
    "time_units" -> "seconds since 1970-01-01",
    "calendar" -> "proleptic_gregorian",
    "station_cf_role" -> "timeseries_id",
    "GHI_units" -> "Wh/m^2",
    "DHI_units" -> "Wh/m^2",
    "DNI_units" -> "Wh/m^2"
  ) ++ extra

  /** S8: long-format cube sink — parquet partitioned by station so
    * per-station reads prune partitions, with time carried both as
    * timestamp and epoch seconds (the NetCDF encoding), plus a JSON
    * metadata sidecar holding the CF attributes. The sidecar is written
    * through the path's Hadoop `FileSystem`, so it lands beside the part
    * files for a `file:` URI or any other scheme the parquet write takes.
    */
  def writeCube(df: DataFrame, path: String, attrs: Map[String, String] = cfAttributes()): Unit = {
    val withEpoch = df
      .withColumn("time_epoch", unix_timestamp(col("time_utc")))
    withEpoch.write.mode("overwrite").partitionBy("station").parquet(path)
    val json = attrs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""  "${k}": "${v}"""" }
      .mkString("{\n", ",\n", "\n}")
    val sidecar = new Path(path, "_attributes.json")
    val out = sidecar.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
      .create(sidecar, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** S8 binary-fidelity variant: the compiled cube as an actual NetCDF
    * classic file (the reference's artifact shape,
    * `compile-solrad.py:176-195`): `time` is the UNLIMITED dimension,
    * `station` the fixed one, CF-style char attributes on every
    * variable. Expects `writeCube`'s long schema (`station`, `time_utc`,
    * value columns, `latitude`/`longitude`/`elevation`).
    *
    * Scale posture: a classic `.nc` is a single sequential file by
    * format definition, so this is an *export edge*, not a distributed
    * sink. The station dimension is collected (it is the broadcast-small
    * metadata side, ~dozens of rows); the time axis is streamed through
    * `toLocalIterator` over a time-sorted frame — driver memory holds
    * one time slab (`n_stations` doubles per variable), never the cube.
    * Missing (time, station) cells become NaN, NetCDF's conventional
    * missing-value marker.
    */
  def writeNetCdf(
      cube: DataFrame, path: String,
      valueCols: Seq[String] = Seq("GHI", "DHI", "DNI"),
      attrs: Map[String, String] = cfAttributes()): Unit = {
    import NetCdf3._
    val stations = cube
      .select(col("station"), col("latitude").cast("double"),
        col("longitude").cast("double"), col("elevation").cast("double"))
      .distinct().orderBy("station").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    require(stations.nonEmpty, "empty cube: no stations")
    val names = stations.map(_._1)
    val slot = names.zipWithIndex.toMap
    val strlen = names.map(_.getBytes("UTF-8").length).max

    val dims = Seq(Dim("time", 0), Dim("station", names.length), Dim("name_strlen", strlen))
    val TimeD = 0; val StationD = 1; val StrlenD = 2
    val vars =
      Seq(
        Var("time", Seq(TimeD), Seq(
          Attr("units", attrs.getOrElse("time_units", "seconds since 1970-01-01")),
          Attr("calendar", attrs.getOrElse("calendar", "proleptic_gregorian"))), NcDouble),
        Var("station_name", Seq(StationD, StrlenD),
          Seq(Attr("cf_role", attrs.getOrElse("station_cf_role", "timeseries_id"))), NcChar),
        Var("latitude", Seq(StationD), Seq(Attr("units", "degrees_north")), NcDouble),
        Var("longitude", Seq(StationD), Seq(Attr("units", "degrees_east")), NcDouble),
        Var("elevation", Seq(StationD), Seq(Attr("units", "m")), NcDouble)) ++
      valueCols.map(c =>
        Var(c, Seq(TimeD, StationD),
          Seq(Attr("units", attrs.getOrElse(s"${c}_units", "1"))), NcDouble))

    val nameGrid = {
      val g = Array.fill[Byte](names.length * strlen)(0)
      names.zipWithIndex.foreach { case (n, i) =>
        val b = n.getBytes("UTF-8"); System.arraycopy(b, 0, g, i * strlen, b.length)
      }
      g
    }
    val fixed = Map[String, AnyRef](
      "station_name" -> nameGrid,
      "latitude" -> stations.map(_._2),
      "longitude" -> stations.map(_._3),
      "elevation" -> stations.map(_._4))

    val gattrs = attrs.toSeq.sortBy(_._1).map { case (k, v) => Attr(k, v) }
    val w = new Writer(path, dims, gattrs, vars, fixed)

    val rows = cube
      .select(unix_timestamp(col("time_utc")).as("epoch") +:
        col("station") +: valueCols.map(c => col(c).cast("double")): _*)
      .orderBy("epoch", "station")
      .toLocalIterator()

    var curEpoch = Long.MinValue
    var slabs: Array[Array[Double]] = null
    def flush(): Unit = if (slabs != null) {
      val rec = Map[String, AnyRef]("time" -> Array(curEpoch.toDouble)) ++
        valueCols.zipWithIndex.map { case (c, i) => c -> (slabs(i): AnyRef) }
      w.writeRecord(rec)
    }
    try {
      while (rows.hasNext) {
        val r = rows.next()
        val e = r.getLong(0)
        if (e != curEpoch) {
          flush()
          curEpoch = e
          slabs = Array.fill(valueCols.length)(Array.fill(names.length)(Double.NaN))
        }
        val s = slot(r.getString(1))
        valueCols.indices.foreach { i =>
          slabs(i)(s) = if (r.isNullAt(i + 2)) Double.NaN else r.getDouble(i + 2)
        }
      }
      flush()
    } finally w.close()
  }

  /** Reader-side counterpart of [[writeNetCdf]]: re-assembles the classic
    * file's (time × station) grids back into the long format the writer
    * consumed — station, epoch_utc, value columns, coordinates. Cells
    * that are NaN across every value column are the writer's
    * missing-data marker and are dropped; a NaN in a single column
    * surfaces as null.
    *
    * Export-edge posture, like the writer: a classic `.nc` is one
    * sequential file, so rows materialize on the driver (bounded by the
    * grid the writer could produce). Built to round-trip-verify the
    * binary artifact, not for distributed ingestion.
    */
  def readNetCdfCube(
      spark: SparkSession, path: String,
      valueCols: Seq[String] = Seq("GHI", "DHI", "DNI")): DataFrame = {
    val nc = NetCdf3.read(path)
    val byName = nc.vars.map { case (v, data) => v.name -> data }.toMap
    val nStations = nc.dims.find(_.name == "station").get.length
    val strlen = nc.dims.find(_.name == "name_strlen").get.length
    val times = byName("time").asInstanceOf[Array[Double]]
    val nameBytes = byName("station_name").asInstanceOf[Array[Byte]]
    val names = (0 until nStations).map { i =>
      new String(nameBytes, i * strlen, strlen, "UTF-8").takeWhile(_ != '\u0000')
    }
    val lat = byName("latitude").asInstanceOf[Array[Double]]
    val lon = byName("longitude").asInstanceOf[Array[Double]]
    val elev = byName("elevation").asInstanceOf[Array[Double]]
    val grids = valueCols.map(c => byName(c).asInstanceOf[Array[Double]])
    val rows = for {
      t <- times.indices
      s <- 0 until nStations
      cell = grids.map(g => g(t * nStations + s))
      if cell.exists(!_.isNaN)
    } yield Row.fromSeq(
      Seq(names(s), times(t).toLong) ++
        cell.map(v => if (v.isNaN) null else (v: java.lang.Double)) ++
        Seq(lat(s), lon(s), elev(s)))
    val schema = StructType(
      Seq(StructField("station", StringType), StructField("epoch_utc", LongType)) ++
        valueCols.map(StructField(_, DoubleType)) ++
        Seq(StructField("latitude", DoubleType), StructField("longitude", DoubleType),
          StructField("elevation", DoubleType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }
}
