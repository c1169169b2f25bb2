package graft.io

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Using

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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
    * sink. One Spark query brings the rows to the driver in (time,
    * station) order (`repartition(1)` plus a sort inside the one
    * partition: no range-sampling job, and the cube's input is scanned
    * once). The driver spools them to a local temp file as (epoch,
    * first-seen station id, values) while it collects the station →
    * coordinates map and counts the time records; it then writes the
    * header with the true `numrecs`, the station variables (names in
    * sorted order) and the records front to back through the path's
    * Hadoop `FileSystem`. Driver memory is the fetched partition's
    * serialized rows, one time slab (`n_stations` doubles per variable)
    * and the station map, never the decoded cube. Missing
    * (time, station) cells become NaN, NetCDF's conventional
    * missing-value marker.
    *
    * A station that carries two coordinate sets raises
    * `IllegalArgumentException` naming it: the file has one coordinate
    * triple per station.
    */
  def writeNetCdf(
      cube: DataFrame, path: String,
      valueCols: Seq[String] = Seq("GHI", "DHI", "DNI"),
      attrs: Map[String, String] = cfAttributes()): Unit = {
    import NetCdf3._
    val rows = cube
      .select(Seq(unix_timestamp(col("time_utc")).as("epoch"), col("station")) ++
        (Seq("latitude", "longitude", "elevation") ++ valueCols).map(c => col(c).cast("double")): _*)
      .repartition(1).sortWithinPartitions("epoch", "station")
      .toLocalIterator()

    val spool = Files.createTempFile("graft-netcdf-", ".rec")
    try {
      // pass 1: spool the rows, collecting the stations and the record count
      // station -> (first-seen id, coordinates)
      val seen = mutable.HashMap.empty[String, (Int, (Double, Double, Double))]
      var numRecs = 0
      var numRows = 0L
      val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(spool), 1 << 16))
      try {
        var curEpoch = 0L
        while (rows.hasNext) {
          val r = rows.next()
          val e = r.getLong(0)
          if (numRecs == 0 || e != curEpoch) { numRecs += 1; curEpoch = e }
          val name = r.getString(1)
          // coordinates compare as Spark groups doubles: -0.0 is 0.0, NaN is NaN
          val coords = (norm(r.getDouble(2)), norm(r.getDouble(3)), norm(r.getDouble(4)))
          val (id, first) = seen.getOrElseUpdate(name, (seen.size, coords))
          if (!sameCoords(first, coords)) throw new IllegalArgumentException(
            s"station $name has two coordinate sets: $first and $coords")
          numRows += 1
          out.writeLong(e)
          out.writeInt(id)
          valueCols.indices.foreach { i =>
            out.writeDouble(if (r.isNullAt(i + 5)) Double.NaN else r.getDouble(i + 5))
          }
        }
      } finally out.close()
      require(seen.nonEmpty, "empty cube: no stations")

      // Spark's string order (UTF-8 bytes), as the station dimension sorts
      val stations = seen.toArray.sortBy(s => UTF8String.fromString(s._1))
      val names = stations.map(_._1)
      // first-seen id -> slot in the sorted station dimension
      val slotOf = new Array[Int](names.length)
      stations.zipWithIndex.foreach { case ((_, (id, _)), slot) => slotOf(id) = slot }
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
        "latitude" -> stations.map(_._2._2._1),
        "longitude" -> stations.map(_._2._2._2),
        "elevation" -> stations.map(_._2._2._3))

      // pass 2: one time slab per record, from the spool
      val gattrs = attrs.toSeq.sortBy(_._1).map { case (k, v) => Attr(k, v) }
      val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(spool), 1 << 16))
      try Using.resource(new Writer(path, dims, gattrs, vars, fixed, numRecs,
          cube.sparkSession.sparkContext.hadoopConfiguration)) { w =>
        var curEpoch = 0L
        var slabs: Array[Array[Double]] = null
        def flush(): Unit = if (slabs != null) {
          w.writeRecord(Map[String, AnyRef]("time" -> Array(curEpoch.toDouble)) ++
            valueCols.zip(slabs).map { case (c, slab) => c -> (slab: AnyRef) })
        }
        var left = numRows
        while (left > 0) {
          val e = in.readLong()
          if (slabs == null || e != curEpoch) {
            flush()
            curEpoch = e
            slabs = Array.fill(valueCols.length)(Array.fill(names.length)(Double.NaN))
          }
          val s = slotOf(in.readInt())
          valueCols.indices.foreach(i => slabs(i)(s) = in.readDouble())
          left -= 1
        }
        flush()
      } finally in.close()
    } finally Files.deleteIfExists(spool)
  }

  private def norm(d: Double): Double = if (d == 0.0) 0.0 else d
  private def sameCoords(a: (Double, Double, Double), b: (Double, Double, Double)): Boolean = {
    def same(x: Double, y: Double) = x == y || x.isNaN && y.isNaN
    same(a._1, b._1) && same(a._2, b._2) && same(a._3, b._3)
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
    val nc = NetCdf3.read(path, spark.sparkContext.hadoopConfiguration)
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
