package graft.io

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.SparkTestBase
import graft.model.Schemas
import graft.pipelines.SolarPipelines

class NetCdf3Spec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  // 2 stations × 3 times with one missing cell (bbb @ 00:20) and one
  // null GHI (aaa @ 00:10) — both must surface as NaN in the grid.
  private lazy val cube = Seq(
    ("aaa", ts("2024-01-01 00:00:00"), Some(10.0), 1.0, -6.25, 106.75, 25.0),
    ("aaa", ts("2024-01-01 00:10:00"), None, 2.0, -6.25, 106.75, 25.0),
    ("aaa", ts("2024-01-01 00:20:00"), Some(30.0), 3.0, -6.25, 106.75, 25.0),
    ("bbb", ts("2024-01-01 00:00:00"), Some(11.0), 1.5, -7.5, 110.25, 150.5),
    ("bbb", ts("2024-01-01 00:10:00"), Some(21.0), 2.5, -7.5, 110.25, 150.5)
  ).toDF("station", "time_utc", "GHI", "DHI", "latitude", "longitude", "elevation")

  test("netcdf cube round-trips: dims, attrs, coords, data grid with NaN holes") {
    val out = Files.createTempDirectory("graft-nc").resolve("cube.nc").toString
    Sinks.writeNetCdf(cube, out, valueCols = Seq("GHI", "DHI"))

    // magic: classic 64-bit-offset format, numrecs 3 in the header
    val head = Files.readAllBytes(Paths.get(out)).take(8)
    assert(head.take(3).map(_.toChar).mkString === "CDF" && head(3) === 2)
    assert(java.nio.ByteBuffer.wrap(head, 4, 4).getInt === 3)

    val nc = NetCdf3.read(out, spark.sparkContext.hadoopConfiguration)
    assert(nc.dims.map(d => d.name -> d.length) ===
      Seq("time" -> 0, "station" -> 2, "name_strlen" -> 3))
    assert(nc.gattrs.exists(a => a.name == "Conventions" && a.text == "CF-1.8"))

    val byName = nc.vars.map { case (v, d) => v.name -> ((v, d)) }.toMap

    // time is the record var: epoch seconds, one per record
    val time = byName("time")._2.asInstanceOf[Array[Double]]
    assert(time.toSeq === Seq(1704067200.0, 1704067800.0, 1704068400.0))
    assert(byName("time")._1.attrs.exists(_.text == "seconds since 1970-01-01"))

    // station coordinate block (sorted station order)
    assert(new String(byName("station_name")._2.asInstanceOf[Array[Byte]], "UTF-8")
      === "aaabbb")
    assert(byName("latitude")._2.asInstanceOf[Array[Double]].toSeq === Seq(-6.25, -7.5))
    assert(byName("elevation")._2.asInstanceOf[Array[Double]].toSeq === Seq(25.0, 150.5))

    // data grids are (time × station) row-major with NaN holes
    val ghi = byName("GHI")._2.asInstanceOf[Array[Double]]
    assert(ghi.length === 6)
    assert(ghi(0) === 10.0 && ghi(1) === 11.0)
    assert(ghi(2).isNaN) // null GHI at aaa 00:10
    assert(ghi(3) === 21.0)
    assert(ghi(4) === 30.0)
    assert(ghi(5).isNaN) // bbb missing the 00:20 record entirely
    val dhi = byName("DHI")._2.asInstanceOf[Array[Double]]
    assert(dhi.toSeq.take(4) === Seq(1.0, 1.5, 2.0, 2.5))

    // per-var CF attr survived
    assert(byName("GHI")._1.attrs.exists(a => a.name == "units" && a.text == "Wh/m^2"))
  }

  test("single char record variable: record slabs are UNPADDED per the classic spec") {
    import NetCdf3._
    val out = Files.createTempDirectory("graft-nc").resolve("chars.nc").toString
    val w = new Writer(out,
      dims = Seq(Dim("t", 0), Dim("strlen", 5)),
      gattrs = Nil,
      vars = Seq(Var("name", Seq(0, 1), Nil, NcChar)),
      fixedData = Map.empty, numRecs = 3, conf = spark.sparkContext.hadoopConfiguration)
    w.writeRecord(Map("name" -> "aaaaa".getBytes("US-ASCII")))
    w.writeRecord(Map("name" -> "bbbbb".getBytes("US-ASCII")))
    w.writeRecord(Map("name" -> "ccccc".getBytes("US-ASCII")))
    w.close()
    val bytes = Files.readAllBytes(Paths.get(out))
    // records are 5 bytes apart, not 8: the payload is contiguous
    assert(new String(bytes.takeRight(15), "US-ASCII") === "aaaaabbbbbccccc")
    val nc = NetCdf3.read(out, spark.sparkContext.hadoopConfiguration)
    assert(new String(nc.vars.head._2.asInstanceOf[Array[Byte]], "US-ASCII")
      === "aaaaabbbbbccccc")
  }

  test("writer enforces slab shape and patches record count") {
    import NetCdf3._
    val out = Files.createTempDirectory("graft-nc").resolve("tiny.nc").toString
    val w = new Writer(out,
      dims = Seq(Dim("t", 0), Dim("x", 2)),
      gattrs = Seq(Attr("title", "tiny")),
      vars = Seq(Var("xs", Seq(1), Nil, NcInt), Var("v", Seq(0, 1), Nil, NcDouble)),
      fixedData = Map("xs" -> Array(7, 8)), numRecs = 2,
      conf = spark.sparkContext.hadoopConfiguration)
    intercept[IllegalArgumentException] {
      w.writeRecord(Map("v" -> Array(1.0))) // wrong slab size
    }
    w.writeRecord(Map("v" -> Array(1.0, 2.0)))
    w.writeRecord(Map("v" -> Array(3.0, 4.0)))
    w.close()
    val nc = NetCdf3.read(out, spark.sparkContext.hadoopConfiguration)
    assert(nc.vars.find(_._1.name == "xs").get._2.asInstanceOf[Array[Int]].toSeq === Seq(7, 8))
    assert(nc.vars.find(_._1.name == "v").get._2.asInstanceOf[Array[Double]].toSeq
      === Seq(1.0, 2.0, 3.0, 4.0))
  }

  private def sha256(path: String): String = MessageDigest.getInstance("SHA-256")
    .digest(Files.readAllBytes(Paths.get(path))).map("%02x".format(_)).mkString

  // The streaming single-query writer must not move a byte: these are the
  // SHA-256s of the files the two-query writer (distinct stations, then a
  // global orderBy; numrecs patched on close) wrote for the same inputs.
  test("cube bytes are pinned: this suite's cube and the compile fixture's") {
    val dir = Files.createTempDirectory("graft-nc")
    val out = dir.resolve("cube.nc").toString
    Sinks.writeNetCdf(cube, out, valueCols = Seq("GHI", "DHI"))
    assert(sha256(out) === SpecCubeSha)

    val (glob, locCsv) = VerifyFixtures.compileFixture()
    val locations = spark.read.option("header", "true").schema(Schemas.station).csv(locCsv)
    val fixture = dir.resolve("fixture.nc").toString
    Sinks.writeNetCdf(SolarPipelines.compileCube(spark, glob, locations), fixture)
    assert(sha256(fixture) === FixtureCubeSha)
  }
  private val SpecCubeSha = "f6642a2a0c9ddfa551a6c79e21b49dd2b4e07b74f4cb737cfdfe2214dcac5a87"
  private val FixtureCubeSha = "3bd8ac06123177a99707c12278a90ccd624e3571d654def839b78b1164d93027"

  test("a file: URI round-trips through the session's Hadoop FileSystem") {
    val uri = Files.createTempDirectory("graft-nc").resolve("nested/cube.nc").toUri.toString
    assert(uri.startsWith("file:/"))
    Sinks.writeNetCdf(cube, uri, valueCols = Seq("GHI", "DHI"))
    val back = Sinks.readNetCdfCube(spark, uri, valueCols = Seq("GHI", "DHI")).collect()
      .map(r => r.toSeq).toSet
    def cell(s: String, t: Long, ghi: java.lang.Double, dhi: Double, c: (Double, Double, Double)) =
      Seq(s, t, ghi, dhi, c._1, c._2, c._3)
    val a = (-6.25, 106.75, 25.0); val b = (-7.5, 110.25, 150.5)
    assert(back === Set(
      cell("aaa", 1704067200L, 10.0, 1.0, a), cell("aaa", 1704067800L, null, 2.0, a),
      cell("aaa", 1704068400L, 30.0, 3.0, a),
      cell("bbb", 1704067200L, 11.0, 1.5, b), cell("bbb", 1704067800L, 21.0, 2.5, b)))
  }

  test("a station with two coordinate sets is an error naming it, and no file is written") {
    val moved = Seq(("bbb", ts("2024-01-01 00:20:00"), Some(31.0), 3.5, -7.5, 110.25, 151.0))
      .toDF("station", "time_utc", "GHI", "DHI", "latitude", "longitude", "elevation")
    val out = Files.createTempDirectory("graft-nc").resolve("cube.nc").toString
    val e = intercept[IllegalArgumentException] {
      Sinks.writeNetCdf(cube.unionByName(moved), out, valueCols = Seq("GHI", "DHI"))
    }
    assert(e.getMessage.contains("station bbb has two coordinate sets"))
    assert(!Files.exists(Paths.get(out)))
  }

  test("close fails unless exactly the declared numrecs were written") {
    import NetCdf3._
    def writer(out: String) = new Writer(out,
      dims = Seq(Dim("t", 0), Dim("x", 1)), gattrs = Nil,
      vars = Seq(Var("v", Seq(0, 1), Nil, NcDouble)), fixedData = Map.empty,
      numRecs = 2, conf = spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("graft-nc")
    val short = writer(dir.resolve("short.nc").toString)
    short.writeRecord(Map("v" -> Array(1.0)))
    intercept[IllegalStateException](short.close())
    val long = writer(dir.resolve("long.nc").toString)
    long.writeRecord(Map("v" -> Array(1.0)))
    long.writeRecord(Map("v" -> Array(2.0)))
    intercept[IllegalStateException](long.writeRecord(Map("v" -> Array(3.0))))
    long.close()
    assert(NetCdf3.read(dir.resolve("long.nc").toString, spark.sparkContext.hadoopConfiguration)
      .vars.head._2.asInstanceOf[Array[Double]].toSeq === Seq(1.0, 2.0))
  }
}
