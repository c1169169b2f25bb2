package graft.pipelines

import java.nio.file.{Files, Path}

import graft.SparkTestBase
import graft.io.{CamsExpertCsv, Sinks}
import org.apache.spark.sql.catalyst.expressions.SubstringIndex
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** End-to-end fixtures for the three reference pipelines (FIXTURES.md),
  * asserting hand-computed expectations.
  */
class SolarPipelinesSpec extends SparkTestBase {
  import spark.implicits._

  private def writeFixture(dir: Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  private lazy val tmp = Files.createTempDirectory("graft-fixtures")

  // ---- fixture 2: raw 1-minute csv_expert -------------------------------
  // 25 minutes of data with minutes 10-19 missing entirely (a gap bin),
  // GHI ramps 0,1,2,... so 10-min means are exact.
  private lazy val rawPath: String = {
    val sb = new StringBuilder
    sb ++= "# CAMS solar radiation data\n"
    sb ++= "# Latitude: -6.2\n"
    sb ++= "# Columns:\n"
    sb ++= "# Observation period;GHI;DHI;BNI;Cloud coverage\n"
    val minutes = (0 until 10) ++ (20 until 30)
    minutes.foreach { m =>
      val t0 = f"2024-01-01T00:$m%02d:00.0"
      val t1 = f"2024-01-01T00:${m + 1}%02d:00.0"
      sb ++= s"$t0/$t1;$m.0;${m / 2.0};${m * 2.0};50.0\n"
    }
    writeFixture(tmp, "raw_1min_Test_observed_cloud.csv", sb.toString)
  }

  test("S2: csv_expert sniffs the commented header and reads data rows") {
    val df = CamsExpertCsv.read(spark, rawPath)
    assert(df.columns.toSeq ===
      Seq("Observation period", "GHI", "DHI", "BNI", "Cloud coverage"))
    assert(df.count() === 20)
  }

  // Catalyst pushes a row filter on `time` below the projection that
  // computes it, and evaluates the parse once more per row for each one
  // (three `substring_index` with the two null-time filters the pipeline
  // once had): only the projection may hold it.
  test("resampleRaw parses the interval start once per row") {
    val plan = SolarPipelines.resampleRaw(spark, rawPath).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val parses = plan.collect { case p => p.expressions.map(_.collect {
      case s: SubstringIndex => s
    }.size).sum }.sum
    assert(parses === 1, plan.toString)
  }

  test("S2 failure isolation: corrupt data line yields nulls, not an abort") {
    val p = writeFixture(tmp, "raw_corrupt.csv",
      "# meta\n# Observation period;GHI\n2024-01-01T00:00:00.0/2024-01-01T00:01:00.0;5.0\ngarbage;not_a_number\n")
    val df = CamsExpertCsv.read(spark, p)
    val rows = df.orderBy(desc("GHI")).collect()
    assert(rows.length === 2)
    assert(rows(0).getDouble(1) === 5.0)
    assert(rows(1).isNullAt(1)) // permissive mode: bad cell -> null
  }

  test("P8: empty input collapses to an empty local plan, no distributed work") {
    val empty = Seq.empty[(String, Double)].toDF("Observation period", "GHI")
    val out = SolarPipelines.resampleRawDf(empty, 10)
    assert(out.isEmpty)
    // PropagateEmptyRelation folds the whole pipeline away — the
    // engine-level form of the reference's explicit empty-input guard
    val optimized = out.queryExecution.optimizedPlan
    assert(optimized.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      optimized.toString)
  }

  test("3.1 resample: 10-min means, left-labeled, gap bin absent") {
    val out = SolarPipelines.resampleRaw(spark, rawPath).orderBy("time")
    val rows = out.collect()
    // bins: 00:00 (minutes 0-9, mean GHI 4.5), 00:20 (minutes 20-29, mean 24.5)
    assert(rows.length === 2)
    assert(rows(0).getTimestamp(0) === java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    assert(rows(0).getAs[Double]("GHI") === 4.5)
    assert(rows(1).getTimestamp(0) === java.sql.Timestamp.valueOf("2024-01-01 00:20:00"))
    assert(rows(1).getAs[Double]("GHI") === 24.5)
    assert(rows(1).getAs[Double]("BNI") === 49.0)
  }

  // ---- fixtures 3+4: processed CAMS + QC ground -------------------------
  // Ground rows at 00:00 / 00:10 / 00:20 / 00:30; the 00:20 row is QC-flagged,
  // 00:30 has no CAMS match. CAMS GHI chosen so cams = 60 * raw = 2*ground
  // exactly -> slope 2, intercept 0, r2 1.
  private lazy val groundCsv = writeFixture(tmp, "QC_Test_2024_flagged.csv",
    """Datetime (UTC),GHI,DHI,DNI,flag_ghi,flag_dhi
      |2024-01-01 00:00:00,30.0,15.0,60.0,0,0
      |2024-01-01 00:10:00,60.0,0.0,120.0,0,0
      |2024-01-01 00:20:00,90.0,45.0,180.0,1,0
      |2024-01-01 00:30:00,120.0,60.0,240.0,0,0
      |""".stripMargin)

  private lazy val camsCsv = writeFixture(tmp, "processed_10min_Test_observed_cloud.csv",
    """time,GHI,DHI,BNI,Cloud coverage
      |2024-01-01 00:00:00,1.0,0.5,2.0,40.0
      |2024-01-01 00:10:00,2.0,1.0,4.0,50.0
      |2024-01-01 00:20:00,3.0,1.5,6.0,60.0
      |""".stripMargin)

  private def readGround =
    spark.read.option("header", "true").schema(graft.model.Schemas.groundQc).csv(groundCsv)

  private def readCams =
    spark.read.option("header", "true").schema(graft.model.Schemas.processed10Min).csv(camsCsv)

  test("3.2 ground read: the canonical schema reads a 2-flag file by position") {
    val rows = readGround.orderBy("Datetime (UTC)").collect()
    assert(rows.length === 4)
    val r = rows(2) // 2024-01-01 00:20:00,90.0,45.0,180.0,1,0
    assert(r.getAs[java.sql.Timestamp]("Datetime (UTC)").toInstant ===
      java.time.Instant.parse("2024-01-01T00:20:00Z"))
    assert((r.getAs[Double]("GHI"), r.getAs[Double]("DHI"), r.getAs[Double]("DNI")) ===
      ((90.0, 45.0, 180.0)))
    assert((r.getAs[Int]("flag_ghi"), r.getAs[Int]("flag_dhi")) === ((1, 0)))
    // the six flag columns the file lacks read as nulls
    val absent = graft.model.Schemas.groundQc.fieldNames.drop(6).map(r.fieldIndex)
    assert(absent.length === 6 && rows.forall(row => absent.forall(row.isNullAt)))
  }

  test("3.2 compare: QC filter + join + units + bias + guarded ratio") {
    val cmp = SolarPipelines.compareFrame(readGround, readCams).orderBy("timestamp")
    val rows = cmp.collect()
    // 00:20 dropped by QC flag, 00:30 dropped by inner join -> 2 rows
    assert(rows.length === 2)
    val r0 = rows(0)
    assert(r0.getAs[Double]("GHI_cams") === 60.0)   // 1.0 * 60
    assert(r0.getAs[Double]("bias_GHI") === 30.0)   // 60 - 30
    assert(r0.getAs[Double]("ghi_dhi_ratio") === 2.0)
    assert(rows(1).isNullAt(rows(1).fieldIndex("ghi_dhi_ratio"))) // DHI_ground == 0
    assert(r0.getAs[Double]("cloud_cover") === 40.0)
  }

  test("3.2 stats: exact 2x relation gives slope 2, intercept 0, r2 1") {
    val cmp = SolarPipelines.compareFrame(readGround, readCams)
    val stats = SolarPipelines.compareStats(cmp).orderBy("component").collect()
    assert(stats.length === 3)
    val ghi = stats.find(_.getString(0) == "GHI").get
    assert(math.abs(ghi.getAs[Double]("slope") - 2.0) < 1e-12)
    assert(math.abs(ghi.getAs[Double]("intercept")) < 1e-9)
    assert(math.abs(ghi.getAs[Double]("r2") - 1.0) < 1e-12)
    assert(ghi.getAs[Long]("n") === 2)
    assert(ghi.getAs[Double]("mean_bias") === 45.0) // (30+60)/2
  }

  test("J4: download matrix is stations × sky_types with request params") {
    val m = SolarPipelines.downloadMatrix(locationsDf)
    assert(m.count() === 6) // 3 stations × 2 sky types
    val row = m.filter($"station" === "Excluded Town" && $"sky_type" === "clear").collect()(0)
    assert(row.getAs[String]("time_step") === "1minute")
    assert(row.getAs[String]("file_tag") === "Excluded_Town_clear")
    // missing required column -> hard failure
    intercept[IllegalArgumentException] {
      SolarPipelines.downloadMatrix(locationsDf.drop("latitude"))
    }
  }

  test("3.2 all stations in one plan: grouped stats match per-station runs") {
    // station A: cams = 2 * ground exactly; station B: cams = 3 * ground
    def mk(station: String, factor: Double) = (0 until 4).map { i =>
      (station, java.sql.Timestamp.valueOf(f"2024-01-01 00:${i * 10}%02d:00"),
        30.0 * (i + 1), 15.0 * (i + 1), 60.0 * (i + 1), factor)
    }
    val rows = mk("A", 2.0) ++ mk("B", 3.0)
    val ground = rows.toDF("station", "Datetime (UTC)", "GHI", "DHI", "DNI", "f")
      .drop("f")
    val cams = rows.toDF("station", "time", "g", "d", "n", "f")
      .select($"station", $"time",
        ($"g" * $"f" / 60).as("GHI"), ($"d" * $"f" / 60).as("DHI"),
        ($"n" * $"f" / 60).as("BNI"))
    val stats = SolarPipelines.compareAllStations(ground, cams)
    val got = stats.collect().map(r =>
      (r.getString(0), r.getString(1)) -> r.getAs[Double]("slope")).toMap
    assert(got.size === 6) // 2 stations × 3 components, one plan
    assert(math.abs(got(("A", "GHI")) - 2.0) < 1e-9)
    assert(math.abs(got(("B", "DNI")) - 3.0) < 1e-9)
  }

  // ---- fixture 1 + 3.3: compile to long cube ----------------------------
  private lazy val locationsDf = Seq(
    (1, "Test", -6.2, 106.8, 25.0, "UTC+7"),
    (2, "Other_Place", -7.0, 110.0, 100.0, "UTC+8"),
    (3, "Excluded Town", -8.0, 112.0, 50.0, "UTC+9")
  ).toDF("no", "station", "latitude", "longitude", "elevation", "timezone")

  test("3.3 compile: glob scan + provenance + exclusion + broadcast join + local time") {
    // second station file + one for the excluded station + one unknown station
    writeFixture(tmp, "processed_10min_Other_Place_observed_cloud.csv",
      """time,GHI,DHI,BNI,Cloud coverage
        |2024-01-01 10:00:00,5.0,2.5,10.0,20.0
        |""".stripMargin)
    writeFixture(tmp, "processed_10min_Excluded_Town_observed_cloud.csv",
      """time,GHI,DHI,BNI,Cloud coverage
        |2024-01-01 10:00:00,9.0,4.5,18.0,10.0
        |""".stripMargin)
    writeFixture(tmp, "processed_10min_Nowhere_observed_cloud.csv",
      """time,GHI,DHI,BNI,Cloud coverage
        |2024-01-01 10:00:00,7.0,3.5,14.0,30.0
        |""".stripMargin)

    val cube = SolarPipelines.compileCube(
      spark, s"$tmp/processed_10min_*_observed_cloud.csv", locationsDf,
      excludeStations = Seq("Excluded Town"))

    val stations = cube.select("station").distinct().as[String].collect().toSet
    // 'Excluded Town' filtered, 'Nowhere' dropped by the metadata join
    assert(stations === Set("test", "other place"))

    val other = cube.filter($"station" === "other place").collect()(0)
    assert(other.getAs[java.sql.Timestamp]("time_local") ===
      java.sql.Timestamp.valueOf("2024-01-01 18:00:00")) // +8h
    assert(other.getAs[Double]("DNI") === 10.0)           // BNI renamed
    assert(other.getAs[Double]("elevation") === 100.0)    // coords attached

    // S8 sink: partitioned parquet + attribute sidecar
    val out = tmp.resolve("cube_out").toString
    Sinks.writeCube(cube, out)
    assert(Files.exists(tmp.resolve("cube_out/_attributes.json")))
    val reread = spark.read.parquet(out)
    assert(reread.count() === cube.count())
    assert(reread.columns.contains("time_epoch"))
  }
}
