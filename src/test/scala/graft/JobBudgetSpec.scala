package graft

import java.nio.file.Files

import graft.io.{Sinks, VerifyFixtures}
import graft.model.Schemas
import graft.obs.Profile
import graft.pipelines.SolarPipelines

/** Job-count guardrail for the station-year ingest path (entry point 1:
  * csv_expert → 10-min resample → ordered CSV), beside [[PlanBudgetSpec]]'s
  * shuffle pins. Each job pays Spark's fixed scheduling cost once per
  * file, so a spelling that adds one (a Spark-side header probe, a range
  * sort's sampling job) fails here, not only in `perfbench`'s timings.
  */
class JobBudgetSpec extends SparkTestBase {

  test("resampleRaw + writeCsv of one csv_expert file starts exactly 2 jobs") {
    val path = VerifyFixtures.camsExpertFixture()
    val out = Files.createTempDirectory("graft-job-budget").resolve("out").toString
    // job 1: scan + partial aggregation; job 2: final aggregation, sort
    // and write in the one coalesced task. The sniff runs on the driver.
    val (_, stats) = Profile(spark)(
      Sinks.writeCsv(SolarPipelines.resampleRaw(spark, path), out, Some("time")))
    assert(stats.jobs === 2)
  }

  // The schema-less load takes its schema from the header, read on the
  // driver like the sniff: no inference scan of the data.
  test("a schema-less format(\"cams\") load starts no job") {
    val path = VerifyFixtures.camsExpertFixture()
    val (schema, stats) = Profile(spark)(spark.read.format("cams").load(path).schema)
    assert(schema.fieldNames.head === "Observation period")
    assert(stats.jobs === 0)
  }

  // The table reads every query starts with: the schema comes from one
  // footer read on the driver, where a schema-less `spark.read.parquet`
  // starts a one-task inference job.
  test("Tables.load starts no job") {
    val (_, stats) = Profile(spark)(Tables.load(spark, "/root/testdata/sf0.001", "events").schema)
    assert(stats.jobs === 0)
  }

  test("streamTable starts no job") {
    val (_, stats) = Profile(spark)(
      SparkEntry.streamTable(spark, "/root/testdata/sf0.001", "documents").schema)
    assert(stats.jobs === 0)
  }

  // The NetCDF export is one query, one job each for the locations
  // broadcast, the cube's scan into the single-partition exchange, and the
  // sort of that partition streamed to the driver. The two-query writer (a
  // distinct/orderBy for the station dimension, then a global orderBy for
  // the records, each re-scanning and re-broadcasting) started 9.
  test("writeNetCdf of the compile fixture's cube starts exactly 3 jobs") {
    val (glob, locCsv) = VerifyFixtures.compileFixture()
    val locations = spark.read.option("header", "true").schema(Schemas.station).csv(locCsv)
    val cube = SolarPipelines.compileCube(spark, glob, locations)
    val out = Files.createTempDirectory("graft-job-budget").resolve("cube.nc").toString
    val (_, stats) = Profile(spark)(Sinks.writeNetCdf(cube, out))
    assert(stats.jobs === 3)
  }
}
