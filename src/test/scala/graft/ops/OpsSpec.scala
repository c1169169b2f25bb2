package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Unit pins for the scalar/filter operators (SURVEY §2.2, §2.8). */
class OpsSpec extends SparkTestBase {
  import spark.implicits._

  test("Qc.clean keeps rows whose present-flag sum is zero, tolerates missing flags") {
    val df = Seq(
      (1, 0, 0), (2, 1, 0), (3, 0, 2)
    ).toDF("id", "flag_ghi", "flag_dhi")
    val cleaned = Qc.clean(df) // asks for 8 standard flags; only 2 exist
    assert(cleaned.select("id").as[Int].collect().toSeq === Seq(1))
    // no flag columns at all -> pass-through
    val noFlags = Seq(1, 2).toDF("id")
    assert(Qc.clean(noFlags).count() === 2)
  }

  test("Qc.clean counts a null flag as unflagged") {
    val df = Seq[(Int, Option[Int], Option[Int])](
      (1, Some(0), None), (2, Some(1), None), (3, None, None)
    ).toDF("id", "flag_ghi", "flag_dhi")
    assert(Qc.clean(df).select("id").as[Int].collect().sorted.toSeq === Seq(1, 3))
  }

  test("cleanStationName matches the reference pipeline and is idempotent") {
    val df = Seq("Padang_Pariaman", "  KUPANG  (NTT)! ", "a__b", "Sleman")
      .toDF("s").select(Stations.cleanStationName($"s").as("c"))
    val got = df.as[String].collect().toSeq
    assert(got === Seq("padang pariaman", "kupang ntt", "a b", "sleman"))
    val twice = df.select(Stations.cleanStationName($"c")).as[String].collect().toSeq
    assert(twice === got)
  }

  test("sanitizeFileName replaces everything outside [\\w.-]") {
    val got = Seq("Kupang (NTT)/x")
      .toDF("s").select(Stations.sanitizeFileName($"s")).as[String].head()
    assert(got === "Kupang__NTT__x")
  }

  test("guardedRatio nulls on zero divisor") {
    val df = Seq((10.0, 2.0), (10.0, 0.0)).toDF("n", "d")
      .select(Compare.guardedRatio($"n", $"d").as("r"))
    val got = df.collect()
    assert(got(0).getDouble(0) === 5.0)
    assert(got(1).isNullAt(0))
  }

  test("unit conversion scales only present irradiance columns") {
    val df = Seq((1.0, 2.0, 9.9)).toDF("GHI", "DHI", "other")
    val out = Units.whPerMinuteToWatts(df).collect()(0)
    assert(out.getDouble(0) === 60.0)
    assert(out.getDouble(1) === 120.0)
    assert(out.getDouble(2) === 9.9)
  }

  test("parseUtcOffset handles UTC+7 / UTC-3 / bare UTC") {
    val got = Seq("UTC+7", "UTC-3", "UTC+0")
      .toDF("tz").select(TimeOps.parseUtcOffset($"tz")).as[Int].collect().toSeq
    assert(got === Seq(7, -3, 0))
  }

  test("parseIntervalStart takes the interval start, nulls on garbage (coerce)") {
    val df = Seq("2024-01-01T00:01:00.0/2024-01-01T00:02:00.0", "not a time/x")
      .toDF("p").select(TimeOps.parseIntervalStart($"p").as("t"))
    val got = df.collect()
    assert(got(0).getTimestamp(0) === java.sql.Timestamp.valueOf("2024-01-01 00:01:00"))
    assert(got(1).isNullAt(0))
  }

  test("localTime adds whole hours, including negatives") {
    val df = Seq(("2024-06-01 12:00:00", 7), ("2024-06-01 12:00:00", -3))
      .toDF("t", "off")
      .select(TimeOps.localTime(to_timestamp($"t"), $"off").as("lt"))
    val got = df.collect()
    assert(got(0).getTimestamp(0) === java.sql.Timestamp.valueOf("2024-06-01 19:00:00"))
    assert(got(1).getTimestamp(0) === java.sql.Timestamp.valueOf("2024-06-01 09:00:00"))
  }

  test("excludeStation drops canonical-equal names only") {
    val df = Seq("Sleman", "SLEMAN ", "Bandung").toDF("station")
    val kept = Stations.excludeStation(df, $"station", "sleman")
      .as[String].collect().toSeq
    assert(kept === Seq("Bandung"))
  }
}
