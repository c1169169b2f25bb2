package graft.ops

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Pins pandas `resample('10min').mean()` semantics (SURVEY §2.4 A1):
  * left-closed/left-labeled bins, null-skipping mean, densified gaps.
  */
class ResampleSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumbling mean is left-closed / left-labeled") {
    // 10:00:00 and 10:09:59 belong to the 10:00 bin; 10:10:00 starts the next.
    val df = Seq(
      (ts("2024-01-01 10:00:00"), 1.0),
      (ts("2024-01-01 10:09:59"), 3.0),
      (ts("2024-01-01 10:10:00"), 10.0)
    ).toDF("time", "v")
    val out = Resample.tumblingMean(df, "time", 10)
      .orderBy("time").collect()
    assert(out.length === 2)
    assert(out(0).getTimestamp(0) === ts("2024-01-01 10:00:00"))
    assert(out(0).getDouble(1) === 2.0)
    assert(out(1).getTimestamp(0) === ts("2024-01-01 10:10:00"))
    assert(out(1).getDouble(1) === 10.0)
  }

  test("mean skips nulls like pandas mean skips NaN") {
    val df = Seq(
      (ts("2024-01-01 00:00:00"), Some(4.0)),
      (ts("2024-01-01 00:01:00"), None),
      (ts("2024-01-01 00:02:00"), Some(8.0))
    ).toDF("time", "v")
    val out = Resample.tumblingMean(df, "time", 10).collect()
    assert(out.length === 1)
    assert(out(0).getDouble(1) === 6.0)
  }

  test("dynamic numeric projection picks only numeric columns") {
    val df = Seq((ts("2024-01-01 00:00:00"), 1.0, "x", 2L))
      .toDF("time", "v", "s", "k")
    assert(Resample.numericColumns(df).toSet === Set("v", "k"))
    val out = Resample.tumblingMean(df, "time", 10)
    assert(out.columns.toSet === Set("time", "v", "k", "n_rows"))
  }

  test("densify emits empty bins across the full span") {
    val df = Seq(
      (ts("2024-01-01 00:00:00"), 1.0),
      // 00:10 bin missing entirely
      (ts("2024-01-01 00:20:00"), 5.0)
    ).toDF("time", "v")
    val bucketed = df
      .groupBy(TimeOps.bucketStartEpoch(col("time"), 600).as("bucket"))
      .agg(avg("v").as("v"))
    val dense = Resample.densify(bucketed, "bucket", 600)
      .orderBy("bucket").collect()
    assert(dense.length === 3)
    assert(dense(1).isNullAt(1)) // the gap bin surfaces as null mean
  }

  test("interpolateLinear: proportional fill, edges stay null, keyed series independent") {
    val dense = Seq(
      ("a", 0L, Some(1.0)),
      ("a", 600L, None),       // one-step gap -> midpoint
      ("a", 1200L, Some(5.0)),
      ("a", 1800L, None),      // two-step gap, first third
      ("a", 2400L, None),      // two-step gap, second third
      ("a", 3000L, Some(8.0)),
      ("a", 3600L, None),      // trailing gap -> stays null
      ("b", 0L, None),         // leading gap -> stays null
      ("b", 600L, Some(10.0))
    ).toDF("key", "bucket", "v")
    val got = Resample.interpolateLinear(dense, "bucket", "v", keys = Seq("key"))
      .orderBy("key", "bucket").collect()
      .map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(got(1) === (("a", 600L, Some(3.0))))
    assert(got(3) === (("a", 1800L, Some(6.0))))
    assert(got(4) === (("a", 2400L, Some(7.0))))
    assert(got(6)._3 === None) // trailing
    assert(got(7)._3 === None) // leading, other key unaffected by 'a'
    assert(got(8) === (("b", 600L, Some(10.0))))
  }

  test("long bucket key equals window().start: pre-1970, exact boundaries, null times") {
    def utc(s: String) = Timestamp.from(java.time.Instant.parse(s))
    val df = Seq(
      Some(utc("1960-06-15T12:34:56.789Z")),
      Some(utc("1969-12-31T23:50:00Z")),        // boundary before the epoch
      Some(utc("1969-12-31T23:55:30Z")),        // floors to 23:50, not 00:00
      Some(utc("1969-12-31T23:59:59.999999Z")),
      Some(utc("1970-01-01T00:00:00Z")),        // the epoch itself
      Some(utc("2024-01-01T10:10:00Z")),        // boundary after the epoch
      Some(utc("2024-01-01T10:19:59.999999Z")),
      None, None                                // dropped, as window() drops them
    ).zipWithIndex.map { case (t, i) => (t, i.toDouble) }.toDF("time", "v")
    val got = Resample.tumblingMean(df, "time", 10)
    val want = df.groupBy(window(col("time"), "10 minutes").as("w"))
      .agg(avg(col("v")).as("v"), count(lit(1)).as("n_rows"))
      .select(col("w.start").as("time"), col("v"), col("n_rows"))
    assert(got.schema.map(f => (f.name, f.dataType)) === want.schema.map(f => (f.name, f.dataType)))
    assert(got.schema("time").dataType === org.apache.spark.sql.types.TimestampType)
    val rows = got.orderBy("time").collect().map(r => (r.getTimestamp(0), r.getDouble(1), r.getLong(2)))
    assert(rows.toSeq === want.orderBy("time").collect()
      .map(r => (r.getTimestamp(0), r.getDouble(1), r.getLong(2))).toSeq)
    assert(rows.map(_._1).toSeq === Seq("1960-06-15T12:30:00Z", "1969-12-31T23:50:00Z",
      "1970-01-01T00:00:00Z", "2024-01-01T10:10:00Z").map(utc))
    assert(rows.map(_._3).sum === 7L)
  }

  test("an input whose times are all null resamples to no rows") {
    val df = Seq[(Option[Timestamp], Double)]((None, 1.0), (None, 2.0)).toDF("time", "v")
    assert(Resample.tumblingMean(df, "time", 10).collect().isEmpty)
  }

  test("keyed input with null times: each key's null rows drop, n_rows counts each bucket") {
    val df = Seq(
      ("a", Some(ts("2024-01-01 00:00:00")), 1.0),
      ("a", Some(ts("2024-01-01 00:05:00")), 3.0),
      ("a", None, 100.0),
      ("a", Some(ts("2024-01-01 00:10:00")), 5.0),
      ("b", None, 200.0),
      ("b", None, 300.0),
      ("b", Some(ts("2024-01-01 00:01:00")), 7.0),
      ("c", None, 400.0)
    ).toDF("k", "time", "v")
    val got = Resample.tumblingMean(df, "time", 10, extraKeys = Seq("k"))
    val rows = got.orderBy("k", "time").collect()
      .map(r => (r.getString(1), r.getTimestamp(0), r.getDouble(2), r.getLong(3))).toSeq
    assert(rows === Seq(
      ("a", ts("2024-01-01 00:00:00"), 2.0, 2L),
      ("a", ts("2024-01-01 00:10:00"), 5.0, 1L),
      ("b", ts("2024-01-01 00:00:00"), 7.0, 1L)))
    val counts = df.where(col("time").isNotNull)
      .groupBy(col("k"), window(col("time"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("k"), col("w.start").as("time"), col("n"))
    val joined = got.join(counts, Seq("k", "time"), "full_outer")
    assert(joined.count() === 3)
    assert(joined.where(col("n_rows") =!= col("n") || col("n").isNull || col("n_rows").isNull)
      .count() === 0)
  }

  test("resample of a union equals resample over concatenated input") {
    val a = Seq((ts("2024-01-01 00:00:00"), 2.0)).toDF("time", "v")
    val b = Seq((ts("2024-01-01 00:01:00"), 4.0)).toDF("time", "v")
    val together = Resample.tumblingMean(a.unionByName(b), "time", 10).collect()
    assert(together.length === 1 && together(0).getDouble(1) === 3.0)
  }
}
