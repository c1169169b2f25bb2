package graft.ops

import graft.SparkTestBase
import java.sql.Timestamp

class FunnelSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("ordered funnel: each step must be strictly after the previous") {
    val events = Seq(
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      (2L, "click", ts(1)), (2L, "view", ts(2)), // click precedes view: no step 2
      (3L, "view", ts(1)), (3L, "click", ts(2)),
      (4L, "purchase", ts(1)) // never viewed
    ).toDF("user_id", "event_type", "ts")
    val got = Funnel.funnelCounts(events, "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((0, "view", 3L), (1, "click", 2L), (2, "purchase", 1L)))
  }

  test("funnelTimes: same-timestamp events do not satisfy 'after'") {
    val events = Seq(
      (1L, "view", ts(5)), (1L, "click", ts(5))
    ).toDF("user_id", "event_type", "ts")
    val row = Funnel.funnelTimes(events, "user_id", "event_type", "ts",
      Seq("view", "click")).collect()(0)
    assert(row.getTimestamp(1) === ts(5) && row.isNullAt(2))
  }
}
