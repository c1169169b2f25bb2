package graft.obs

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, sum}

import graft.{SparkEntry, SparkTestBase}

/** [[Profile]] counts what a block's jobs did, read after draining the
  * listener bus (no sleep), and [[Profile.shuffles]] counts the
  * non-adaptive exchanges `PlanBudgetSpec` pins.
  */
class ProfileSpec extends SparkTestBase {

  test("two collects count two jobs, their stages and tasks, and no shuffle") {
    val (rows, stats) = Profile(spark) {
      spark.range(0, 10, 1, 2).collect()
      spark.range(0, 10, 1, 2).collect()
    }
    assert(rows.length === 10)
    assert((stats.jobs, stats.stages, stats.tasks) === ((2, 2, 4)))
    assert(stats.shuffleReadMb === 0.0 && stats.shuffleWriteMb === 0.0)
    assert(stats.spillMb === 0.0)
  }

  test("a groupBy counts its map and reduce stages and the bytes it shuffles") {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "3")
    val (groups, stats) = Profile(s)(
      s.range(0, 1000, 1, 4).groupBy(col("id") % 5).count().collect())
    assert(groups.length === 5)
    assert((stats.jobs, stats.stages, stats.tasks) === ((1, 2, 7)))
    assert(stats.shuffleWriteMb > 0.0)
    assert(stats.shuffleReadMb === stats.shuffleWriteMb)
  }

  test("a window whose buffer is forced to disk counts the bytes it spilled") {
    val s = spark.newSession()
    s.conf.set("spark.sql.windowExec.buffer.in.memory.threshold", "1")
    s.conf.set("spark.sql.windowExec.buffer.spill.threshold", "100")
    val w = Window.partitionBy(col("id") % 2)
    val (rows, stats) = Profile(s)(
      s.range(0, 1000, 1, 2).select(sum(col("id")).over(w)).collect())
    assert(rows.length === 1000)
    assert(stats.spillMb > 0.0)
  }

  test("shuffles matches PlanBudgetSpec's pin for q_a1_resample on sf0.001") {
    val df = SparkEntry.queries("q_a1_resample")(spark, "/root/testdata/sf0.001")
    assert(Profile.shuffles(df) === 1)
  }
}
