package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered funnel analysis over an event stream: for each user, the
  * earliest time step 1 occurred, then the earliest step 2 STRICTLY
  * AFTER that, and so on — the standard product-analytics conversion
  * funnel (each step must follow the previous one in time, not merely
  * co-occur).
  *
  * Scale shape: step k is one filtered per-user aggregate joined to
  * the step-(k-1) frame on the user key — k-1 equi-joins total, all
  * co-partitioned on the same key so AQE plans one exchange per side;
  * per-user state never materializes outside the plan and no window
  * function sorts the whole event log.
  */
object Funnel {

  /** Per-user step-completion times: (user, ts_0 .. ts_{k-1}), one row
    * per user who completed at least step 0; ts_i is NULL once the
    * user drops out (later steps stay NULL by construction).
    */
  def funnelTimes(
      df: DataFrame, userCol: String, typeCol: String, tsCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val base = df.select(
      col(userCol).as("u"), col(typeCol).as("t"), col(tsCol).as("ts"))
    var acc = base.filter(col("t") === steps.head)
      .groupBy("u").agg(min(col("ts")).as("ts_0"))
    steps.zipWithIndex.drop(1).foreach { case (s, i) =>
      val next = base.filter(col("t") === s)
        .select(col("u"), col("ts").as("cand"))
      val prevCols = (0 until i).map(j => s"ts_$j")
      acc = acc.join(next, Seq("u"), "left")
        .withColumn("cand",
          when(col("cand") > col(s"ts_${i - 1}"), col("cand")))
        .groupBy("u", prevCols: _*)
        .agg(min(col("cand")).as(s"ts_$i"))
    }
    acc
  }

  /** The funnel report: one row per step with the user count that
    * reached it, in long format (step, event_type, n_users).
    */
  def funnelCounts(
      df: DataFrame, userCol: String, typeCol: String, tsCol: String,
      steps: Seq[String]): DataFrame = {
    val times = funnelTimes(df, userCol, typeCol, tsCol, steps)
    val counts = times.agg(
      count(col("ts_0")).as("n_0"),
      steps.indices.drop(1).map(i => count(col(s"ts_$i")).as(s"n_$i")): _*)
    counts.select(explode(array(steps.indices.map(i =>
        struct(lit(i).as("step"), lit(steps(i)).as("event_type"),
          col(s"n_$i").as("n_users"))): _*)).as("r"))
      .select(col("r.step").as("step"), col("r.event_type").as("event_type"),
        col("r.n_users").as("n_users"))
  }
}
