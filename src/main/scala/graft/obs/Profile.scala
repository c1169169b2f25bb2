package graft.obs

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.internal.SQLConf

/** Execution profile of a block of driver code, without the UI: what
  * the Spark jobs it started did (jobs, stages, tasks, task and GC
  * time, shuffle and spilled bytes) — the split between plan machinery
  * and data work. One profile, shared by `graft.tools.Probe` and the
  * specs that pin job or exchange counts.
  */
object Profile {

  /** Scheduler counters of the jobs one block started. */
  final case class Stats(
      jobs: Int, stages: Int, tasks: Int, taskS: Double, gcS: Double,
      shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double) {
    def line: String =
      f"jobs=$jobs stages=$stages tasks=$tasks taskTime=$taskS%.1fs gc=$gcS%.1fs " +
        f"shufR=$shuffleReadMb%.1fMB shufW=$shuffleWriteMb%.1fMB spill=$spillMb%.1fMB"
  }

  /** Written only by the listener bus's dispatch thread, and read only
    * after [[ListenerBusDrain]] has seen every event delivered.
    */
  private final class Counter extends SparkListener {
    var jobs, stages, tasks = 0
    var runMs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        // the in-memory size of what was spilled plus its on-disk size,
        // Spark's UI pair "Spill (Memory)" and "Spill (Disk)"
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    def stats: Stats = Stats(jobs, stages, tasks, runMs / 1e3, gcMs / 1e3,
      shuffleRead / 1e6, shuffleWrite / 1e6, spill / 1e6)
  }

  /** Runs `body` and counts what the jobs it started did. The bus is
    * drained before listening (earlier work's events do not count) and
    * after the block (every job it started is counted). Jobs other
    * threads start meanwhile count too.
    */
  def apply[T](spark: SparkSession)(body: => T): (T, Stats) = {
    val sc = spark.sparkContext
    val counter = new Counter
    ListenerBusDrain(sc)
    sc.addSparkListener(counter)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, counter.stats)
    } finally sc.removeSparkListener(counter)
  }

  /** The `ShuffleExchangeLike` count of `df`'s NON-adaptive executed
    * plan. AQE wraps the plan before execution and exchanges exist only
    * after EnsureRequirements, so neither `sparkPlan` nor the adaptive
    * wrapper gives a stable count: the plan is re-planned in a sibling
    * session with `df`'s session conf and AQE off.
    */
  def shuffles(df: DataFrame): Int = {
    val spark = df.sparkSession
    val noAqe = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (noAqe.conf.isModifiable(k)) noAqe.conf.set(k, v)
    }
    noAqe.conf.set(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key, "false")
    noAqe.sessionState.executePlan(df.queryExecution.analyzed).executedPlan
      .collect { case e: ShuffleExchangeLike => e }.size
  }
}
