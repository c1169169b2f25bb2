package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call into a layer: wall-clock bounds, the span that
  * caused it, and the run it belongs to.
  */
final case class Span(id: Int, parent: Int, name: String, runId: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Scheduler counters of the jobs one span started. */
final class Sched {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  def add(o: Sched): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }
}

/** Planning counters of one query execution, from its QueryPlanningTracker. */
final case class Planning(startMs: Long, analysisMs: Long, optimizerMs: Long, planningMs: Long,
    graftRuleNs: Long, graftRuns: Long, graftEffective: Long)

/** One micro-batch progress report of streaming query `query`. */
final case class Batch(query: String, timeMs: Long, stateRows: Long)

/** Spans kept in memory until the run ends, plus the counters Spark's
  * public listener APIs give at the same boundaries. Spans are recorded
  * only while `enabled`; the listeners are attached only then too.
  *
  * Jobs are attributed to the innermost open span through a local
  * property, which Spark copies into every job a call starts (broadcast
  * and stream threads included). Planning and streaming reports carry
  * their own timestamps and are attributed by time.
  */
final class Tracer(val runId: String) {
  private val SpanKey = "perfbench.span"
  private val done = mutable.ArrayBuffer[Span]()
  private var open = List.empty[(Int, Long, Long)] // id, start ns, start ms
  private var nextId = 0
  private var spark: SparkSession = _
  var enabled = false

  private val sched = new java.util.concurrent.ConcurrentHashMap[Int, Sched]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val planning = new java.util.concurrent.ConcurrentLinkedQueue[Planning]()
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  private val events = new java.util.concurrent.atomic.AtomicLong()
  private val jobsOpen = new java.util.concurrent.atomic.AtomicLong()

  private def schedOf(span: Int): Sched = sched.computeIfAbsent(span, _ => new Sched)

  private val schedListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet(); jobsOpen.incrementAndGet()
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(s => stageSpan.put(s, span))
      schedOf(span).synchronized(schedOf(span).jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet(); jobsOpen.decrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val s = schedOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
      s.synchronized(s.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        val s = schedOf(stageSpan.getOrDefault(e.stageId, -1))
        s.synchronized {
          s.tasks += 1; s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime; s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      events.incrementAndGet()
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val graft = qe.tracker.rules.filter(_._1.startsWith("graft.")).values
      planning.add(Planning(ph.values.map(_.startTimeMs).minOption.getOrElse(0L),
        ms("analysis"), ms("optimization"), ms("planning"),
        graft.map(_.totalTimeNs).sum, graft.map(_.numInvocations).sum,
        graft.map(_.numEffectiveInvocations).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      events.incrementAndGet()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.incrementAndGet()
      val p = e.progress
      batches.add(Batch(p.id.toString, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  /** Attaches the listeners to `s` and starts recording spans. */
  def start(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(schedListener)
    s.listenerManager.register(planListener)
    s.streams.addListener(streamListener)
    enabled = true
  }

  /** Stops recording; detaches the listeners once their queues drained. */
  def stop(): Unit = if (enabled) {
    enabled = false
    drain()
    spark.sparkContext.removeSparkListener(schedListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Listener delivery is asynchronous: wait until every started job has
    * ended and no event arrived for a quiet period.
    */
  private def drain(quietMs: Long = 300, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        (events.get != last || jobsOpen.get > 0)) {
      last = events.get
      Thread.sleep(quietMs)
    }
  }

  /** Runs `body` as a span named `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, System.nanoTime(), System.currentTimeMillis()) :: open
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        val (_, ns, ms) = open.head
        open = open.tail
        done += Span(id, parent, name, runId, ns, System.nanoTime(), ms, System.currentTimeMillis())
        sc.setLocalProperty(SpanKey, open.headOption.map(_._1.toString).orNull)
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Scheduler counters of `roots` and every span below them. */
  def schedUnder(roots: Seq[Span]): Sched = {
    val byParent = spans.groupBy(_.parent)
    def tree(id: Int): Seq[Int] = id +: byParent.getOrElse(id, Nil).flatMap(s => tree(s.id))
    val total = new Sched
    roots.flatMap(r => tree(r.id)).foreach(id => Option(sched.get(id)).foreach(total.add))
    total
  }

  private def within(t: Long, ss: Seq[Span]) = ss.exists(s => t >= s.startMs && t <= s.endMs)

  def planningWithin(ss: Seq[Span]): Seq[Planning] = {
    import scala.jdk.CollectionConverters._
    planning.asScala.toSeq.filter(p => within(p.startMs, ss))
  }

  def batchesWithin(ss: Seq[Span]): Seq[Batch] = {
    import scala.jdk.CollectionConverters._
    batches.asScala.toSeq.filter(b => within(b.timeMs, ss))
  }
}
