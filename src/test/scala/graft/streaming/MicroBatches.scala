package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Counts the micro-batches with input rows that the streams started
  * in a block process. The listener bus is drained after the block, so
  * every batch's progress event is counted.
  */
object MicroBatches {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val batches = new AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) { batches.incrementAndGet(); () }
    }
    spark.streams.addListener(listener)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (out, batches.get)
    } finally spark.streams.removeListener(listener)
  }
}
