package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.window.WindowExec

import graft.SparkTestBase

class PrefixSumSpec extends SparkTestBase {
  import spark.implicits._

  test("chunked running total == global-window running total, with ties and tiny chunks") {
    val rnd = new scala.util.Random(11)
    // duplicate order values (tie-broken by id), values spanning many
    // chunks with some chunks holding a single row
    val data = (0 until 1500)
      .map(i => (i.toLong, rnd.nextInt(40) * 1000L, rnd.nextInt(100).toLong))
      .toDF("id", "ord", "v")
    val global = data.withColumn("ps",
      coalesce(sum("v").over(Window.orderBy("ord", "id")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val chunked = PrefixSum.runningTotal(
      data, "ord", "v", "ps", chunkSpan = 3000L, tieBreak = Seq("id"))
    assert(chunked.count() === 1500L)
    assert(chunked.exceptAll(global).isEmpty && global.exceptAll(chunked).isEmpty)
    val bad = chunked.queryExecution.executedPlan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty)
  }

  test("chained scans sharing one chunkIndex equal per-call indexing") {
    val rnd = new scala.util.Random(7)
    val data = (0 until 800)
      .map(i => (i.toLong, rnd.nextInt(30) * 1000L, rnd.nextInt(50).toLong))
      .toDF("id", "ord", "v")
    val idx = PrefixSum.chunkIndex(data, "ord", 3000L)
    val shared = PrefixSum.runningTotal(
      data, "ord", "v", "ps", chunkSpan = 3000L, tieBreak = Seq("id"),
      sharedIndex = Some(idx))
    val plain = PrefixSum.runningTotal(
      data, "ord", "v", "ps", chunkSpan = 3000L, tieBreak = Seq("id"))
    assert(shared.exceptAll(plain).isEmpty && plain.exceptAll(shared).isEmpty)
    // the index is materialized once: its plan is a leaf, so the
    // consuming scans cannot re-derive the sort + zipWithIndex chain
    assert(idx.queryExecution.logical.children.isEmpty)
  }

  test("a shared chunk index that misses a chunk raises an error naming it") {
    val rnd = new scala.util.Random(5)
    val data = (0 until 300)
      .map(i => (i.toLong, rnd.nextInt(30) * 1000L, rnd.nextInt(50).toLong))
      .toDF("id", "ord", "v")
    // ord < 27000 covers chunks 0..8 of span 3000; chunk 9 is missing
    val idx = PrefixSum.chunkIndex(data.filter($"ord" < 27000L), "ord", 3000L)
    val out = PrefixSum.runningTotal(
      data, "ord", "v", "ps", chunkSpan = 3000L, tieBreak = Seq("id"),
      sharedIndex = Some(idx))
    val e = intercept[Exception](out.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("no entry for chunk 9")), msgs.mkString("\n"))
  }

  test("empty input yields empty output with the prefix column") {
    val empty = Seq.empty[(Long, Long)].toDF("ord", "v")
    val out = PrefixSum.runningTotal(empty, "ord", "v", "ps", 100L)
    assert(out.columns.contains("ps") && out.isEmpty)
  }
}
