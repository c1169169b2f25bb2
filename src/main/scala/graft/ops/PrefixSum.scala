package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed running total (exclusive prefix sum) in a global order,
  * WITHOUT a single-partition window — the scan primitive under
  * sequence packing ([[graft.ext.Packing]]), cumulative quotas, and
  * offset assignment.
  *
  * Same decomposition as [[Resample.interpolateLinearChunked]]:
  *  1. rows chunk by `floor(orderCol / chunkSpan)`; within-chunk
  *     running sums are keyed windows (parallel across chunks);
  *  2. per-chunk totals form a directory (one row per chunk) that is
  *     dense-indexed ([[ChunkedWindow.denseIndex]]) and prefix-summed
  *     block-parallel: keyed strict-prefix sums per 4096-chunk block
  *     plus a triangle join over the tiny block directory;
  *  3. chunk offsets broadcast back; row prefix = chunk offset +
  *     within-chunk inclusive sum − own value.
  *
  * The final value is pure integer arithmetic in a total order, so it
  * is engine-reproducible: any system that can sort by
  * (orderCol, tieBreak) and running-sum gets bit-identical output —
  * which is how the DuckDB oracle pins [[graft.ext.Packing]].
  *
  * `orderCol` must be numeric; (orderCol, tieBreak*) must be unique
  * per row for the order (and therefore the prefix) to be well defined.
  */
object PrefixSum {

  /** Add `outCol` = sum of `valueCol` over all rows strictly before the
    * current row in (orderCol, tieBreak*) order.
    */
  def runningTotal(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      outCol: String,
      chunkSpan: Long,
      tieBreak: Seq[String] = Nil,
      boundedInput: Boolean = true,
      sharedIndex: Option[DataFrame] = None): DataFrame =
    runningTotals(df, orderCol, Seq(valueCol -> outCol), chunkSpan, tieBreak,
      boundedInput, sharedIndex)

  /** Materialized dense chunk index for `df`'s (orderCol, chunkSpan)
    * chunking, for CHAINED prefix scans over the SAME ordered row set
    * (Kaplan-Meier's removed-before-t then log-survival scans): each
    * [[runningTotals]] call otherwise rebuilds the identical directory
    * index — a range sort + zipWithIndex per call (r10 "Not yet
    * optimized" item). Pass the result as `sharedIndex` to every call
    * in the chain. Contract: each call's input must have no chunk
    * outside this set (same span); a row in a missing chunk raises an
    * error naming that chunk.
    */
  def chunkIndex(df: DataFrame, orderCol: String, chunkSpan: Long): DataFrame =
    // explicit localCheckpoint, not Materialize.bounded: denseIndex is
    // an RDD-backed frame — a LEAF plan, but a lazy one, which every
    // consumer would otherwise re-derive (range sort + zipWithIndex)
    ChunkedWindow.denseIndex(
      df.select(floor(col(orderCol) / chunkSpan).cast("long").as("__chunk"))
        .distinct(),
      "__chunk").localCheckpoint()

  /** [[runningTotal]] for SEVERAL value columns in ONE pass: every
    * (valueCol, outCol) pair shares the chunking, the within-chunk
    * window sort, the chunk directory, and the block scan — N prefix
    * sums for the plan cost of one. (A cumulative quota usually needs
    * at least two: the running weight AND the running row count.)
    */
  /** `boundedInput = true` (the default — every caller but
    * [[graft.ext.Packing]] and [[Experiments.bhFdr]] passes a
    * domain-bounded value table, not corpus rows) materializes
    * the input once behind a plan-truncation barrier: the scan below
    * references it from BOTH the within-chunk window path and the chunk
    * -totals path, so a lazy input's producing subtree would be inlined
    * — and executed — twice, and chained prefix scans (Kaplan-Meier)
    * compounded that into a 186-Exchange plan (r10 measurement;
    * [[Materialize]] doc). Pass false for data-sized inputs, which must
    * keep streaming through the two scans instead of materializing.
    */
  def runningTotals(
      df: DataFrame,
      orderCol: String,
      valueCols: Seq[(String, String)],
      chunkSpan: Long,
      tieBreak: Seq[String] = Nil,
      boundedInput: Boolean = true,
      sharedIndex: Option[DataFrame] = None): DataFrame = {
    require(chunkSpan > 0, s"chunkSpan must be positive: $chunkSpan")
    require(valueCols.nonEmpty, "at least one (valueCol, outCol) pair")
    val in = if (boundedInput) Materialize.bounded(df) else df
    val ord: Seq[Column] = col(orderCol) +: tieBreak.map(col)
    val chunked = in.withColumn("__chunk",
      floor(col(orderCol) / chunkSpan).cast("long"))
    val wIn = Window.partitionBy("__chunk").orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val withIncl = valueCols.zipWithIndex.foldLeft(chunked) {
      case (d, ((v, _), i)) =>
        d.withColumn(s"__incl$i", sum(col(v)).over(wIn))
    }

    // Chunk directory: totals per chunk, dense-indexed, block-scanned.
    val totAggs = valueCols.zipWithIndex.map { case ((v, _), i) =>
      sum(col(v)).as(s"__tot$i")
    }
    val totals = chunked.groupBy(col("__chunk"))
      .agg(totAggs.head, totAggs.tail: _*)
    val blockSize = 4096L
    val tIdx = totals
      .join(broadcast(sharedIndex.getOrElse(ChunkedWindow.denseIndex(
        totals.select(col("__chunk")), "__chunk"))), "__chunk")
      .withColumn("__blk", (col("__idx") / blockSize).cast("long"))
    val wBlk = Window.partitionBy("__blk").orderBy("__idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    val btotAggs = valueCols.indices.map { i =>
      sum(col(s"__tot$i")).as(s"__btot$i")
    }
    val blkTotals = tIdx.groupBy(col("__blk"))
      .agg(btotAggs.head, btotAggs.tail: _*)
    val blks = blkTotals.select(col("__blk").as("__tblk"))
    val boffAggs = valueCols.indices.map { i =>
      sum(col(s"__btot$i")).as(s"__boff$i")
    }
    val blkOff = blks.join(blkTotals, col("__blk") < col("__tblk"), "left")
      .groupBy(col("__tblk")).agg(boffAggs.head, boffAggs.tail: _*)
    val dirCols = col("__chunk") +: valueCols.indices.map { i =>
      (col(s"__in_blk$i") + coalesce(col(s"__boff$i"), lit(0L)))
        .as(s"__chunk_off$i")
    }
    val dirOff = valueCols.indices.foldLeft(
        tIdx.join(broadcast(blkOff), col("__blk") === blkOff("__tblk"),
          "left")) {
        case (d, i) => d.withColumn(s"__in_blk$i",
          coalesce(sum(col(s"__tot$i")).over(wBlk), lit(0L)))
      }
      .select(dirCols: _*)

    // a chunk the index lacks (a `sharedIndex` built over another row
    // set) has no offset: fail naming it rather than return NULL prefixes
    val joined = withIncl.join(broadcast(dirOff), Seq("__chunk"), "left")
    val missing = raise_error(concat(
      lit("PrefixSum: the chunk index has no entry for chunk "), col("__chunk").cast("string")))
    valueCols.zipWithIndex.foldLeft(joined) {
      case (d, ((v, out), i)) =>
        val off = col(s"__chunk_off$i")
        d.withColumn(out, when(off.isNull && col("__chunk").isNotNull, missing).otherwise(off) +
          col(s"__incl$i") - col(v))
    }.drop("__chunk" +:
      valueCols.indices.flatMap(i =>
        Seq(s"__incl$i", s"__chunk_off$i")): _*)
  }
}
