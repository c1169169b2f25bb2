package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Tumbling resample (SURVEY.md §2.4 A1) and grid densification (§2.9 R1).
  *
  * Reference: pandas `resample('10min').mean()` at
  * `/root/reference/code/get-cams-solrad-ts.py:93-94` — left-closed,
  * left-labeled bins over all numeric columns, mean skipping NaN.
  *
  * Spark mapping: `groupBy(us - pmod(us, width))` over `unix_micros(ts)`
  * + `avg` per numeric column. The exact long bucket is epoch-aligned and
  * left-closed/left-labeled (also before 1970), matching pandas' defaults
  * and `window(ts, width).start`, and keeps the aggregate on Spark's fast
  * hash map, which `window()`'s struct key does not; `avg` skips nulls,
  * matching `mean()`. One shuffle keyed by (bucket, extra keys) with
  * map-side partial aggregation — scales linearly with input at any SF.
  *
  * pandas also emits *empty* bins as NaN rows over the full min→max span;
  * that is [[densify]] — kept separate because most consumers (the inner
  * time-join in the compare pipeline) discard empty bins anyway.
  */
object Resample {

  /** Numeric-typed columns of `df` (dynamic projection, SURVEY §2.2 P2 —
    * reference `get-cams-solrad-ts.py:93`). Plan-time schema inspection.
    */
  def numericColumns(df: DataFrame): Seq[String] =
    df.schema.fields.collect { case f if f.dataType.isInstanceOf[NumericType] => f.name }.toSeq

  /** Tumbling mean of `valueCols` (default: all numeric columns except
    * keys) bucketed on `timeCol` every `minutes`, optionally keyed by
    * `extraKeys` (e.g. station). Output: `time` = bucket start timestamp,
    * extra keys, one mean per value column (same name), plus `n_rows`.
    *
    * Rows with a null time drop, as in `window()`: they form one null
    * bucket per key whose `n_rows` (a `count` of `timeCol`) is 0, and the
    * filter `n_rows > 0` after the aggregate removes it. Every other
    * bucket's `n_rows` is its row count. No row filter runs before the
    * aggregate: Catalyst would push it below the projection that computes
    * `timeCol`, and evaluate that expression once more per row.
    */
  def tumblingMean(
      df: DataFrame,
      timeCol: String,
      minutes: Int,
      valueCols: Seq[String] = Nil,
      extraKeys: Seq[String] = Nil): DataFrame = {
    val vals =
      if (valueCols.nonEmpty) valueCols
      else numericColumns(df).filterNot(c => c == timeCol || extraKeys.contains(c))
    val us = unix_micros(col(timeCol))
    val width = lit(minutes * 60L * 1000000L)
    val keyCols = (us - pmod(us, width)).as("__bucket_us") +: extraKeys.map(col)
    val aggs = vals.map(c => avg(col(c)).as(c)) :+ count(col(timeCol)).as("n_rows")
    df.groupBy(keyCols: _*)
      .agg(aggs.head, aggs.tail: _*)
      .where(col("n_rows") > 0)
      .select(timestamp_micros(col("__bucket_us")).as("time") +:
        (extraKeys ++ vals :+ "n_rows").map(col): _*)
  }

  /** R1: densify a bucketed series to the full cartesian grid
    * (keys × every `stepSeconds` bucket between global min and max),
    * left-joining the data so empty buckets surface as null rows —
    * pandas/xarray densification semantics (`compile-solrad.py:138`)
    * without ever materializing the grid on the driver.
    *
    * `bucketed` must carry `bucketCol` as epoch-seconds long. The grid is
    * built with `sequence()` + `explode` (distributed), and the join on
    * (keys, bucket) is a shuffle join; at scale the grid side is tiny
    * relative to data and AQE will pick the right strategy.
    */
  def densify(
      bucketed: DataFrame,
      bucketCol: String,
      stepSeconds: Long,
      keys: Seq[String] = Nil): DataFrame = {
    val spark = bucketed.sparkSession
    val mm = bucketed.agg(min(col(bucketCol)).as("mn"), max(col(bucketCol)).as("mx"))
    val grid = mm.select(explode(sequence(col("mn"), col("mx"), lit(stepSeconds))).as(bucketCol))
    val keyed =
      if (keys.isEmpty) grid
      else grid.crossJoin(broadcast(bucketed.select(keys.map(col): _*).distinct()))
    keyed.join(bucketed, bucketCol +: keys, "left")
  }

  /** Linear interpolation of null values in a densified series — the
    * pandas `interpolate(method='linear')` semantics over the dense
    * grid [[densify]] produces: each null between two observations is
    * filled proportionally to its time distance; leading/trailing gaps
    * (no neighbor on one side) stay null.
    *
    * Two windows over ONE (keys, time) partitioning — running
    * `last(ignoreNulls)` backward-fill state and its mirror
    * `first(ignoreNulls)` forward — so Catalyst plans a single
    * sort/shuffle reused by all four window functions. Shuffle bytes =
    * the series itself; no driver work, no UDF.
    */
  def interpolateLinear(
      dense: DataFrame,
      bucketCol: String,
      valueCol: String,
      keys: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keys.map(col): _*)
    val back = base.orderBy(col(bucketCol)).rowsBetween(Window.unboundedPreceding, 0)
    val fwd = base.orderBy(col(bucketCol)).rowsBetween(0, Window.unboundedFollowing)
    val v = col(valueCol)
    val t = col(bucketCol)
    val prevV = last(v, ignoreNulls = true).over(back)
    val prevT = last(when(v.isNotNull, t), ignoreNulls = true).over(back)
    val nextV = first(v, ignoreNulls = true).over(fwd)
    val nextT = first(when(v.isNotNull, t), ignoreNulls = true).over(fwd)
    dense.withColumn(valueCol,
      when(v.isNotNull, v)
        .otherwise(
          prevV + (nextV - prevV) * (t - prevT) / (nextT - prevT)))
  }

  /** [[interpolateLinear]] for a single UN-keyed series WITHOUT any
    * single-partition node: partition by a coarse time chunk,
    * interpolate within each chunk, and resolve cross-chunk gaps through
    * a per-chunk observation summary (one row per chunk) that is itself
    * prefix-scanned block-parallel — dense-indexed chunks, keyed
    * strict-prefix fills per 4096-chunk block, tiny triangle join across
    * blocks — then broadcast back. No unpartitioned WindowExec anywhere
    * in the plan, at any data size.
    *
    * The fill arithmetic is the same expression tree as
    * [[interpolateLinear]] (same operand types, same operation order),
    * so results are bit-identical to the global-window form. Unbounded
    * running fills — unlike bounded row-frames — need only ONE
    * (timestamp, value) observation from each side, whatever the gap
    * length, which is why a summary row per chunk suffices and no
    * [[ChunkedWindow]] row-carries are needed.
    *
    * `bucketCol` must be epoch-seconds (numeric), unique per row — the
    * shape [[densify]] produces.
    */
  def interpolateLinearChunked(
      dense: DataFrame,
      bucketCol: String,
      valueCol: String,
      chunkSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(chunkSeconds > 0, s"chunkSeconds must be positive: $chunkSeconds")
    val v = col(valueCol)
    val t = col(bucketCol)
    val chunked = dense.withColumn("__chunk", floor(t / chunkSeconds).cast("long"))
    // Within-chunk running fills: keyed windows, parallel across chunks.
    val wIn = Window.partitionBy("__chunk")
    val back = wIn.orderBy(t).rowsBetween(Window.unboundedPreceding, 0)
    val fwd = wIn.orderBy(t).rowsBetween(0, Window.unboundedFollowing)
    val obs = when(v.isNotNull, struct(t.as("t"), v.as("v")))
    val inPrev = last(obs, ignoreNulls = true).over(back)
    val inNext = first(obs, ignoreNulls = true).over(fwd)
    // Chunk directory: each chunk's last/first observation (null when
    // the chunk is all-null), one row per chunk. The cross-chunk prefix
    // scan over it runs WITHOUT an unpartitioned window: chunks get a
    // dense index (distributed sort + zipWithIndex), blocks of 4096
    // chunks get keyed strict-prefix fills, and block boundaries meet in
    // a triangle join over the block directory (#chunks/4096 rows — a
    // few dozen even at 100 TB spans).
    val summary = chunked.groupBy(col("__chunk")).agg(
      max(obs).as("__last_obs"), min(obs).as("__first_obs"))
    val blockSize = 4096L
    val sIdx = summary
      .join(broadcast(ChunkedWindow.denseIndex(
        summary.select(col("__chunk")), "__chunk")), "__chunk")
      .withColumn("__blk", (col("__idx") / blockSize).cast("long"))
    val wB = Window.partitionBy("__blk").orderBy("__idx")
    val inPrevDir = last(col("__last_obs"), ignoreNulls = true)
      .over(wB.rowsBetween(Window.unboundedPreceding, -1))
    val inNextDir = first(col("__first_obs"), ignoreNulls = true)
      .over(wB.rowsBetween(1, Window.unboundedFollowing))
    // Per-block extreme observations, then each block's
    // nearest-preceding/following observation from the other blocks.
    val blockAgg = sIdx.groupBy(col("__blk")).agg(
      max(when(col("__last_obs").isNotNull,
        struct(col("__idx"), col("__last_obs")))).as("__blast"),
      min(when(col("__first_obs").isNotNull,
        struct(col("__idx"), col("__first_obs")))).as("__bfirst"))
    val blks = blockAgg.select(col("__blk").as("__tblk"))
    val prevBlk = blks.join(blockAgg, col("__blk") < col("__tblk"), "left")
      .groupBy(col("__tblk")).agg(max(col("__blast")).as("__pblk_obs"))
    val nextBlk = blks.join(blockAgg, col("__blk") > col("__tblk"), "left")
      .groupBy(col("__tblk")).agg(min(col("__bfirst")).as("__nblk_obs"))
    val bounds = sIdx
      .withColumn("__prev_dir", inPrevDir)
      .withColumn("__next_dir", inNextDir)
      .join(broadcast(prevBlk), col("__blk") === prevBlk("__tblk"), "left")
      .drop("__tblk")
      .join(broadcast(nextBlk), col("__blk") === nextBlk("__tblk"), "left")
      .drop("__tblk")
      .select(col("__chunk"),
        coalesce(col("__prev_dir"), col("__pblk_obs").getField("__last_obs"))
          .as("__prev_obs"),
        coalesce(col("__next_dir"), col("__nblk_obs").getField("__first_obs"))
          .as("__next_obs"))
    val joined = chunked
      .withColumn("__in_prev", inPrev)
      .withColumn("__in_next", inNext)
      .join(broadcast(bounds), Seq("__chunk"), "left")
    val prev = coalesce(col("__in_prev"), col("__prev_obs"))
    val next = coalesce(col("__in_next"), col("__next_obs"))
    val prevV = prev.getField("v")
    val prevT = prev.getField("t")
    val nextV = next.getField("v")
    val nextT = next.getField("t")
    joined.withColumn(valueCol,
      when(v.isNotNull, v)
        .otherwise(
          prevV + (nextV - prevV) * (t - prevT) / (nextT - prevT)))
      .drop("__chunk", "__in_prev", "__in_next", "__prev_obs", "__next_obs")
  }
}
