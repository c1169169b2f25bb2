package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ground-vs-model comparison operators (SURVEY.md §2.3 J1, §2.8 F8–F10).
  *
  * Reference: `/root/reference/code/solrad-compare.py:80-91` — inner
  * equi-join of the QC-cleaned ground series with the resampled model
  * series on exact UTC timestamp, then per-row bias (model − ground) and
  * a zero-divisor-guarded GHI/DHI ratio.
  */
object Compare {

  /** J1: inner equi-join on the shared time column. Both sides are
    * pre-aligned to bucket boundaries, so exact match (not as-of) is the
    * correct semantic. Sort-merge or shuffled-hash at scale — both sides
    * are big; co-partitioning on the time key avoids a second shuffle in
    * downstream per-time aggregations.
    */
  def joinOnTime(ground: DataFrame, model: DataFrame, timeCol: String): DataFrame =
    ground.join(model, Seq(timeCol), "inner")

  /** F8: bias = model − ground. */
  def bias(model: Column, ground: Column): Column = model - ground

  /** F9: ratio with pandas' explicit 0-divisor → null guard
    * (`solrad-compare.py:91`). Spark's non-ANSI divide already nulls on
    * zero, but the guard is encoded so semantics survive ANSI mode.
    */
  def guardedRatio(num: Column, den: Column): Column =
    when(den === 0, lit(null)).otherwise(num / den)
}
