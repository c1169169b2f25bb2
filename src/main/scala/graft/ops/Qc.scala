package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** QC flag filtering (SURVEY.md §2.2 P3+P4).
  *
  * Reference: `/root/reference/code/solrad-compare.py:35-41` — a row is
  * clean iff the sum of the *present* flag columns is zero. Which flag
  * columns exist varies per file; the schema intersection happens at plan
  * time (P3), the row filter is a plain codegen'd predicate (P4).
  */
object Qc {

  /** The full possible flag set from the reference (`solrad-compare.py:35-38`). */
  val standardFlagCols: Seq[String] = Seq(
    "flag_ghi", "flag_dhi", "flag_dni",
    "flag_ghi_rare", "flag_dhi_rare", "flag_dni_rare",
    "flag_comp1", "flag_comp2")

  /** Plan-time intersection of wanted flag columns with the actual schema. */
  def presentFlags(df: DataFrame, flagCols: Seq[String] = standardFlagCols): Seq[String] =
    flagCols.filter(df.columns.contains)

  /** Row-wise sum of the present flags (0 when none exist). A null flag
    * counts as 0, as in pandas' NaN-skipping row sum: a file read with the
    * canonical schema has nulls in the flag columns it lacks.
    */
  def flagSum(df: DataFrame, flagCols: Seq[String] = standardFlagCols): Column = {
    val present = presentFlags(df, flagCols)
    if (present.isEmpty) lit(0) else present.map(c => coalesce(col(c), lit(0))).reduce(_ + _)
  }

  /** Keep only rows whose present-flag sum is zero. No-op if no flag
    * column exists (matches the reference's tolerance of missing flags).
    */
  def clean(df: DataFrame, flagCols: Seq[String] = standardFlagCols): DataFrame = {
    val present = presentFlags(df, flagCols)
    if (present.isEmpty) df else df.filter(flagSum(df, present) === 0)
  }
}
