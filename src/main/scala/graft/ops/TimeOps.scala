package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Time/timestamp scalar operators (SURVEY.md §2.8 F1–F6, F16).
  *
  * Reference semantics (cites into /root/reference/):
  *  - F1 interval-start extraction: `code/get-cams-solrad-ts.py:90`
  *  - F2/F3 lenient timestamp parse: `code/compile-solrad.py:113`
  *  - F5 local-time derivation: `code/compile-solrad.py:115`
  *  - F6 'UTC+7'-style offset parse: `code/compile-solrad.py:52`
  *  - F16 epoch-seconds encoding: `code/compile-solrad.py:178-187`
  *
  * All pure column compositions — codegen-friendly, no UDFs. The session
  * timezone is pinned to UTC by the build, so `to_timestamp` /
  * `unix_timestamp` behave like the reference's tz-normalized pipeline.
  */
object TimeOps {

  /** F1: the start of an ISO interval `"start/end"` (the whole value
    * without a `/`); byte-level, unlike `split`'s String + regex.
    */
  def intervalStart(c: Column): Column = substring_index(c, "/", 1)

  /** F1+F2+F3: parse the start of an ISO interval to a timestamp.
    * `try_to_timestamp` yields null on parse failure even under ANSI mode
    * (Spark 4 default) — matches pandas `to_datetime(errors='coerce')`.
    */
  def parseIntervalStart(c: Column): Column = try_to_timestamp(intervalStart(c))

  /** F6: `'UTC+7'` / `'UTC-3'` → integer hour offset. */
  def parseUtcOffset(tz: Column): Column =
    regexp_replace(tz, "UTC", "").cast("int")

  /** F5: local time = utc time + offset hours. */
  def localTime(utc: Column, offsetHours: Column): Column =
    utc + make_interval(lit(0), lit(0), lit(0), lit(0), offsetHours)

  /** F16: epoch encoding, `seconds since 1970-01-01` as long. */
  def epochSeconds(ts: Column): Column = unix_timestamp(ts)

  /** Tumbling-bucket start in epoch seconds: floor(epoch / width) * width.
    * Equals `window(ts, s"\$width seconds").start` for epoch-aligned windows;
    * exposed as a plain long for oracle-stable comparisons.
    */
  def bucketStartEpoch(ts: Column, widthSeconds: Long): Column =
    (floor(unix_timestamp(ts) / widthSeconds) * widthSeconds).cast("long")
}
