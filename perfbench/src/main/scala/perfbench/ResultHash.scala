package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Order-independent hash of a query result, computed by an observation
  * on the very write that is timed, so checking a result costs no extra
  * job: row count, XOR and modular sum of per-row xxhash64.
  */
object ResultHash {

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** `df` with positional column names and an observation attached. */
  private def observed(df: DataFrame, obs: Observation): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    // xxhash64 rejects maps; their JSON text is a stable stand-in
    val cols = named.schema.fields.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)).toSeq
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(pmod(h, lit(1000000007L))).as("s"))
  }

  /** Runs `df` through the noop sink; returns its result hash. */
  def noopWrite(df: DataFrame): String = {
    val obs = Observation()
    observed(df, obs).write.format("noop").mode("overwrite").save()
    val m = obs.get
    s"${m("n")}:${m.getOrElse("x", 0L)}:${m.getOrElse("s", 0L)}"
  }
}
