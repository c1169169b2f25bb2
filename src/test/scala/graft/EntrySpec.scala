package graft

/** Pins the driver's smoke contract locally: `SparkEntry.entry` must
  * return rows at sf0.001, and every declared query must have either a
  * DuckDB oracle or a spec-pinned rows-only justification. (An oracle is
  * declared in its query's [[Q]], so it cannot dangle.)
  */
class EntrySpec extends SparkTestBase {

  test("entry: flagship returns joined biased series at sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSet ===
      Set("bucket_start", "avg_click", "avg_view", "bias"))
    assert(df.count() > 0, "driver smoke-checks rows > 0")
  }

  test("rows-only queries are the known xxhash sketch set, nothing more") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // every addition to this set needs a documented reason (hash not
    // SQL-expressible) and a spec pinning its semantics
    assert(rowsOnly === Set(
      "q_ext_dedup_minhash", "q_ext_dedup_simhash",
      "q_ext_dedup_incremental_near", "q_ext_multimodal_stub",
      "q_ext_fingerprint"),
      s"unexpected rows-only queries: $rowsOnly")
  }
}
