package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver registry is one [[Q]] declaration per query: a name
  * declared twice is an error, every declaration reaches the merged
  * registry, and the bench's fixture and prep sets are read from the
  * declarations.
  */
class RegistrySpec extends AnyFunSuite {

  private def q(name: String) = Q(name, (s, _) => s.emptyDataFrame)

  test("Q.index raises on a duplicate name and names every duplicate") {
    val e = intercept[IllegalArgumentException](
      Q.index(Seq(q("q_a"), q("q_b")), Seq(q("q_c"), q("q_b"), q("q_a"))))
    assert(e.getMessage.contains("q_a, q_b"), e.getMessage)
    assert(Q.index(Seq(q("q_a")), Seq(q("q_b"))).keySet === Set("q_a", "q_b"))
  }

  test("every declaration reaches the merged registry: no name is shadowed") {
    val counts = Seq(SparkEntry.core, ExtQueries.all, StatQueries.all,
      EvalQueries.all).map(_.size)
    assert(counts.sum === SparkEntry.registry.size, s"declared per file: $counts")
  }

  test("the 12 fixture queries are the authored-file readers the scaled bench skips") {
    assert(SparkEntry.registry.values.filter(_.fixture).map(_.name).toSet === Set(
      "q_s1_validate", "q_s2_cams_scan", "q_s2b_cams_dsv2", "q_s5_compile_cube",
      "q_s6_download_matrix", "q_s7_csv_sink", "q_s8_netcdf_roundtrip",
      "q_r4_cf_attrs", "q_ext_multimodal_decode", "q_ext_multimodal_av",
      "q_ext_bpe_encode", "q_st20_stream_neardup_order"))
  }

  test("the 2 store-backed minhash gates are the only queries with a prep") {
    assert(SparkEntry.registry.values.filter(_.prep.isDefined).map(_.name).toSet ===
      Set("q_ext_dedup_incremental_near", "q_ext_incr_recall"))
  }
}
