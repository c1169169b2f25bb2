package graft

/** The bench's untimed store-build hooks ([[Q.prep]], viewed by name as
  * [[ExtQueries.prepare]]): a failing hook is recorded, and a prepped
  * store satisfies its gate. A hook is declared in its gate's own [[Q]],
  * so it cannot outlive a renamed gate.
  */
class PrepareSpec extends SparkTestBase {

  test("a throwing prep hook is RECORDED, not swallowed (r10 bench hardening)") {
    Bench.prepFailed.clear()
    Bench.runPrep("q_fake_forced_failure",
      Some((_, _) => throw new RuntimeException("forced")), spark, "/nonexistent")
    assert(Bench.prepFailed.contains("q_fake_forced_failure"),
      "prep failure must land in Bench.prepFailed for the artifact's prep_failed field")
    Bench.prepFailed.clear()
    // and a green prep records nothing
    Bench.runPrep("q_fake_ok", Some((_, _) => ()), spark, "/nonexistent")
    assert(Bench.prepFailed.isEmpty)
  }

  test("prep then probe: the prepped store satisfies the gate's ensure (no rebuild)") {
    val dir = "/root/testdata/sf0.001"
    val name = "q_ext_dedup_incremental_near"
    ExtQueries.prepare(name)(spark, dir)
    // after prep, the gate's own ensure must see both store halves
    val store = ExtQueries.scratchTable(spark, "g_mh_store", dir)
    assert(spark.catalog.tableExists(s"${store}_bands"))
    assert(spark.catalog.tableExists(s"${store}_sigs"))
    // and the query itself runs green against the prepped store
    assert(SparkEntry.queries(name)(spark, dir).count() >= 0L)
  }
}
