package graft

/** The bench artifact says why a query failed. */
class BenchSpec extends SparkTestBase {

  test("a throwing query reports -1 and its exception class in errors") {
    val boom = Q("q_fake_boom", (_, _) => throw new IllegalStateException("boom\nsecond line"))
    val ok = Q("q_fake_ok", (s, _) => s.range(3).toDF())
    val timed = Bench.timeAll(Seq(ok, boom), spark, "/nonexistent",
      cheapIters = 1, expensiveIters = 1)
    assert(timed.map(_._1) === Seq("q_fake_boom", "q_fake_ok"))
    assert(timed.head._2.seconds === -1.0)
    assert(timed(1)._2.seconds >= 0.0 && timed(1)._2.error.isEmpty)
    assert(Bench.errorsJson(timed).toString ===
      """{"q_fake_boom":"java.lang.IllegalStateException: boom"}""")
  }

  // The expected lines are what the hand-concatenated writer this
  // replaced printed for the same inputs.
  test("the compact line is unchanged on fixed inputs") {
    val results = (1 to 14).map(i => f"q_$i%02d" -> i * 0.1234567) ++
      Seq("q_fail" -> -1.0, "q_zero" -> 0.0)
    val gcs = Seq("q_01" -> 0.05, "q_02" -> 0.123, "q_03" -> 1.0, "q_04" -> 2.345)
    val scaled = Seq("q_14" -> 17.28, "q_01" -> 0.9, "q_zero" -> 0.3, "q_x" -> -1.0)
    assert(Bench.compactLine(results, gcs, scaled, Seq("q_14" -> 0.5), Seq("q_p1", "q_p2"),
      "/d/sf0.1", "bench_last_c4.json") ===
      """{"metric":"total","value":13.0,"unit":"sec","timing":"min>=2.5s/median<2.5s/scaled-min-of-2","n_queries":16,"n_failed":1,"prep_failed":["q_p1","q_p2"],"queries":{"q_14":1.728,"q_13":1.605,"q_12":1.481,"q_11":1.358,"q_10":1.235,"q_09":1.111,"q_08":0.988,"q_07":0.864,"q_06":0.741,"q_05":0.617,"q_04":0.494,"q_03":0.37,"q_fail":-1.0},"sf":"/d/sf0.1","scaled_total":18.5,"scaled_n":3,"scaled_fail":1,"worst_ratios":{"q_14":10.0,"q_01":7.3},"gc_top":{"q_04":2.35,"q_03":1.0,"q_02":0.12},"scaled_gc_top":{"q_14":0.5},"full":"bench_last_c4.json"}""")
    assert(Bench.compactLine(Nil, Nil, Nil, Nil, Nil, "/d/sf0.001", "out.json") ===
      """{"metric":"total","value":0.0,"unit":"sec","timing":"min>=2.5s/median<2.5s/scaled-min-of-2","n_queries":0,"n_failed":0,"prep_failed":[],"queries":{},"sf":"/d/sf0.001","gc_top":{},"scaled_gc_top":{},"full":"out.json"}""")
  }
}
