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
    assert(Bench.errorsJson(timed) ===
      """{"q_fake_boom":"java.lang.IllegalStateException: boom"}""")
  }
}
