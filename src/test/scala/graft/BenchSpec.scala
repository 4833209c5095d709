package graft

/** [[Bench]]'s rep loop and subset argument. */
class BenchSpec extends SparkTestBase {

  test("timeQuery: reps = 3 returns 3 timings and their min") {
    val t = Bench.timeQuery(3)(SparkEntry.queries("q_tpch_q1")(spark, sf))
    assert(t.error.isEmpty, t.error)
    assert(t.times.size == 3)
    assert(t.times.forall(_ > 0))
    assert(t.min == t.times.min)
  }

  test("timeQuery: a query that throws on its first rep stops there") {
    var runs = 0
    val t = Bench.timeQuery(3) {
      runs += 1
      throw new IllegalStateException("boom " + "x" * 300 + "\nsecond line")
    }
    assert(runs == 1)
    assert(t.times.size == 1)
    val msg = t.error.getOrElse(fail("no error recorded"))
    assert(msg.startsWith("java.lang.IllegalStateException: boom"))
    assert(!msg.contains('\n'))
    assert(msg.length <= 200)
  }

  test("selectQueries: an unknown name in the subset is rejected by name") {
    assert(Bench.selectQueries(None) == SparkEntry.queries.keys.toSeq.sorted)
    assert(Bench.selectQueries(Some("q_kcore,q_tpch_q1")) ==
      Seq("q_kcore", "q_tpch_q1"))
    val e = intercept[IllegalArgumentException] {
      Bench.selectQueries(Some("q_tpch_q1,q_no_such_query"))
    }
    assert(e.getMessage.contains("q_no_such_query"))
    assert(!e.getMessage.contains("q_tpch_q1"))
  }
}
