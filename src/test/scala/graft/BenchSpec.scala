package graft

/** [[Bench]]'s rep loop, subset argument and burst-gate windows. */
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

  // the interleaved canary samples (position, canary, seconds) and the
  // canaries' in-sweep best-of-2 times of the committed sf0.1 sweep
  private val stampSamples = Seq(
    (0, "q_tfidf", 0.9163), (15, "q_pareto", 0.7388),
    (30, "q_dedup_embed", 0.36), (45, "q_semdedup", 0.6182),
    (60, "q_tpch_q18", 0.546), (75, "q_sparse_sim", 0.8775),
    (90, "q_watermark_sim", 0.835), (105, "q_ngram_containment", 1.159),
    (120, "q_order_gaps", 1.0902), (135, "q_dedup_survivor", 0.6786),
    (150, "q_tfidf", 0.9107), (165, "q_pareto", 0.65),
    (180, "q_dedup_embed", 0.3401), (195, "q_semdedup", 0.6267),
    (210, "q_tpch_q18", 0.6188), (225, "q_sparse_sim", 0.862),
    (240, "q_watermark_sim", 0.8173), (255, "q_ngram_containment", 1.1568),
    (270, "q_order_gaps", 1.0286), (285, "q_dedup_survivor", 0.626),
    (300, "q_tfidf", 0.883), (315, "q_pareto", 0.6422),
    (330, "q_dedup_embed", 0.314), (345, "q_semdedup", 0.6159),
    (360, "q_tpch_q18", 0.5577))
  private val stampInSweep = Map(
    "q_dedup_embed" -> 0.232404174, "q_dedup_survivor" -> 0.456915753,
    "q_ngram_containment" -> 0.795673732, "q_order_gaps" -> 0.701630628,
    "q_pareto" -> 0.366356386, "q_semdedup" -> 0.354416812,
    "q_sparse_sim" -> 0.43461427, "q_tfidf" -> 0.532152792,
    "q_tpch_q18" -> 0.391465851, "q_watermark_sim" -> 0.478294734)

  private def flagged(samples: Seq[(Int, String, Double)],
      inSweep: Map[String, Double]): Seq[Int] =
    Bench.burstWindows(samples, inSweep)
      .collect { case (pos, rel) if rel > Bench.BurstWindowRelFactor => pos }

  test("burstWindows: the committed sweep's samples flag no window") {
    val rel = Bench.burstWindows(stampSamples, stampInSweep).map(_._2)
    assert(rel.size == stampSamples.size)
    assert(rel.min > 0.8 && rel.max < 1.25, rel)
    assert(flagged(stampSamples, stampInSweep).isEmpty)
    // a canary that drifted 2.5x from its ref in the samples AND in the
    // sweep is the host's steady state, not a burst: nothing flags
    def slow(q: String, t: Double) = if (q == "q_order_gaps") 2.5 * t else t
    assert(flagged(stampSamples.map { case (p, q, t) => (p, q, slow(q, t)) },
      stampInSweep.map { case (q, t) => q -> slow(q, t) }).isEmpty)
  }

  test("burstWindows: a sample at 3x its canary's in-sweep time flags it") {
    val steady = stampSamples.map { case (p, q, _) => (p, q, stampInSweep(q)) }
    val burst = steady.map {
      case (195, q, t) => (195, q, 3.0 * t)
      case s => s
    }
    assert(flagged(steady, stampInSweep).isEmpty)
    assert(flagged(burst, stampInSweep) == Seq(195))
    // on the committed sweep, single-shot samples run ~1.7x the best-of-2
    // times; tripling one of them flags its window alone
    val stampBurst = stampSamples.map {
      case (195, q, t) => (195, q, 3.0 * t)
      case s => s
    }
    assert(flagged(stampBurst, stampInSweep) == Seq(195))
    // a canary the sweep did not time (a subset run) falls back to its
    // CanaryRef, and the windows stay in position order
    val subset = Seq((30, "q_pareto", 0.5), (0, "q_tfidf", 0.6),
      (15, "q_pareto", 3.0 * Bench.CanaryRef("q_pareto")))
    val rel = Bench.burstWindows(subset, Map("q_tfidf" -> 0.6))
    assert(rel.map(_._1) == Seq(0, 15, 30))
    assert(flagged(subset, Map("q_tfidf" -> 0.6)) == Seq(15))
  }
}
