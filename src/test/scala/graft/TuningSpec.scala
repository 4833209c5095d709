package graft

import org.apache.spark.sql.DataFrame

import graft.operators._

/** Flip tests for every [[Tuning]] dial: each gates a RESULT-INVISIBLE
  * execution choice, so forcing the threshold to both sides must produce
  * identical results. A dial that fails here is not a tuning knob — it's
  * a correctness bug wearing one's clothes.
  */
class TuningSpec extends SparkTestBase {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("UndCacheMaxRows: bfsHops identical with the adjacency cache forced on and off") {
    val cached = rows(GraphOps.bfsHops(spark, sf, undCacheMaxRows = Long.MaxValue))
    val lazyPath = rows(GraphOps.bfsHops(spark, sf, undCacheMaxRows = 0L))
    assert(cached == lazyPath)
    assert(cached.nonEmpty)
  }

  test("autoBroadcastJoinThreshold flip: kCoreProfile and capHeavyShingles identical") {
    // no dial decides these joins: Catalyst sizes each checkpoint side
    // from its exact statistics, so flipping the session's own threshold
    // flips broadcast against shuffle — and must not change an answer
    import spark.implicits._
    val ex = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L), (2L, 12L))
      .toDF("doc_id", "shingle")
    def capped = DedupOps.capHeavyShingles(ex, 2)
    def withThreshold[T](v: String)(body: => T): T = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.get(key)
      spark.conf.set(key, v)
      try body finally spark.conf.set(key, prev)
    }
    val (kBcast, capBcast, capBcastPlan) = withThreshold("10MB")(
      (rows(GraphOps.kCoreProfile(spark, sf)), rows(capped),
        capped.queryExecution.sparkPlan.toString))
    val (kShuffled, capShuffled, capShuffledPlan) = withThreshold("-1")(
      (rows(GraphOps.kCoreProfile(spark, sf)), rows(capped),
        capped.queryExecution.sparkPlan.toString))
    assert(capBcastPlan.contains("BroadcastHashJoin"), capBcastPlan)
    assert(!capShuffledPlan.contains("BroadcastHashJoin"), capShuffledPlan)
    assert(kBcast == kShuffled)
    assert(kBcast.nonEmpty)
    // (shingle, doc_id): the heavy shingle 10 (df 3 > cap 2) is dropped
    assert(capBcast.sorted == capShuffled.sorted)
    assert(capBcast.sorted == Seq("[11,1]", "[12,2]"))
  }

  test("LocalUnionFindMaxEdges: connectedComponents identical on both sides of the dispatch") {
    // a chain + branching components fixture, small enough that
    // threshold=MaxValue takes the driver-local union-find and
    // threshold=0 the distributed label-propagation loop
    import spark.implicits._
    val edges = ((0L until 59L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 103L))).toDF("src", "dst")
    def sorted(df: DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val local = sorted(DedupOps.connectedComponents(edges,
      localUnionFindMaxEdges = Long.MaxValue))
    val dist = sorted(DedupOps.connectedComponents(edges,
      localUnionFindMaxEdges = 0L))
    assert(local == dist)
    assert(local.nonEmpty)
  }

  test("RerankBroadcastMaxBytes: IVF+PQ search identical with the probe broadcast forced on and off") {
    // the bytes dial gates only the broadcast HINT on the ADC probe side
    // and the re-rank's query-vector side — join strategy, never answers
    val index = PqOps.buildIndex(spark, sf)
    val probes = Tables.embeddings(spark, sf)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 7)
    val bcast = rows(index.search(probes, hintBroadcastProbes = true))
    val aqe = rows(index.search(probes, hintBroadcastProbes = false))
    assert(bcast == aqe)
    assert(bcast.nonEmpty)
    // and the dial itself: declared probe batches sit far under the
    // budget; a corpus-sized batch sits far over it (never overflows)
    assert(PqOps.probeSideBroadcastable(5L, 4))
    assert(PqOps.probeSideBroadcastable(50L, 4))
    assert(!PqOps.probeSideBroadcastable(Int.MaxValue.toLong, 4))
    assert(!PqOps.probeSideBroadcastable(Long.MaxValue, 4))
  }

  test("BloomFpp: bloom-gated operators identical at 1% and a saturating 40% fpp") {
    // a high fpp floods the exact join with false positives — cost, not
    // answers: the exact join/anti-join must still remove every one
    assert(rows(DedupOps.dedupIncremental(spark, sf, bloomFpp = 0.4)) ==
      rows(DedupOps.dedupIncremental(spark, sf)))
    assert(rows(JoinOps.bloomSemiJoinAgg(spark, sf, bloomFpp = 0.4)) ==
      rows(JoinOps.bloomSemiJoinAgg(spark, sf)))
  }
}
