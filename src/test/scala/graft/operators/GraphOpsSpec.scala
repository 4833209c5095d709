package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Ground-truth tests for the co-purchase graph operators (q_graph_degree,
  * q_triangles, q_pagerank). Triangle and PageRank results are pinned to
  * driver-local reference implementations computed from the same edge set,
  * so the oriented-wedge join and the distributed rank loop are both checked
  * against naive exact algorithms. */
class GraphOpsSpec extends SparkTestBase {

  private lazy val edges: Array[(Long, Long)] =
    GraphOps.copurchaseEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))

  test("copurchase edges: src < dst, no duplicates, nonempty") {
    assert(edges.nonEmpty)
    assert(edges.forall { case (a, b) => a < b })
    assert(edges.distinct.length == edges.length)
  }

  test("shared edge build is cached per session/dir and equals the uncached build") {
    val a = GraphOps.copurchaseEdgesShared(spark, sf)
    val b = GraphOps.copurchaseEdgesShared(spark, sf)
    assert(a eq b, "second call must return the same materialized table")
    val shared = a.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(shared.toSeq == edges.sorted.toSeq)
  }

  test("the build ledger keys a shared graph build by family, kind and dir") {
    GraphOps.copurchaseEdgesShared(spark, sf)
    val keys = SessionCache.buildLog.keySet
    assert(keys.contains(s"graph:edges,$sf,64"), keys)
    assert(keys.contains(s"graph:baskets,$sf,64"), keys)
    assert(keys.forall(!_.contains("SparkSession@")), keys)
  }

  test("degree distribution sums to node count and total degree = 2|E|") {
    val dist = GraphOps.graphDegree(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.length
    assert(dist.map(_._2).sum == nodes)
    assert(dist.map { case (d, n) => d * n }.sum == 2L * edges.length)
  }

  test("triangle counts match naive all-triples enumeration") {
    val eset = edges.toSet
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    // naive: for each edge (a,b) a<b, common neighbors c > b close a triple
    val triCount = scala.collection.mutable.HashMap.empty[Long, Long]
      .withDefaultValue(0L)
    for ((a, b) <- edges; c <- adj(a).intersect(adj(b)) if c > b) {
      triCount(a) += 1; triCount(b) += 1; triCount(c) += 1
    }
    val expect = triCount.toSeq
      .sortBy { case (id, n) => (-n, id) }.take(20)
    val got = GraphOps.triangleTop(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect, s"got ${got.take(5)}… expect ${expect.take(5)}…")
  }

  test("pageRank matches a driver-local reference and conserves mass") {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 5) {
      val inflow = scala.collection.mutable.HashMap.empty[Long, Double]
        .withDefaultValue(0.0)
      for (v <- nodes; w <- adj(v)) inflow(w) += rank(v) / adj(v).length
      rank = nodes.map(v => v -> (0.15 / n + 0.85 * inflow(v))).toMap
    }
    assert(math.abs(rank.values.sum - 1.0) < 1e-9, "reference mass drift")
    val got = GraphOps.pageRank(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length == math.min(20, n))
    // spark result is rounded to 4 decimals; compare with tolerance for the
    // float-sum nondeterminism the rounding absorbs
    got.foreach { case (id, r) =>
      assert(math.abs(r - rank(id)) < 5e-4, s"rank mismatch at $id")
    }
    // descending
    val rs = got.map(_._2)
    assert(rs.sameElements(rs.sortBy(-(_: Double))))
  }

  test("liftPairs: counts consistent, lift formula exact, min support held") {
    val out = GraphOps.liftPairs(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 20)
    out.foreach { r =>
      val (np, ns, nd) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(np >= 2 && np <= math.min(ns, nd))
    }
    val lifts = out.map(_.getDouble(7))
    assert(lifts.sameElements(lifts.sortBy(-(_: Double))))
  }

  test("linkPredict: pairs are non-adjacent hubs, jaccard matches adjacency sets") {
    val out = GraphOps.linkPredict(spark, sf).collect()
    assert(out.nonEmpty)
    val eset = edges.toSet
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (kk, v) => kk -> v.map(_._2).toSet }
    out.foreach { r =>
      val (a, b, nc, j) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))
      assert(!eset.contains((a, b)), s"existing edge returned: ($a,$b)")
      val common = adj(a).intersect(adj(b)).size
      assert(common == nc, s"common mismatch at ($a,$b): $nc vs $common")
      val expect = BigDecimal(common.toDouble
        / (adj(a).size + adj(b).size - common))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(j - expect) < 1e-9, s"jaccard at ($a,$b)")
    }
  }

  test("brandComponents equals a driver union-find over the recomputed " +
      "strong-tie edge set, with min-id labels") {
    val out = GraphOps.brandComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // recompute strong ties: pair co-basket counts ≥ 2, same brand
    val brandOf = graft.Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_brand")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val baskets = graft.Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .collect().map(_.getSeq[Long](1)).filter(p => p.size >= 2 && p.size <= 64)
    val pairCounts = scala.collection.mutable.Map[(Long, Long), Int]()
    baskets.foreach { p =>
      for (i <- p.indices; j <- i + 1 until p.size)
        pairCounts((p(i), p(j))) = pairCounts.getOrElse((p(i), p(j)), 0) + 1
    }
    // NB: filter+map, NOT `collect { case ((a, b), n) if ... }` — the
    // nested pattern on the specialized (Long, Long) tuple key silently
    // drops entries (observed: 72 of 106 survivors) on Scala 2.13
    val strong = pairCounts
      .filter { case ((a, b), n) => n >= 2 && brandOf(a) == brandOf(b) }
      .keys.toSeq
    // union-find with min-id representative
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    strong.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb)
        parent(math.max(ra, rb)) = lo; parent(lo) = lo }
    }
    val nodes = strong.flatMap(e => Seq(e._1, e._2)).distinct
    assert(out.keySet == nodes.toSet, "node set mismatch")
    // min-id labeling: representative per component = min member
    val expect = nodes.groupBy(find).flatMap { case (_, members) =>
      val m = members.min; members.map(_ -> m)
    }
    expect.foreach { case (n, c) =>
      assert(out(n) == c, s"label mismatch at $n: ${out(n)} vs $c")
    }
  }

  /** Driver-local synchronous LPA with the same min-label tie rule. */
  private def referenceLpa(es: Array[(Long, Long)], rounds: Int)
      : Map[Long, Long] = {
    val adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var labels = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (n, nbrs) =>
        val votes = nbrs.groupBy(labels).map { case (l, v) => l -> v.length }
        // max count, ties to smallest label
        n -> votes.toSeq.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    labels
  }

  test("labelPropagation community sizes match the driver-local reference") {
    val expect = referenceLpa(edges, 3).values
      .groupBy(identity).map { case (l, v) => l -> v.size.toLong }
    val top = expect.toSeq.sortBy { case (c, n) => (-n, c) }.take(50)
    val out = GraphOps.labelPropagation(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == top, s"got ${out.take(5)}... want ${top.take(5)}...")
  }

  test("labelPropagation resolves two bridged triangles into two communities") {
    import spark.implicits._
    // baskets {1,2,3} and {4,5,6} are triangles; basket {3,4} bridges them
    withTempDir("graft-lpa") { dir =>
      val tmp = dir.toString
      Seq((10L, 1L), (10L, 2L), (10L, 3L),
          (20L, 4L), (20L, 5L), (20L, 6L),
          (30L, 3L), (30L, 4L))
        .toDF("l_orderkey", "l_partkey")
        .write.parquet(s"$tmp/lineitem.parquet")
      val out = GraphOps.labelPropagation(spark, tmp).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      // hand-traced 3 sync rounds with min-tie: {1,2,3}→1, {4,5,6}→3;
      // the bridge edge does NOT merge the triangles
      assert(out == Seq((1L, 3L), (3L, 3L)), s"got $out")
    }
  }

  /** Driver-local reference peel: remove degree<k nodes for `rounds`
    * rounds (the exact algorithm kCoreProfile distributes). */
  private def refKCore(k: Int, rounds: Int): Set[(Long, Long)] = {
    var e = edges.toSet
    for (_ <- 1 to rounds) {
      val deg = e.toSeq.flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size }
      val surv = deg.filter(_._2 >= k).keySet
      e = e.filter(p => surv(p._1) && surv(p._2))
    }
    e
  }

  test("kCoreProfile matches the driver-local peel and is converged at 8 rounds") {
    val out = GraphOps.kCoreProfile(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out.map(_._1) == (GraphOps.KCoreMinK to GraphOps.KCoreMaxK).toSeq)
    for ((k, nNodes, nEdges) <- out) {
      val ref = refKCore(k, GraphOps.KCoreRounds)
      assert(nEdges == ref.size, s"k=$k edges")
      assert(nNodes == ref.flatMap(p => Seq(p._1, p._2)).size, s"k=$k nodes")
      // the FIXED declared round count must already be the fixpoint here
      assert(ref == refKCore(k, GraphOps.KCoreRounds + 4),
        s"k=$k not converged at ${GraphOps.KCoreRounds} rounds")
    }
    // monotone: the k+1 core is a subgraph of the k core
    assert(out.sliding(2).forall { case Seq(a, b) =>
      b._2 <= a._2 && b._3 <= a._3 })
  }

  test("bipartiteHits matches a driver-local integer reinforcement") {
    val be = graft.Tables.lineitem(spark, sf)
      .join(graft.Tables.orders(spark, sf)
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
        Seq("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    var h: Map[Long, Long] = be.map(_._1).distinct.map(_ -> 1L).toMap
    var a: Map[Long, Long] = Map.empty
    for (_ <- 1 to GraphOps.HitsRounds) {
      a = be.groupBy(_._2).map { case (p, es) =>
        p -> es.map(e => h(e._1)).sum }
      h = be.groupBy(_._1).map { case (c, es) =>
        c -> es.map(e => a(e._2)).sum }
    }
    def topN(m: Map[Long, Long]) =
      m.toSeq.sortBy { case (id, s) => (-s, id) }.take(GraphOps.HitsTopN)
    val out = GraphOps.bipartiteHits(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val auth = out.filter(_._1 == "authority").sortBy(_._4)
    val hub = out.filter(_._1 == "hub").sortBy(_._4)
    assert(auth.map(x => (x._2, x._3)).toSeq == topN(a), "authorities")
    assert(hub.map(x => (x._2, x._3)).toSeq == topN(h), "hubs")
    assert(auth.map(_._4).toSeq == (1 to auth.length) &&
      hub.map(_._4).toSeq == (1 to hub.length), "dense ranks")
  }

  test("assortativity matches a driver-local Pearson over edge degrees") {
    def r4(x: Double): Double =
      new java.math.BigDecimal(x).setScale(4,
        java.math.RoundingMode.HALF_UP).doubleValue()
    val deg = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    val und = edges.flatMap(e => Seq(e, (e._2, e._1)))
    val m2 = und.length.toLong
    val sx = und.map(e => deg(e._1)).sum
    val sxy = und.map(e => deg(e._1) * deg(e._2)).sum
    val sxx = und.map(e => deg(e._1) * deg(e._1)).sum
    val mean = sx.toDouble / m2
    val want = (sxy.toDouble / m2 - mean * mean) /
      (sxx.toDouble / m2 - mean * mean)
    val out = GraphOps.assortativity(spark, sf).collect()(0)
    assert(out.getLong(0) == m2 / 2)
    assert(out.getDouble(1) == r4(want),
      s"r ${out.getDouble(1)} vs $want")
    assert(out.getDouble(1) >= -1.0 && out.getDouble(1) <= 1.0)
  }

  test("bfsHops matches a driver-local BFS from the same seeds") {
    val adj = edges.flatMap(p => Seq(p._1 -> p._2, p._2 -> p._1))
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    val deg = adj.map { case (n, ns) => n -> ns.size }
    val seeds = deg.toSeq.sortBy { case (n, d) => (-d, n) }
      .take(GraphOps.BfsSeeds).map(_._1)
    val want = (for (s <- seeds) yield {
      var dist = Map(s -> 0)
      for (t <- 1 to GraphOps.BfsMaxHops) {
        val frontier = dist.filter(_._2 == t - 1).keys
        for (u <- frontier; v <- adj.getOrElse(u, Set.empty)
             if !dist.contains(v)) dist += v -> t
      }
      dist.groupBy(_._2).map { case (d, m) => (s, d, m.size.toLong) }
    }).flatten.toSeq.sortBy(x => (x._1, x._2))
    val out = GraphOps.bfsHops(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(out == want, s"got ${out.take(8)} want ${want.take(8)}")
  }
}
