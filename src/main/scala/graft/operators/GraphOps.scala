package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over the co-purchase graph: parts are nodes, and an
  * (undirected, simple) edge connects two parts that appear in the same
  * order. This is the item-item graph every recommender / basket-analysis
  * pipeline builds from a transaction log (cf. the reference's events+orders
  * model, `ingest_data.py:41-85`, which stops at flat aggregation — the graph
  * ops are the natural next stage of the same data).
  *
  * Scale shape, in order of operation:
  *   1. Edge construction is a per-order self-join — the explosion is
  *      bounded by basket size (TPC-H-style orders hold ≤ ~13 distinct
  *      parts, so ≤ C(13,2) = 78 pairs per order), NOT by graph size. One
  *      distinct-shuffle collapses multiplicity. A real 100 TB log with
  *      pathological baskets (a crawler hitting every item) would cap the
  *      basket first — the `maxBasket` guard below — because a single
  *      10⁵-item basket alone contributes 5·10⁹ pairs.
  *   2. Triangle counting orients every edge from the lower-(degree, id)
  *      endpoint to the higher one (Cohen / Suri-Vassilvitskii's MapReduce
  *      scheme): each wedge is then generated at its lowest-degree apex, so
  *      the join fan-out is Σ d_out(v)² with d_out ≤ √(2·|E|) — bounded even
  *      on power-law graphs where the unoriented Σ d(v)² blows up on hub
  *      nodes. The count is identical to the naive a<b<c enumeration (the
  *      oracle's formulation); only the generation order changes.
  *   3. PageRank keeps rank state distributed (an O(|V|) DataFrame — never
  *      on the driver) and runs a fixed number of join+aggregate rounds
  *      against a once-materialized adjacency table; the rank chain itself
  *      is linear (each round consumed exactly once), so it deliberately
  *      is NOT checkpointed and the whole loop executes as one job.
  */
object GraphOps {

  /** Shared engine/oracle tuning constants for the round-10 iterative
    * queries — the oracle SQL interpolates these so both sides unroll the
    * identical round counts (the IvfOps.DefaultK lesson). */
  val KCoreMinK = 2
  val KCoreMaxK = 5
  val KCoreRounds = 4
  val BfsSeeds = 3
  val BfsMaxHops = 4

  /** Per-order distinct part sets ("baskets"), capped at `maxBasket`
    * distinct parts: ONE aggregation shuffle straight off the scan —
    * collect_set dedups repeated parts within an order, sort_array makes
    * the array deterministic, and the size guard drops pathological
    * baskets BEFORE any pair is generated (the quadratic term must never
    * reach a shuffle). */
  private[operators] def baskets(spark: SparkSession, dir: String,
      maxBasket: Int = 64): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("okey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .filter(size(col("parts")) <= maxBasket)

  /** One (src < dst) row per per-order part pair, WITH multiplicity —
    * generated by a codegen'd nested array transform over the sorted
    * basket (no self-join, no extra shuffle; the explosion is bounded by
    * C(maxBasket, 2) per order). */
  private def basketPairs(b: DataFrame): DataFrame =
    b.filter(size(col("parts")) >= 2)
      .select(explode(flatten(transform(col("parts"), (x, i) =>
        transform(slice(col("parts"), i + lit(2), size(col("parts"))),
          y => struct(x.as("src"), y.as("dst")))))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Distinct co-purchase edges (src < dst), basket-capped. Two shuffles
    * total: the basket aggregation and the pair distinct. */
  def copurchaseEdges(spark: SparkSession, dir: String,
      maxBasket: Int = 64): DataFrame =
    basketPairs(baskets(spark, dir, maxBasket)).distinct()

  /** Session-scoped cache of materialized graph inputs: every graph query
    * needs the same edge table (and lift the same baskets), and under the
    * standalone-query contract each used to rebuild it from the lineitem
    * scan — ~5× the basket aggregation + pair distinct per bench run. A
    * production pipeline materializes the edge table once and fans the
    * analytics out from it; this cache is that step, keyed by
    * (session, kind, dir, maxBasket) so different scale dirs or caps never
    * alias. Entries are [[Materialize]]d (local blocks), live for the
    * session, and are deterministic recomputations of the same parquet —
    * sharing cannot change any query's result, only remove repeated work.
    * Bounded: one edges + one baskets entry per (session, dir) actually
    * queried (a handful in tests/bench), each |E| or |orders| sized. */
  private val shared =
    new SessionCache[(SparkSession, String, String, Int), DataFrame]("graph")

  // the edges builder calls basketsShared — a nested lookup on the same
  // cache — which SessionCache's get/putIfAbsent shape permits (see its
  // scaladoc for why computeIfAbsent would not)
  private def cachedBuild(kind: String, spark: SparkSession, dir: String,
      maxBasket: Int)(build: => DataFrame): DataFrame =
    shared.getOrBuild((spark, kind, dir, maxBasket))(Materialize(build))

  /** [[baskets]], materialized once per session/dir. */
  private[operators] def basketsShared(spark: SparkSession, dir: String,
      maxBasket: Int = 64): DataFrame =
    cachedBuild("baskets", spark, dir, maxBasket)(
      baskets(spark, dir, maxBasket))

  /** [[copurchaseEdges]], materialized once per session/dir — the shared
    * entry point for the graph query family. Derives from [[basketsShared]]
    * so the basket aggregation is also paid at most once across edges AND
    * lift. */
  def copurchaseEdgesShared(spark: SparkSession, dir: String,
      maxBasket: Int = 64): DataFrame =
    cachedBuild("edges", spark, dir, maxBasket)(
      basketPairs(basketsShared(spark, dir, maxBasket)).distinct())

  // ---- round-15 extension of the same first-payer contract to the rest
  // of the family's common DERIVED artifacts. Before: the |V|-row degree
  // table was rebuilt by seven queries, the grouped undirected adjacency
  // by two iterative solvers, the LPA labels by q_graph_lpa AND
  // q_modularity, the per-node triangle counts by q_triangles AND
  // q_clustering_coeff, and the Bellman-Ford seed-distance frame by
  // q_bfs_hops AND q_harmonic_centrality — each a deterministic
  // recomputation of the identical frame from the same edge table.
  // Dials ride in the kind string so non-default calls never alias.

  /** [[degrees]] over the shared edge table, materialized once per
    * session/dir — |V| rows. */
  private[operators] def degreesShared(spark: SparkSession,
      dir: String): DataFrame =
    cachedBuild("degrees", spark, dir, 64)(
      degrees(copurchaseEdgesShared(spark, dir)))

  /** The grouped UNDIRECTED adjacency (src, nbrs array) — the |V|-row
    * iteration table [[pageRank]] and [[lpaLabels]] both fold over. */
  private def adjShared(spark: SparkSession, dir: String): DataFrame =
    cachedBuild("adj", spark, dir, 64) {
      val edges = copurchaseEdgesShared(spark, dir)
      edges.unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
        .groupBy(col("src"))
        .agg(collect_list(col("dst")).as("nbrs"))
    }

  /** Degree per node over the undirected edge set (each edge counts toward
    * both endpoints). One union + one aggregation shuffle. */
  def degrees(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node")))
      .groupBy(col("node"))
      .agg(count(lit(1)).as("degree"))

  /** q_graph_degree: degree distribution of the co-purchase graph —
    * (degree, n_nodes), the first diagnostic anyone runs on a new graph.
    * Two aggregation shuffles, the second over ≤ max-degree rows. */
  def graphDegree(spark: SparkSession, dir: String): DataFrame =
    degreesShared(spark, dir)
      .groupBy(col("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))

  /** q_triangles: top-20 parts by triangle participation, via the
    * edge-⋈-adjacency-intersection formulation: orient every edge from the
    * lower-(degree, id) endpoint (Cohen / Suri-Vassilvitskii), group the
    * oriented out-neighborhoods into per-node sorted arrays, then for each
    * oriented edge (u, v) the triangles through it are exactly
    * |adj(u) ∩ adj(v)| — one codegen'd array intersection per edge.
    *
    * Why not the textbook wedge self-join: this graph is near-regular
    * (basket-bounded), so Σ d_out² wedges ≈ 40–80 M rows at bench SF —
    * materializing them through a shuffle is the whole cost. Here NOTHING
    * wedge-sized ever shuffles: the big operands are |E| edge rows joined
    * twice with |V| adjacency rows, and the intersection happens inside
    * the join projection. The adjacency array is bounded by the max
    * ORIENTED out-degree ≤ √(2·|E|) (the orientation's arboricity bound),
    * which is what keeps rows bounded on power-law graphs too.
    *
    * Per-node attribution: edge (u, v) with common out-neighbors W adds
    * |W| to u and v, and 1 to each w ∈ W (explode of the intersection —
    * bounded by 3 · #triangles, the output's own size). */
  def triangleTop(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    nodeTrianglesShared(spark, dir)
      .orderBy(col("n_triangles").desc, col("part_id"))
      .limit(k)

  /** [[nodeTriangles]], materialized once per session/dir — consumed by
    * BOTH q_triangles and q_clustering_coeff (round 15, first-payer
    * contract; each used to run the full orientation + intersection
    * pipeline). */
  private def nodeTrianglesShared(spark: SparkSession,
      dir: String): DataFrame =
    cachedBuild("tri", spark, dir, 64)(nodeTriangles(spark, dir))

  /** Per-node triangle participation over the full graph (nodes with ≥ 1
    * triangle) — the frame [[triangleTop]] caps and
    * [[clusteringCoeff]] normalizes by degree. */
  private[graft] def nodeTriangles(spark: SparkSession,
      dir: String): DataFrame = {
    val edges = copurchaseEdgesShared(spark, dir)
    // shared |V|-row degree table feeds BOTH sides of the orientation join
    val deg = degreesShared(spark, dir)
    val oriented = edges
      .join(deg.withColumnRenamed("node", "src")
        .withColumnRenamed("degree", "dsrc"), "src")
      .join(deg.withColumnRenamed("node", "dst")
        .withColumnRenamed("degree", "ddst"), "dst")
      .select(
        when(col("dsrc") < col("ddst")
            || (col("dsrc") === col("ddst") && col("src") < col("dst")),
          struct(col("src").as("u"), col("dst").as("v")))
          .otherwise(struct(col("dst").as("u"), col("src").as("v")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val o = Materialize(oriented)
    val adj = Materialize(o.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs")))
    val common = o
      .join(adj, "u")
      .join(adj.select(col("u").as("v"), col("nbrs").as("nbrs_v")), "v")
      .select(col("u"), col("v"),
        graft.functions.VectorFunctions.sortedIntersect(
          col("nbrs"), col("nbrs_v")).as("common"))
      .select(col("u"), col("v"), col("common"),
        size(col("common")).as("n_common"))
      .filter(col("n_common") > 0)
    // u and v each gain n_common triangles via this edge; each common w
    // gains exactly 1 — a weighted union, re-aggregated per node
    val mat = Materialize(common)
    mat.select(col("u").as("part_id"),
        col("n_common").cast("long").as("n_raw"))
      .unionAll(mat.select(col("v").as("part_id"),
        col("n_common").cast("long").as("n_raw")))
      .unionAll(mat.select(explode(col("common")).as("part_id"),
        lit(1L).as("n_raw")))
      .groupBy(col("part_id"))
      .agg(sum(col("n_raw")).as("n_triangles"))
  }

  /** q_clustering_coeff: the two classic closure statistics of the
    * co-purchase graph in one row — global transitivity
    * 3·△/wedges (closed-triad fraction) and the Watts–Strogatz average
    * LOCAL clustering coefficient mean(2·△_v / d_v(d_v−1)) over nodes of
    * degree ≥ 2. The pair diagnoses graph texture (hub-dominated vs
    * everywhere-clustered) the way q_assortativity diagnoses mixing;
    * together with q_triangles it completes the triad census.
    *
    * Scale shape: per-node triangle counts ride the measured
    * degree-oriented triangle plan (e=0.97 mem-sized); wedges and the
    * per-node ratios are one degree-frame pass — exact integers up to
    * one division per node, so only the final mean crosses the round4
    * barrier. */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val deg = degreesShared(spark, dir)
    val tri = nodeTrianglesShared(spark, dir)
      .select(col("part_id").as("node"), col("n_triangles"))
    deg.filter(col("degree") >= 2)
      .join(tri, Seq("node"), "left")
      .select(col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("t"))
      .agg(
        count(lit(1)).as("n_nodes"),
        (sum(col("t")) / 3).cast("long").as("n_triangles"),
        sum(((col("degree") * (col("degree") - 1)) / 2).cast("long"))
          .as("n_wedges"),
        avg(lit(2.0) * col("t")
          / (col("degree").cast("double") * (col("degree") - 1)))
          .as("cc"))
      .select(col("n_nodes"), col("n_triangles"), col("n_wedges"),
        stableRound4(lit(3.0) * col("n_triangles")
          / col("n_wedges").cast("double")).as("transitivity"),
        stableRound4(col("cc")).as("avg_clustering"))
  }

  /** q_modularity: Newman modularity Q = Σ_c (L_c/m − (D_c/2m)²) of the
    * label-propagation communities — the quality score that turns
    * q_graph_lpa's community LIST into a judged clustering (Q ≈ 0 means
    * the partition is no better than random edge placement). Declared
    * output: the modularity plus the intra-edge fraction and community
    * count that decompose it.
    *
    * Scale shape: the LPA rounds are the measured per-round Θ(|E|)
    * family; scoring adds two label joins onto the edge list (intra-edge
    * test), one degree-weighted community rollup, and a
    * |communities|-row sum — all exact integers until the two final
    * divisions per community. */
  def modularity(spark: SparkSession, dir: String,
      rounds: Int = 3): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    // the shared edge table is already a checkpoint — no re-Materialize
    val edges = copurchaseEdgesShared(spark, dir)
    val labels = lpaLabelsShared(spark, dir, rounds)
    val m = edges.agg(count(lit(1)).as("m"))
    val intra = edges
      .join(labels.select(col("node").as("src"), col("label").as("la")), "src")
      .join(labels.select(col("node").as("dst"), col("label").as("lb")), "dst")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("l_c"))
    val degC = degreesShared(spark, dir).join(labels, "node")
      .groupBy(col("label")).agg(sum(col("degree")).as("d_c"))
    val perC = degC.join(intra, Seq("label"), "left")
      .select(col("label"), coalesce(col("l_c"), lit(0L)).as("l_c"),
        col("d_c"))
      .crossJoin(m)
      .select(col("l_c"),
        (col("l_c").cast("double") / col("m")
          - (col("d_c").cast("double") / (col("m") * 2))
            * (col("d_c").cast("double") / (col("m") * 2))).as("q_c"))
    perC.agg(count(lit(1)).as("n_communities"),
      sum(col("l_c")).as("intra_edges"), sum(col("q_c")).as("q"))
      .crossJoin(m)
      .select(col("n_communities"), col("intra_edges"), col("m").as("n_edges"),
        stableRound4(col("intra_edges").cast("double") / col("m"))
          .as("intra_frac"),
        stableRound4(col("q")).as("modularity"))
  }

  /** PageRank on the undirected co-purchase graph: damping 0.85, `iters`
    * synchronous rounds from a uniform 1/N start, teleport mass spread
    * uniformly. Undirected ⇒ every edge-listed node has degree ≥ 1, so
    * there is no dangling mass.
    *
    * State stays distributed: ranks are an O(|V|) DataFrame updated by one
    * (ranks ⋈ adjacency) + groupBy-sum per round — the driver only holds N
    * (one scalar). The rank chain is LINEAR (each round's output feeds
    * exactly the next), so it is deliberately NOT checkpointed or
    * re-materialized per round: the whole loop executes as one job of
    * iters×(join + aggregate) stages over the once-materialized adjacency.
    * Rank totals are conserved at 1.0 up to float error.
    */
  def pageRank(spark: SparkSession, dir: String, iters: Int = 5,
      damping: Double = 0.85, k: Int = 20): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    // adjacency-grouped edges: ONE |V|-row table, session-shared — per
    // iteration the |E|-sized row set exists only inside the explode of a
    // joined projection, so edges are never re-shuffled (the round-4
    // rewrite: the per-iteration edge⋈rank join shuffled |E| rows × iters)
    val adj = adjShared(spark, dir)
    val n = Materialize.rows(adj)
    val teleport = (1.0 - damping) / n
    // the rank chain is LINEAR — each iteration's output feeds exactly the
    // next — so no per-iteration checkpoint is needed: the whole loop is
    // one job of iters×(join + aggregate) stages over the materialized adj
    var ranks = adj.select(col("src").as("node"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to iters) {
      // |V|⋈|V| join (tiny vs |E|), explode distributes rank/odeg to each
      // neighbor, map-side partial sums shrink the shuffle to |V| rows
      val contrib = adj
        .join(ranks, adj("src") === ranks("node"))
        .select(explode(col("nbrs")).as("node"),
          (col("rank") / size(col("nbrs"))).as("c"))
        .groupBy(col("node"))
        .agg(sum(col("c")).as("inflow"))
      // undirected ⇒ no isolated or dangling nodes: every node has degree
      // ≥ 1, so contrib covers the full node set (inner shape, no left)
      ranks = contrib.select(col("node"),
        (lit(teleport) + lit(damping) * col("inflow")).as("rank"))
    }
    ranks
      .select(col("node").as("part_id"), stableRound4(col("rank")).as("rank"))
      .orderBy(col("rank").desc, col("part_id"))
      .limit(k)
  }

  /** q_graph_lpa: community detection by synchronous label propagation
    * (Raghavan et al. 2007) over the co-purchase graph — `rounds` sweeps
    * in which every node adopts the most frequent label among its
    * neighbors, integer-count argmax with ties to the SMALLEST label (the
    * cross-engine-deterministic rule; classic LPA breaks ties randomly —
    * determinism is the price of a verifiable gate, and the min-label
    * convention also makes the fixpoint independent of execution order).
    * Declared output: the community-size table (top `k` by membership) —
    * the catalog-segmentation view a curation pipeline consumes.
    *
    * Scale shape mirrors [[pageRank]]: the adjacency is grouped ONCE into
    * a |V|-row Materialized table; per round the |E|-row vote set exists
    * only inside an exploded projection feeding a two-level aggregation —
    * (node, label) partial counts, then a per-node struct-max argmax (no
    * window) — so labels stay |V| rows and the edge set is never
    * re-shuffled. The round chain is linear (each output feeds exactly
    * the next), one job end-to-end. Oracle: `rounds` unrolled CTE pairs
    * with the identical integer-count / min-label argmax. */
  def labelPropagation(spark: SparkSession, dir: String, rounds: Int = 3,
      k: Int = 50): DataFrame =
    lpaLabelsShared(spark, dir, rounds)
      .groupBy(col("label")).agg(count(lit(1)).as("n_members"))
      .select(col("label").as("community"), col("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(k)

  /** [[lpaLabels]], materialized once per (session, dir, rounds) — the
    * SAME label frame is rolled up by q_graph_lpa and scored by
    * q_modularity (round 15, first-payer contract). */
  private def lpaLabelsShared(spark: SparkSession, dir: String,
      rounds: Int): DataFrame =
    cachedBuild(s"lpa:$rounds", spark, dir, 64)(lpaLabels(spark, dir, rounds))

  /** Per-node LPA labels after `rounds` synchronous votes — the frame
    * [[labelPropagation]] rolls up and [[modularity]] scores. */
  private[graft] def lpaLabels(spark: SparkSession, dir: String,
      rounds: Int): DataFrame = {
    val adj = adjShared(spark, dir)
    var labels = adj.select(col("src").as("node"), col("src").as("label"))
    for (_ <- 1 to rounds) {
      labels = adj
        .join(labels, adj("src") === labels("node"))
        // each edge delivers the SOURCE's current label to the neighbor;
        // a node's vote multiset = its neighbors' labels
        .select(explode(col("nbrs")).as("node"), col("label"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("node"))
        // integer argmax, ties to smallest label: max(struct(n, -label))
        .agg(max(struct(col("n"), (-col("label")).as("neg"))).as("top"))
        .select(col("node"), (-col("top.neg")).as("label"))
    }
    labels
  }

  /** q_link_predict: link prediction by neighborhood Jaccard — for a
    * candidate batch of the `hubs` highest-degree parts, score every
    * non-adjacent pair by |Γ(a) ∩ Γ(b)| / |Γ(a) ∪ Γ(b)| over their FULL
    * neighborhoods: the classic common-neighbors recommender ("customers
    * who bought these also bought..."). Scoring a bounded candidate batch
    * is the production shape — all-pairs Jaccard over the whole graph is
    * the same wedge blow-up triangle counting avoids, and real systems
    * score candidates from a generator (here: top-degree; in general:
    * co-visitation or ANN), not the full cross product.
    *
    * All-relational: hub neighbor lists are |hubs|·d̄ rows, the common-
    * neighbor count is one equality self-join on the shared neighbor, and
    * existing edges drop via one anti-join. Fan-out is Σ_nbr c(nbr)² with
    * c ≤ hubs — bounded by the batch, not the graph. */
  def linkPredict(spark: SparkSession, dir: String, hubs: Int = 100,
      k: Int = 20): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val edges = copurchaseEdgesShared(spark, dir)
    val deg = degreesShared(spark, dir)
    val top = Materialize(
      deg.orderBy(col("degree").desc, col("node")).limit(hubs))
    val nbrs = edges.select(col("src").as("node"), col("dst").as("nbr"))
      .unionAll(edges.select(col("dst").as("node"), col("src").as("nbr")))
    val hubNbrs = Materialize(nbrs.join(top.select(col("node")), "node"))
    val common = hubNbrs.as("x").join(hubNbrs.as("y"),
        col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
      .groupBy(col("x.node").as("a"), col("y.node").as("b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(edges,
        col("a") === col("src") && col("b") === col("dst"), "left_anti")
      .join(top.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(top.select(col("node").as("b"), col("degree").as("db")), "b")
      .select(col("a"), col("b"), col("n_common"),
        stableRound4(col("n_common").cast("double")
          / (col("da") + col("db") - col("n_common"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(k)
  }

  /** q_lift: association-rule mining over the same co-purchase baskets —
    * top-20 part pairs by lift with a minimum pair support, the
    * support/confidence/lift triple of classic market-basket analysis.
    * Exact integer counts until the three final divisions.
    *
    * Scale shape: identical to [[copurchaseEdges]] (bounded per-basket
    * pair join + one aggregation) — pair support is the aggregation COUNT
    * instead of a distinct; item supports are one more groupBy on the
    * (order, part) set; N is a scalar. The min-support filter runs BEFORE
    * the item-support join, so only surviving pairs join. */
  def liftPairs(spark: SparkSession, dir: String, k: Int = 20,
      minPair: Long = 2, maxBasket: Int = 64): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    // baskets feed three consumers (N, item supports, pair supports) —
    // the shared materialized aggregation instead of re-scanning lineitem
    val b = basketsShared(spark, dir, maxBasket)
    val nOrders = Materialize.rows(b)
    val item = b.select(explode(col("parts")).as("pkey"))
      .groupBy(col("pkey")).agg(count(lit(1)).as("n_item"))
    val pairs = basketPairs(b)
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minPair)
    pairs
      .join(item.select(col("pkey").as("src"), col("n_item").as("n_src")), "src")
      .join(item.select(col("pkey").as("dst"), col("n_item").as("n_dst")), "dst")
      .select(col("src"), col("dst"), col("n_pair"), col("n_src"), col("n_dst"),
        stableRound4(col("n_pair").cast("double") / nOrders).as("support"),
        stableRound4(col("n_pair").cast("double") / col("n_src"))
          .as("confidence"),
        stableRound4(col("n_pair").cast("double") * nOrders
          / (col("n_src").cast("double") * col("n_dst"))).as("lift"))
      .orderBy(col("lift").desc, col("src"), col("dst"))
      .limit(k)
  }

  /** q_graph_cc: connected components of the STRONG-TIE co-purchase graph
    * — edges kept only when the pair co-occurs in ≥ `minCount` baskets AND
    * both endpoints share a brand ("brand-internal bundles"). The raw
    * co-purchase graph is near-complete (one giant component — a useless
    * answer), so the thresholds are what make components informative; they
    * also bound component size, which is what keeps the transitive-closure
    * oracle tractable.
    *
    * Plan shape: pair multiplicities come from ONE aggregation over the
    * shared basket table (no distinct-then-recount); the brand attributes
    * ride two broadcast joins of the part dimension; the surviving edge
    * list (hundreds of rows here, ~|strong pairs| generally) feeds
    * [[DedupOps.connectedComponents]] — size-adaptive: local union-find
    * under the documented edge budget, distributed label propagation
    * beyond it. Output: one (part_id, component_id) row per non-isolated
    * node, min-id labels. */
  def brandComponents(spark: SparkSession, dir: String,
      minCount: Int = 2): DataFrame = {
    val pairs = basketPairs(basketsShared(spark, dir))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
      .filter(col("w") >= minCount)
    val brands = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"))
    val edges = pairs
      .join(broadcast(brands.select(col("p_partkey").as("src"),
        col("p_brand").as("brand_src"))), "src")
      .join(broadcast(brands.select(col("p_partkey").as("dst"),
        col("p_brand").as("brand_dst"))), "dst")
      .filter(col("brand_src") === col("brand_dst"))
      .select(col("src"), col("dst"))
    DedupOps.connectedComponents(edges)
      .select(col("node").as("part_id"), col("comp").as("component_id"))
      .orderBy(col("part_id"))
  }

  /** q_kcore: k-core decomposition profile of the co-purchase graph — for
    * each k, the size of the subgraph remaining after iteratively peeling
    * every node of degree < k (the standard "how dense is the connected
    * middle" diagnostic; k-core membership is the usual spam/hub filter on
    * web and interaction graphs). A FIXED `rounds` peel count keeps the
    * computation a pure function of the edge set (a convergence test would
    * make the round count data-dependent — the same determinism contract
    * as the fixed-sweep Jacobi/PageRank); 4 rounds fully converge this
    * graph at every test SF (GraphOpsSpec pins round-4 = round-8 output) and
    * both engines run the identical count regardless.
    *
    * Scale shape: per-round state is only the ALIVE NODE SET (|V| rows),
    * never the edge set — because peeling is monotone (surv_t ⊆
    * surv_{t-1}), the round-t edge set is exactly the static edge table
    * semi-joined with the LATEST surv, so each round is two semi-joins of
    * the edge table + one partial-aggregated degree count + a tiny
    * [[Materialize]] of the new surv (consumed by the next round's two
    * join branches — the multi-consumer barrier rule). Catalyst sizes the
    * joins from the surv checkpoint's statistics (broadcast at every
    * tested scale), which also give the convergence count without a job.
    * The k values peel SEQUENTIALLY over the UNTAGGED edge table: a k-tagged
    * ×|k-range| union was measured OOMing the 100× ScaleSpot
    * corpus in the (k, node) partial-agg hash (4·2·120M exploded rows,
    * 8M-key maps per task), while the per-k aggregation keeps map state
    * at |V| keys — the memory knob that matters at scale.
    *
    * Early exit is RESULT-preserving here, not a determinism hazard:
    * this is an integer fixpoint (unlike the float loops whose op count
    * must stay fixed), surv shrinks monotonically, so |surv_t| =
    * |surv_{t-1}| ⟺ surv_t = surv_{t-1} ⟹ every later round is
    * identical — the engine's early-exited answer equals the oracle's
    * full `rounds` unroll unconditionally. Output: (k, n_core_nodes,
    * n_core_edges), one row per k. */
  def kCoreProfile(spark: SparkSession, dir: String, kMin: Int = KCoreMinK,
      kMax: Int = KCoreMaxK, rounds: Int = KCoreRounds): DataFrame = {
    val edges = copurchaseEdgesShared(spark, dir)
    val spark0 = edges.sparkSession
    import spark0.implicits._
    // ONE scan per degree pass: explode both endpoints instead of a
    // two-branch union (the union re-evaluates its input per branch —
    // measured ~1.4× per round here)
    def alive(e: DataFrame, k: Int): DataFrame =
      e.select(explode(array(col("src"), col("dst"))).as("node"))
        .groupBy(col("node"))
        .agg(count(lit(1)).as("degree"))
        .filter(col("degree") >= k)
        .select(col("node"))
    def profileForK(k: Int): DataFrame = {
      // round-1 alive set ≡ the shared degree table filtered at k (same
      // frame alive(edges, k) computes) — saves one full-edge degree
      // pass per k value (round 15)
      var surv: DataFrame = degreesShared(spark, dir)
        .filter(col("degree") >= k).select(col("node"))
      var prev = surv.count()
      def filtered: DataFrame = edges
        .join(surv.select(col("node").as("src")), Seq("src"))
        .join(surv.select(col("node").as("dst")), Seq("dst"))
      var converged = false
      for (_ <- 2 to rounds if !converged) {
        surv = Materialize(alive(filtered, k))
        val n = Materialize.rows(surv)
        converged = n == prev
        prev = n
      }
      // one stats pass: distinct endpoints + row-count/2 (every edge
      // contributes exactly two exploded rows)
      filtered
        .select(explode(array(col("src"), col("dst"))).as("node"))
        .agg(countDistinct(col("node")).as("n_core_nodes"),
          (count(lit(1)) / 2).cast("long").as("n_core_edges"))
        .select(lit(k).as("k"),
          coalesce(col("n_core_nodes"), lit(0L)).as("n_core_nodes"),
          coalesce(col("n_core_edges"), lit(0L)).as("n_core_edges"))
    }
    // round 16: the k peels are INDEPENDENT — overlap them from a small
    // driver pool (guide §2.6) so each peel's single-task tail backfills
    // with the next k's jobs instead of idling the session. Each peel's
    // own round sequence stays strictly sequential and deterministic; the
    // pool only overlaps DIFFERENT k values, and the shared degree/edge
    // artifacts are built once up front (SessionCache serializes builds).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(kMax - kMin + 1, 3))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val perK =
      try {
        val futs = (kMin to kMax)
          .map(k => scala.concurrent.Future(profileForK(k)))
        futs.map(f => scala.concurrent.Await
          .result(f, scala.concurrent.duration.Duration.Inf))
      } finally pool.shutdown()
    perK.reduce(_ unionAll _).orderBy(col("k"))
  }

  /** q_bfs_hops: bounded-depth BFS reach profile from the `nSeeds`
    * highest-degree hubs — per (seed, hop-distance), how many nodes are
    * first reached at that distance (≤ `maxHops`). The standard
    * "influence radius" / connectivity probe, and the building block of
    * landmark-distance features. Seeds are deterministic: top degree,
    * ties to the smaller node id.
    *
    * Scale shape: synchronous Bellman-Ford relaxation — state is a
    * distributed (seed, node, dist) frame (never on the driver), each
    * round one equality join frontier-to-adjacency plus a min-aggregate,
    * so round cost is O(|state| + |E|·seeds/|V|) with all-shuffle
    * operators; `maxHops` bounds total work. State is [[Materialize]]d
    * per round (consumed by the join AND the union of the next round —
    * the multi-consumer barrier rule). The seed pull is a bounded
    * `nSeeds`-row collect (driver model budget, same class as the IVF
    * centroid pull). */
  def bfsHops(spark: SparkSession, dir: String, nSeeds: Int = BfsSeeds,
      maxHops: Int = BfsMaxHops,
      undCacheMaxRows: Long = graft.Tuning.UndCacheMaxRows): DataFrame =
    seedDistancesShared(spark, dir, nSeeds, maxHops, undCacheMaxRows)
      .groupBy(col("seed"), col("dist"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("seed"), col("dist"))

  /** [[seedDistances]], materialized once per (session, dir, dials) —
    * q_bfs_hops and q_harmonic_centrality consume the IDENTICAL
    * Bellman-Ford frame (round 15, first-payer contract; each used to
    * re-run the full maxHops relaxation loop). */
  private def seedDistancesShared(spark: SparkSession, dir: String,
      nSeeds: Int, maxHops: Int, undCacheMaxRows: Long): DataFrame =
    cachedBuild(s"bfs:$nSeeds:$maxHops:$undCacheMaxRows", spark, dir, 64)(
      seedDistances(spark, dir, nSeeds, maxHops, undCacheMaxRows))

  /** The (seed, node, dist) minimum-hop frame shared by [[bfsHops]] and
    * [[harmonicCentrality]] — synchronous Bellman-Ford from the
    * `nSeeds` top-degree seeds, exactly the loop documented at
    * [[bfsHops]]. */
  private def seedDistances(spark: SparkSession, dir: String,
      nSeeds: Int, maxHops: Int, undCacheMaxRows: Long): DataFrame = {
    val edges = copurchaseEdgesShared(spark, dir)
    // the doubled adjacency is consumed by EVERY relaxation round, but
    // each round is a separate job (the state barrier), so exchange reuse
    // can never rescue it — the memory-vs-recompute trade is explicit and
    // MEASURED (ScaleSpot, round 10): memory-materializing it is 3.9× at
    // the 10× corpus (24M und rows), but at 100× the 240M-row blocks
    // either OOM the shared heap (MEMORY_AND_DISK) or cost more in disk
    // reads than recomputing the union from the memory-resident edge
    // table (DISK_ONLY 77.9 s vs lazy 65.0 s warm). So the cache is
    // size-gated on the known edge count — cache when it fits the
    // documented row budget, recompute beyond. Caching never changes the
    // result, so unlike a round-count dial this adapts freely.
    val undRaw = edges.unionAll(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    val und =
      if (Materialize.rows(edges) * 2 <= undCacheMaxRows) Materialize(undRaw)
      else undRaw
    val seedRows = degreesShared(spark, dir)
      .orderBy(col("degree").desc, col("node"))
      .limit(nSeeds).select(col("node")).collect().map(_.getLong(0))
    val spark0 = edges.sparkSession
    import spark0.implicits._
    var dist = Materialize(seedRows.toSeq.toDF("seed")
      .select(col("seed"), col("seed").as("node"), lit(0).as("dist")))
    for (_ <- 1 to maxHops) {
      val nxt = dist.join(und, dist("node") === und("src"))
        .select(col("seed"), und("dst").as("node"),
          (col("dist") + 1).as("dist"))
      dist = Materialize(dist.unionAll(nxt)
        .groupBy(col("seed"), col("node"))
        .agg(min(col("dist")).as("dist")))
    }
    dist
  }

  /** Output rows for [[harmonicCentrality]] — shared with the oracle. */
  val HarmonicTopN = 25

  /** q_harmonic_centrality: landmark-sampled harmonic centrality on the
    * co-purchase graph — ĥ(v) = Σ_{s ∈ seeds, d(s,v) ≥ 1} 1/d(s,v) from
    * the [[BfsSeeds]] top-degree landmarks, the top-[[HarmonicTopN]]
    * nodes. Harmonic centrality (Boldi & Vigna 2014, "Axioms for
    * centrality") is the closeness variant that handles disconnected
    * graphs (unreachable ⇒ 0 contribution, no ∞); exact all-pairs
    * computation is O(\|V\|·\|E\|), so at corpus scale the standard
    * estimator SAMPLES source landmarks (HyperBall's register-sketch
    * being the full-scale refinement) — deterministic top-degree seeds
    * here so both engines replay the identical sample.
    *
    * Reuses [[seedDistances]]' Bellman-Ford frame: each 1/d term is an
    * IEEE-exact reciprocal of a small integer, the per-node sum runs
    * over ≤ \|seeds\| terms, and ordering ties break on the ROUNDED
    * score then node id (float-argsort rule). */
  def harmonicCentrality(spark: SparkSession, dir: String,
      nSeeds: Int = BfsSeeds, maxHops: Int = BfsMaxHops,
      undCacheMaxRows: Long = graft.Tuning.UndCacheMaxRows): DataFrame =
    seedDistancesShared(spark, dir, nSeeds, maxHops, undCacheMaxRows)
      .filter(col("dist") > 0)
      .groupBy(col("node"))
      .agg(count(lit(1)).cast("int").as("n_seeds_reached"),
        sum(lit(1.0) / col("dist").cast("double")).as("h"))
      .select(col("node"), col("n_seeds_reached"),
        graft.functions.NumericFunctions.stableRound4(col("h"))
          .as("harmonic"))
      .orderBy(col("harmonic").desc, col("node"))
      .limit(HarmonicTopN)

  /** Iteration count and output size for [[bipartiteHits]], shared with
    * the oracle. TWO mutual-reinforcement rounds keep every score an
    * EXACT integer inside long range at every tested scale ((d_c·d_p)²
    * ≈ 1.4e10 at sf1) — the same magnitude argument that caps the round
    * count; more rounds would need per-round normalization and float
    * sums whose order differs across engines. */
  val HitsRounds = 2
  val HitsTopN = 15

  /** q_hits: HITS hubs and authorities (Kleinberg 1999) on the BIPARTITE
    * customer→part purchase graph — customers are hubs ("buys many
    * well-bought parts"), parts are authorities ("bought by many broad
    * buyers"). Truncated at [[HitsRounds]] mutual-reinforcement rounds
    * with h₀ = 1, so every score is an exact integer (a₁(p) = deg p,
    * h₁(c) = Σ_{p~c} deg p, a₂, h₂ likewise) and the cross-engine
    * argsort never ties on float noise. Output: the top-[[HitsTopN]]
    * rows per side, (kind, node_id, score, rank).
    *
    * Scale shape: the bipartite edge list is one distinct-aggregation off
    * the fact⋈orders join; each round is one equality-join + aggregate
    * over |E| — the PageRank cost model with integer payloads. Nothing
    * driver-side, nothing quadratic. */
  def bipartiteHits(spark: SparkSession, dir: String): DataFrame = {
    val be = Materialize(
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir)
          .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
          .hint("shuffle_hash"),
          Seq("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct())
    // round 1: a1(p) = |neighbors| (h0 = 1), h1(c) = sum of a1 over c's
    // parts; round 2 repeats with a1/h1 payloads
    val a1 = be.groupBy(col("p")).agg(count(lit(1)).as("a"))
    // h1 has ONE consumer (a2) — checkpointing it bought nothing and cost
    // a |C|-frame write per run (round-16 single-consumer audit); a2 keeps
    // its barrier because both h2 and the authority top-k read it
    val h1 = be.join(a1, Seq("p"))
      .groupBy(col("c")).agg(sum(col("a")).as("h"))
    val a2 = Materialize(be.join(h1, Seq("c"))
      .groupBy(col("p")).agg(sum(col("h")).as("a")))
    val h2 = be.join(a2, Seq("p"))
      .groupBy(col("c")).agg(sum(col("a")).as("h"))
    // distributed top-k FIRST (TakeOrderedAndProject), then the rank
    // window runs over only HitsTopN rows — never a global single
    // partition window over the full side
    val top = (df: DataFrame, kind: String, id: String, s: String) =>
      df.select(lit(kind).as("kind"), col(id).as("node_id"),
        col(s).as("score"))
        .orderBy(col("score").desc, col("node_id")).limit(HitsTopN)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("node_id"))))
    top(a2, "authority", "p", "a")
      .unionAll(top(h2, "hub", "c", "h"))
      .orderBy(col("kind"), col("rank"))
  }

  /** q_assortativity: degree assortativity of the co-purchase graph —
    * the Pearson correlation of endpoint degrees over the (doubled,
    * symmetric) edge list (Newman 2002). Positive = hubs link to hubs
    * (social-network-like), negative = hubs link to leaves
    * (technological/star-like); the one-number summary of whether the
    * dense core is assortative. Every sum is an exact integer (degree
    * products over edges); the only float work is the final closed-form
    * assembly, mirrored term-for-term in the oracle. Output one row:
    * (n_edges, r4 assortativity).
    *
    * Scale shape: one degree aggregation + one broadcast-degree join
    * over the edge list + one scalar aggregate — strictly cheaper than
    * q_graph_degree + one join. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdgesShared(spark, dir)
    val deg = degreesShared(spark, dir)
    val und = edges.unionAll(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    val sums = und
      .join(deg.select(col("node").as("src"), col("degree").as("da")),
        Seq("src"))
      .join(deg.select(col("node").as("dst"), col("degree").as("db")),
        Seq("dst"))
      .agg(count(lit(1)).as("m2"),
        sum(col("da")).as("sx"),
        sum(col("da") * col("db")).as("sxy"),
        sum(col("da") * col("da")).as("sxx"))
    val mD = col("m2").cast("double")
    val mean = col("sx").cast("double") / mD
    val r = (col("sxy").cast("double") / mD - mean * mean) /
      (col("sxx").cast("double") / mD - mean * mean)
    import graft.functions.NumericFunctions.stableRound4
    sums.select((col("m2") / 2).cast("long").as("n_edges"),
      stableRound4(r).as("assortativity"))
  }

  /** q_adamic_adar: Adamic–Adar link prediction over the co-purchase
    * graph — the degree-weighted refinement of [[linkPredict]]'s
    * neighborhood Jaccard: AA(a,b) = Σ_{w ∈ Γ(a)∩Γ(b)} 1/ln(deg w), so a
    * shared NICHE neighbor counts for more than a shared hub (Adamic &
    * Adar 2003). Same candidate generation as linkPredict (top-`hubs`
    * nodes, common-neighbor self-join, existing edges anti-joined out);
    * the per-pair sum folds the ROUND4-ed 1/ln(deg) terms in sorted
    * order (the module's ordered-fold rule: Spark
    * `aggregate(sort_array(...), 0.0, +)` ≡ DuckDB
    * `list_reduce(list_sort(...))` seeded at 0), so the float chain is
    * bit-reproducible even though ln runs on both engines' libm.
    * Scale shape: identical to linkPredict — hub-restricted neighbor
    * lists, one equality self-join on the shared-neighbor key, degree
    * lookups against the bounded hub table. */
  def adamicAdar(spark: SparkSession, dir: String, hubs: Int = 100,
      k: Int = 20): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val edges = copurchaseEdgesShared(spark, dir)
    val deg = degreesShared(spark, dir)
    val top = Materialize(
      deg.orderBy(col("degree").desc, col("node")).limit(hubs))
    val nbrs = edges.select(col("src").as("node"), col("dst").as("nbr"))
      .unionAll(edges.select(col("dst").as("node"), col("src").as("nbr")))
    val hubNbrs = Materialize(nbrs.join(top.select(col("node")), "node"))
    // each common neighbor contributes round4(1/ln(deg)); deg ≥ 2 for any
    // SHARED neighbor is not guaranteed (deg 1 would be a self-loop-free
    // contradiction: a common neighbor of two nodes has degree ≥ 2), so
    // ln(deg) > 0 always — no guard needed, documented here
    val wNbr = deg.select(col("node").as("nbr"),
      stableRound4(lit(1.0) / log(col("degree").cast("double"))).as("w"))
    val pairs = hubNbrs.as("x").join(hubNbrs.as("y"),
        col("x.nbr") === col("y.nbr") && col("x.node") < col("y.node"))
      .select(col("x.node").as("a"), col("y.node").as("b"), col("x.nbr"))
      .join(wNbr, Seq("nbr"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"),
        aggregate(sort_array(collect_list(col("w"))), lit(0.0), _ + _)
          .as("aa_raw"))
    pairs
      .join(edges,
        col("a") === col("src") && col("b") === col("dst"), "left_anti")
      .select(col("a"), col("b"), col("n_common"),
        stableRound4(col("aa_raw")).as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("a"), col("b"))
      .limit(k)
  }
}
