package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Sketch-based approximate aggregation — the one-pass, merge-commutative
  * alternatives the 100 TB path substitutes for exact operators:
  * HyperLogLog++ (approx_count_distinct) for COUNT(DISTINCT), approx_percentile
  * (merged Greenwald-Khanna summaries, see [[MedianRankEps]]) for exact
  * interpolated percentiles, and the DataSketches HLL, frequent-items and
  * theta families for mergeable rollups and set algebra. Deterministic for
  * fixed data (sketch merges are commutative), but engine-specific, so the
  * declared query takes the rows-only check; ScalaTest bounds the error
  * against the exact aggregates.
  */
object SketchOps {

  /** Relative tolerance for the HLL estimate audits: 3× the configured
    * standard error (q_approx_stats runs approx_count_distinct at
    * rsd = 0.02 → 6%; q_hll_rollup's DataSketches lgK = 12 sketch has
    * RSE ≈ 1.04/√2¹² ≈ 1.6% → 5%). A correct sketch exceeds 3σ with
    * probability < 0.3% — and these inputs are FIXED per SF, so the
    * audit is deterministic in practice: either the estimate is in
    * tolerance on this data or the sketch is broken. */
  val HllPlusPlusRelTol = 0.06
  val DataSketchesRelTol = 0.05

  /** Rank tolerance for the approx-median audit: percentile_approx at
    * `accuracy` targets rank error 1/accuracy, but Spark computes the
    * final summary by MERGING per-partition Greenwald-Khanna summaries,
    * and a GK merge can double the error bound (Greenwald & Khanna 2001
    * §4; measured here: worst observed rank offset 1.51e-4 across
    * sf0.01/sf0.1/sf1 at accuracy 10⁴) — so the audit holds the merged
    * contract, 2/accuracy, and checks the returned value's true rank
    * brackets 0.5 within it. */
  val MedianRankEps = 2.0 / 10000

  /** Per-flag approximate distinct parts/suppliers + approximate median
    * price, next to the exact row count. */
  def approxStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("apx_parts"),
        approx_count_distinct(col("l_suppkey"), rsd = 0.02).as("apx_supps"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("apx_median_price"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** q_approx_stats (round 11: the declared form — TOLERANCE-ORACLED):
    * the sketch ACCEPTANCE audit. The raw estimates ([[approxStats]])
    * can never hash-match a different engine's registers, so the
    * declared query emits what IS cross-engine checkable: the exact
    * per-flag counts (hash-compared against DuckDB's COUNT(DISTINCT))
    * plus one boolean per sketch asserting the engine-computed estimate
    * sits within its published error bound — the oracle states the
    * booleans as literal TRUE, so an out-of-tolerance sketch fails the
    * driver's hash gate instead of hiding behind rows-only. Same pattern
    * as q_ann_recall: measure the approximation against ground truth
    * inside the query. The exact aggregates make this an AUDIT — at
    * 100 TB you run it on a slice/sample to qualify the sketch config,
    * then production queries use [[approxStats]] alone.
    *
    * The median audit checks the approx_percentile value's TRUE rank brackets
    * 0.5 within [[MedianRankEps]] (count(x < v)/n ≤ 0.5+ε and
    * count(x ≤ v)/n ≥ 0.5−ε) — one broadcast join of the 4-row
    * estimate table back to the facts. */
  def approxStatsAudit(spark: SparkSession, dir: String): DataFrame = {
    // NOT materialized, measured (round 12): four consumers re-read this
    // narrow projection, but checkpointing 600k×4 rows costs MORE than
    // the repeated column-pruned parquet scans it saves (BenchOne median
    // 1.51 s → 2.61 s WITH the barrier) — the recompute-over-spill rule.
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"))
    // sketches and exact distincts aggregate SEPARATELY and join on the
    // 3-row flag key: one agg with 2 countDistincts + 2 HLLs + the
    // percentile made Catalyst Expand the scan 3× with every aggregate
    // riding all branches — measured 45.6 s at sf1 vs ~4 s split. The
    // exact side runs as two two-phase (flag, key) distinct-then-count
    // aggregations: partial-aggregable, no Expand at all.
    val sketches = li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), rsd = 0.02).as("apx_parts"),
        approx_count_distinct(col("l_suppkey"), rsd = 0.02).as("apx_supps"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
          .as("apx_median"),
        count(lit(1)).as("n_rows"))
    def exactDistinct(key: String, as: String): DataFrame =
      li.select(col("l_returnflag"), col(key)).distinct()
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as(as))
    val apx = Materialize(sketches
      .join(exactDistinct("l_partkey", "exact_parts"), Seq("l_returnflag"))
      .join(exactDistinct("l_suppkey", "exact_supps"), Seq("l_returnflag")))
    val ranks = li
      .join(apx.select(col("l_returnflag"), col("apx_median")),
        Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(
        (sum(when(col("l_extendedprice") < col("apx_median"), 1L)
          .otherwise(0L)).cast("double") / count(lit(1))).as("frac_lt"),
        (sum(when(col("l_extendedprice") <= col("apx_median"), 1L)
          .otherwise(0L)).cast("double") / count(lit(1))).as("frac_le"))
    apx.join(ranks, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_rows"),
        col("exact_parts"), col("exact_supps"),
        (abs(col("apx_parts") - col("exact_parts")).cast("double")
          / col("exact_parts") <= HllPlusPlusRelTol).as("parts_within_rse"),
        (abs(col("apx_supps") - col("exact_supps")).cast("double")
          / col("exact_supps") <= HllPlusPlusRelTol).as("supps_within_rse"),
        (col("frac_lt") <= 0.5 + MedianRankEps
          && col("frac_le") >= 0.5 - MedianRankEps).as("median_rank_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** Mergeable-sketch rollup with Apache DataSketches HLL (Spark 4's
    * `hll_sketch_agg` / `hll_union_agg`): per-status customer-distinct
    * sketches PLUS an 'ALL' row whose estimate comes from UNIONING the
    * per-group sketch binaries — never re-scanning the data. This is the
    * 100 TB cardinality pattern: materialize small per-partition/per-day
    * sketches once, answer any rollup later by sketch union alone (the
    * union is exact on the sketch lattice, so unioned-estimate ==
    * direct-global-estimate — asserted in SketchSpec). Rows-only: the
    * sketch registers are engine-specific, so no DuckDB oracle. */
  def hllRollup(spark: SparkSession, dir: String): DataFrame = {
    val perGroup = Materialize(
      Tables.orders(spark, dir)
        .groupBy(col("o_orderstatus"))
        .agg(hll_sketch_agg(col("o_custkey")).as("sk"),
          count(lit(1)).as("n_rows")))
    val global = perGroup
      .agg(hll_union_agg(col("sk")).as("sk"), sum(col("n_rows")).as("n_rows"))
      .select(lit("ALL").as("o_orderstatus"),
        hll_sketch_estimate(col("sk")).as("apx_custs"), col("n_rows"))
    perGroup
      .select(col("o_orderstatus"),
        hll_sketch_estimate(col("sk")).as("apx_custs"), col("n_rows"))
      .unionByName(global)
      .orderBy(col("o_orderstatus"))
  }

  /** q_hll_rollup (round 11: the declared form — TOLERANCE-ORACLED, cf.
    * [[approxStatsAudit]]): per-status exact distinct customers
    * (hash-compared against DuckDB) next to a boolean asserting the
    * DataSketches HLL estimate — per group AND for the 'ALL' row whose
    * sketch comes from UNIONING the per-group binaries, never a rescan —
    * sits within [[DataSketchesRelTol]] of the exact count. The
    * union-equals-direct-sketch lattice identity stays pinned exactly in
    * SketchSpec; [[hllRollup]] remains the production form (no exact
    * aggregates). The ALL row's exact count is one extra distinct
    * aggregate over the orders scan — the audit's price, paid on the
    * qualification slice, not in production. */
  def hllRollupAudit(spark: SparkSession, dir: String): DataFrame = {
    // materialized: the sketch agg, the per-status exact distinct and the
    // global exact distinct all read this projection
    val orders = Materialize(Tables.orders(spark, dir)
      .select(col("o_orderstatus"), col("o_custkey")))
    // split two-phase aggs (the recorded 45.6→2.6 s lesson): a
    // countDistinct INSIDE the sketch agg made Catalyst Expand the scan
    // 2× with the sketch riding both branches (the r11 verdict's
    // quadrupled-cost finding). The exact side is one distinct-then-count
    // over (status, custkey); the global exact distinct reuses that
    // already-distinct frame, never the raw orders.
    val distinctPairs = Materialize(orders.distinct())
    val sketches = orders.groupBy(col("o_orderstatus"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"),
        count(lit(1)).as("n_rows"))
    val perGroup = Materialize(sketches.join(
      distinctPairs.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("exact_custs")),
      Seq("o_orderstatus")))
    val global = perGroup
      .agg(hll_union_agg(col("sk")).as("sk"), sum(col("n_rows")).as("n_rows"))
      .join(
        distinctPairs.select(col("o_custkey")).distinct()
          .agg(count(lit(1)).as("exact_custs")))
      .select(lit("ALL").as("o_orderstatus"), col("sk"), col("n_rows"),
        col("exact_custs"))
    perGroup.select(col("o_orderstatus"), col("sk"), col("n_rows"),
        col("exact_custs"))
      .unionByName(global)
      .select(col("o_orderstatus"), col("n_rows"), col("exact_custs"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_custs"))
          .cast("double") / col("exact_custs") <= DataSketchesRelTol)
          .as("within_rse"))
      .orderBy(col("o_orderstatus"))
  }

  /** q_heavy_hitters: frequent corpus tokens via the DataSketches
    * frequencies ItemsSketch ([[graft.functions.expressions.FreqItems]]) —
    * fixed-memory heavy-hitter detection where the exact vocabulary
    * aggregation (vocabTopK) needs a vocab-sized shuffle. One narrow
    * explode + ONE sketch aggregate whose per-partition binaries merge on
    * the partial-aggregate path; the declared map size (2¹⁵) exceeds the
    * fixture vocabulary at every SF, so the output here is the exact
    * frequency table and fully deterministic (bounds collapse, est = lb =
    * ub); at web scale the same query purges gracefully to provable
    * bounds. Rows-only: sketch internals are engine-specific; SketchSpec
    * pins the no-purge regime to exact counts and the purge regime to its
    * error bounds on a crafted heavy-tail stream. */
  def heavyHitters(spark: SparkSession, dir: String, k: Int = 30,
      maxMapSize: Int = 1 << 15): DataFrame = {
    import graft.functions.TextFunctions.tokensLower
    import org.apache.spark.sql.GraftColumnBridge
    val freq = GraftColumnBridge.toColumn(
      graft.functions.expressions.FreqItems(
        GraftColumnBridge.toExpression(col("tok")), maxMapSize)
        .toAggregateExpression())
    Tables.documents(spark, dir)
      .select(explode(tokensLower(col("text"))).as("tok"))
      .agg(freq.as("items"))
      .select(explode(col("items")).as("f"))
      .select(col("f.item").as("token"), col("f.est").as("est"),
        col("f.lb").as("lb"), col("f.ub").as("ub"))
      .orderBy(col("est").desc, col("token"))
      .limit(k)
  }

  /** q_theta_audience: the full audience set-algebra grid from MERGEABLE
    * sketches — per-event-type theta sketches of user_id (Spark's built-in
    * DataSketches `theta_sketch_agg`), then pairwise intersection /
    * A-not-B / union estimates (`theta_intersection`, `theta_difference`,
    * `theta_union`) evaluated on the aggregated sketch table alone.
    * This closes the set-operation gap HLL leaves open (q_hll_rollup can
    * union but never intersect): at 100 TB the facts are scanned ONCE into
    * |types| fixed-size binaries riding the partial-aggregate shuffle, and
    * every overlap/exclusive-audience question — including ones not known
    * at scan time — is answered from the sketch table in O(|types|²·2^12),
    * where the exact twin (q_audience_overlap) re-shuffles distinct
    * (type, user) pairs for each question. Oracle-checked: the fixture's
    * per-type audiences stay far below the built-ins' default 2^12 nominal
    * entries, so the sketches never enter estimation mode and every
    * estimate is the exact distinct count, whatever the partition order
    * (SketchSpec pins both that and the estimation regime). */
  def thetaAudience(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    // materialized: the pair grid reads BOTH sides of the self-join from
    // this |types|-row table — without it each side would re-run the full
    // fact scan + sketch aggregation
    val perType = Materialize(
      Tables.events(spark, dir)
        .groupBy(col("event_type"))
        .agg(theta_sketch_agg(col("user_id")).as("sk")))
    val (a, b) = (col("a.sk"), col("b.sk"))
    perType.as("a")
      .join(perType.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        theta_sketch_estimate(theta_intersection(a, b)).as("n_inter"),
        theta_sketch_estimate(theta_difference(a, b)).as("only_a"),
        theta_sketch_estimate(theta_difference(b, a)).as("only_b"),
        theta_sketch_estimate(theta_union(a, b)).as("n_union"))
      .withColumn("jaccard", stableRound4(
        col("n_inter").cast("double") / col("n_union")))
      .orderBy(col("type_a"), col("type_b"))
  }
}
