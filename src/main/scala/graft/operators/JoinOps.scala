package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Join / top-k operators — the star-schema generalization of the reference
  * pipeline (SURVEY.md §2.2 `q_join_enrich`, `q_topk`). The reference itself
  * is single-table (no join anywhere in `ingest_data.py:1-175`), so these
  * define the join surface a user of a real warehouse needs.
  *
  * Scale posture: dimension tables (region=5, nation=25, customer=150×sf,
  * supplier=10×sf rows) are explicitly `broadcast()` so the fact-table side
  * never shuffles for them; at 100 TB only genuinely large-large joins
  * (lineitem⋈orders) shuffle, on their join key, where AQE handles skew.
  */
object JoinOps {

  /** Row-level enrichment: orders ⋈ customer ⋈ nation ⋈ region. All three
    * dimension sides broadcast — the orders scan is never shuffled. */
  def joinEnrich(spark: SparkSession, dir: String): DataFrame = {
    val orders   = Tables.orders(spark, dir)
    val customer = Tables.customer(spark, dir)
    val nation   = Tables.nation(spark, dir)
    val region   = Tables.region(spark, dir)
    orders
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .select(
        col("o_orderkey"),
        col("o_totalprice"),
        col("c_name"),
        col("n_name"),
        col("r_name"))
      .orderBy(col("o_orderkey"))
  }

  /** Revenue-by-nation aggregate (TPC-H Q5 shape): one big-big shuffle join
    * (lineitem⋈orders on orderkey), everything else broadcast; partial
    * aggregation collapses the result to |nation| rows before the final
    * exchange. */
  def joinAgg(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.lineitem(spark, dir)
    val orders   = Tables.orders(spark, dir)
    val customer = Tables.customer(spark, dir)
    val nation   = Tables.nation(spark, dir)
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** Left-semi join: orders that have at least one high-quantity lineitem
    * (EXISTS). Semi joins ship only the join key of the probe side. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders   = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 45)
    orders
      .join(lineitem, orders("o_orderkey") === lineitem("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy(col("o_orderkey"))
  }

  /** Left-anti join: customers with no orders (NOT EXISTS). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val orders   = Tables.orders(spark, dir)
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Full-outer join on unique keys: high-balance customers against
    * per-customer order counts — either side may be absent, and its columns
    * carry through as nulls. Both sides are O(|customers|) so neither is
    * broadcast; they shuffle once on the join key, and the aggregate side
    * arrives pre-reduced (one row per key) from its own partial agg. */
  def outerJoin(spark: SparkSession, dir: String): DataFrame = {
    val rich = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 5000)
      .select(col("c_custkey"), col("c_mktsegment"))
    val counts = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    rich
      .join(counts, rich("c_custkey") === counts("o_custkey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_mktsegment").as("seg"),
        col("n_orders"))
      .orderBy(col("custkey"))
  }

  /** q_topk_custom: [[topK]] minus the rank column, ordered by
    * (priority, orderkey). */
  def topKCustom(spark: SparkSession, dir: String): DataFrame =
    topK(spark, dir).drop("rn")
      .orderBy(col("o_orderpriority"), col("o_orderkey"))

  /** Top-k per group (R10 generalized): top-5 orders by totalprice within
    * each order priority. Window ties broken by the unique o_orderkey so the
    * result is deterministic. At scale this is one hash-partition on the
    * group key + per-partition sort — no global sort. */
  def topK(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
        round(col("o_totalprice"), 4).as("o_totalprice"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  /** Skew-aware fact⋈dim join, aggregated per brand. Declared path: the
    * PLAIN equi-join under AQE skew handling — the sf1 gate measured it 3×
    * faster than the 8-way salted form on these (uniform) keys (0.28 s vs
    * 0.73-0.90 s, SCALE.md), because salting pays factor-× small-side
    * replication and a fatter shuffle whether or not any key is hot, while
    * AQE splits oversized partitions only when they exist. The salted
    * variant stays below as [[skewJoinAggSalted]] (same rows — proven by
    * the shared oracle in JoinOpsSpec) for the two cases AQE can't fix:
    * one key so dominant that even split partitions bottleneck, or a
    * same-key aggregation downstream that must survive the join. */
  def skewJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
      .withColumnRenamed("p_partkey", "l_partkey")
    lineitem.join(part, Seq("l_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 4).as("total"))
      .orderBy(col("p_brand"))
  }

  /** The explicit-salt formulation of [[skewJoinAgg]] (8-way salt via
    * [[SkewUtils.saltedJoin]]): identical output, each hot l_partkey spread
    * over 8 reducers unconditionally. */
  def skewJoinAggSalted(spark: SparkSession, dir: String): DataFrame = {
    val lineitem = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
      .withColumnRenamed("p_partkey", "l_partkey")
    SkewUtils.saltedJoin(lineitem, part, "l_partkey", factor = 8,
      bigSaltSource = Seq("l_orderkey", "l_linenumber", "l_suppkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 4).as("total"))
      .orderBy(col("p_brand"))
  }

  /** Bloom-filter semi-join reduction: lineitems of URGENT orders,
    * aggregated per return flag. The urgent key set is too large to ship as
    * an IN-list and (at 100 TB) too large to broadcast as a hash table, so
    * the fact side is pre-filtered by a Bloom filter of the dimension keys
    * — built DISTRIBUTED (`stat.bloomFilter` tree-aggregates per-partition
    * filters), probed in the scan stage via the codegen'd
    * [[graft.functions.expressions.BloomContains]] — before the exact semi
    * join removes the false positives. Only ~sel+fpp of the fact table
    * reaches the shuffle instead of all of it; semantics stay exactly the
    * plain semi join (the oracle IS the plain `IN` subquery).
    *
    * Like the scalar-subquery pattern, the filter build is an eager
    * two-job step (count + tree-aggregate) at DataFrame-construction
    * time — the price of a probe that rides the scan. */
  def bloomSemiJoinAgg(spark: SparkSession, dir: String,
      bloomFpp: Double = graft.Tuning.BloomFpp): DataFrame = {
    import graft.functions.SketchFunctions._
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val bloom = urgent.stat.bloomFilter("o_orderkey",
      expectedNumItems = math.max(graft.Tuning.BloomMinItems, urgent.count()),
      fpp = bloomFpp)
    val bytes = serialize(bloom)
    val lineitem = Tables.lineitem(spark, dir)
      .filter(bloomMightContain(col("l_orderkey"), bytes))
    lineitem
      .join(urgent, lineitem("l_orderkey") === urgent("o_orderkey"),
        "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("total"))
      .orderBy(col("l_returnflag"))
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): rows whose
    * join key is NULL match the NULL group instead of dropping out — the
    * semantics CDC/merge pipelines need for nullable business keys. The
    * nullable key is derived with nullif so the fixture data exercises the
    * NULL-matching path; the group side is 3 rows → broadcast hash join
    * with the null-safe comparator, no shuffle of the fact side. */
  def nullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val keyed = orders.select(col("o_orderkey"),
      nullif(col("o_orderstatus"), lit("P")).as("status_key"))
    val groups = keyed.groupBy(col("status_key"))
      .agg(count(lit(1)).as("grp_n"))
      .withColumnRenamed("status_key", "g_key")
    keyed.join(broadcast(groups), col("status_key") <=> col("g_key"))
      .select(col("o_orderkey"), col("status_key"), col("grp_n"))
      .orderBy(col("o_orderkey"))
  }

  /** q_tpch_q3: the TPC-H Q3 "shipping priority" shape — filter both fact
    * sides BEFORE the join (date predicates reach both parquet scans),
    * join on the order key, aggregate revenue per order, top-10 by
    * revenue. The canonical filter-pushdown + shuffle-join + TakeOrdered
    * pattern every OLAP engine is judged on; the customer side of the real
    * Q3 folds into the orders filter here (no mktsegment column on
    * orders, so the date predicates carry the selectivity). */
  def tpchQ3(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1995-03-15").cast("timestamp")
    val orders = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val lineitem = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
        4).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** q_tpch_q18: the TPC-H Q18 "large volume customer" shape — a HAVING
    * aggregate over the fact feeds a semi-filter back onto itself, joined
    * out to the order/customer dims. The aggregate-then-self-semi-join
    * pattern (find the keys whose SUM crosses a threshold, then return
    * their detail) is the classic two-pass OLAP idiom; the first pass
    * collapses to one partial-aggregated shuffle, the second joins only
    * the qualifying keys (broadcast at this selectivity). */
  def tpchQ18(spark: SparkSession, dir: String, minQty: Double = 300)
      : DataFrame = {
    val lineitem = Tables.lineitem(spark, dir)
    val big = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    val orders = Tables.orders(spark, dir)
    big
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("order_date"),
        round(col("o_totalprice"), 4).as("o_totalprice"),
        round(col("total_qty"), 4).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** q_tpch_q10 (returned-item reporting, adapted to the synthetic
    * schema's columns): revenue lost to returns per customer in one
    * quarter. Plan shape at 100 TB: both date predicates and the
    * returnflag filter push to the fact scans, the orders⋈lineitem join
    * shuffles on the order key, the customer join shuffles on custkey
    * (broadcast below the threshold via AQE), and nation broadcasts
    * always. Top-20 plans as TakeOrderedAndProject, no global sort. */
  def tpchQ10(spark: SparkSession, dir: String): DataFrame = {
    val lo = lit("1995-10-01").cast("timestamp")
    val hi = lit("1996-01-01").cast("timestamp")
    val orders = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_custkey"))
    val returned = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    returned
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
        4).as("revenue"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        round(col("c_acctbal"), 4).as("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** q_tpch_q6 (forecasting revenue change): the pure predicate-pushdown
    * showcase — a single fact scan with three range predicates and a
    * two-column projection, collapsing to one row with NO join and NO
    * shuffle beyond the final 1-row partial-agg merge. At 100 TB this is
    * the query whose entire cost is decided by the scan: all three
    * predicates reach parquet (`PushedFilters` in its `PlansDump` plan), only
    * (l_extendedprice, l_discount, l_quantity, l_shipdate) are read, and
    * with date-partitioned or min/max-zoned layout (q_zorder) most files
    * never open at all. */
  def tpchQ6(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 4)
        .as("revenue"),
        count(lit(1)).as("n_items"))

  /** q_tpch_q14 (promotion effect): conditional-aggregate share over a
    * fact⋈dim join — what fraction of one month's revenue came from promo
    * parts. The part side broadcasts (it is a dimension); the month
    * predicate pushes into the fact scan, so the join input is one month
    * of lineitem, not the table. The promo/total ratio is a single
    * conditional sum — no second pass, no self-join. */
  def tpchQ14(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp")
        && col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li.join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .agg(
        round(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0))),
          4).as("promo_revenue"),
        round(sum(rev), 4).as("total_revenue"),
        round(sum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
          * 100.0 / sum(rev), 4).as("promo_pct"))
  }

  /** q_tpch_q7 (volume shipping): the two-role dimension topology — the
    * SAME nation table joins twice under different roles (supplier nation
    * vs customer nation), which exercises alias resolution and double
    * broadcast of one dimension. Fact side: lineitem⋈orders is the only
    * big-big shuffle; supplier/customer/nation all broadcast; the ship-year
    * band predicate pushes into the fact scan. Output is |nations|²×years,
    * partial-aggregated before the final exchange. */
  def tpchQ7(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    li
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
        4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** q_tpch_q22 (global sales opportunity): scalar-subquery threshold +
    * anti-join composite — customers with above-average positive account
    * balance and no order since the cutoff, grouped by nation. Plan
    * shape: the AVG collapses to one broadcast row (no per-row
    * recompute); the anti-join is the only shuffle, and its build side is
    * pre-shrunk by the cutoff predicate (pushed to the orders scan) plus
    * column pruning to o_custkey alone — at 100 TB the "recent orders"
    * slice is a fraction of the order history, so the dormant-customer
    * audit never pays for the full fact table. */
  def tpchQ22(spark: SparkSession, dir: String,
      cutoff: String = "2000-01-01"): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val avgBal = customer.filter(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("threshold"))
    val prospects = customer
      .join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("threshold"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
    prospects
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_custs"),
        round(sum(col("c_acctbal")), 4).as("total_acctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** q_tpch_q1 (pricing summary report): the canonical scan-and-aggregate —
    * one fact pass, a single shipdate cutoff pushed to parquet, eight
    * aggregates over a 2-column group whose cardinality is ~6 rows. At
    * 100 TB the ENTIRE cost is the scan: partial aggregation reduces each
    * input partition to ≤6 rows before the one tiny exchange, so no
    * shuffle, memory, or skew concern exists at any scale. Averages are
    * recomputed as sum/count by the engine (algebraic), never buffered. */
  def tpchQ1(spark: SparkSession, dir: String,
      cutoff: String = "2000-09-02"): DataFrame = {
    val disc   = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val charge = disc * (lit(1) + col("l_tax"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit(cutoff).cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(disc), 4).as("sum_disc_price"),
        round(sum(charge), 4).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** q_tpch_q5 (local supplier volume): revenue from orders where the
    * customer and the supplier share a nation, restricted to one region
    * and one order year. The defining feature is the NON-join-key
    * residual `c_nationkey = s_nationkey` — it cannot drive a hash join
    * (customer arrives via orders, supplier via lineitem), so it is a
    * post-join filter; everything dimension-shaped (customer, supplier,
    * nation⋈region) broadcasts and the only shuffle is lineitem⋈orders on
    * orderkey, with the year predicate pre-shrinking the orders side. */
  def tpchQ5(spark: SparkSession, dir: String,
      region: String = "ASIA", year0: String = "1996-01-01",
      year1: String = "1997-01-01"): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
          .filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit(year0).cast("timestamp")
            && col("o_orderdate") < lit(year1).cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
        4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q_tpch_q8 (national market share): what share of one region's revenue
    * in a part-type segment is supplied by one nation, per order year.
    * Two nation roles again (customer's nation gates the REGION, the
    * supplier's nation is the SHARE numerator) — but unlike Q7 the share
    * is a conditional sum over one joined stream, not a self-join: one
    * fact pass, numerator and denominator in the same partial aggregate.
    * The p_type filter broadcasts a pre-shrunk part dim, so at 100 TB the
    * lineitem⋈part broadcast-probe discards non-segment rows before the
    * one orderkey shuffle. */
  def tpchQ8(spark: SparkSession, dir: String,
      shareNation: String = "NATION_2", region: String = "ASIA",
      ptype: String = "ECONOMY"): DataFrame = {
    val custNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir)
          .filter(col("r_name") === region)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    val suppNations = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
          .filter(col("p_type") === ptype).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(custNations), col("c_nationkey") === col("cn_key"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(suppNations), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        round(sum(when(col("supp_nation") === shareNation, vol)
          .otherwise(lit(0.0))) / sum(vol), 6).as("mkt_share"),
        round(sum(vol), 4).as("total_volume"))
      .orderBy(col("o_year"))
  }

  /** q_tpch_q13 (customer distribution; adapted — the synthetic orders
    * table has no o_comment, so the comment-exclusion predicate is
    * dropped): how many customers placed exactly k orders, INCLUDING the
    * zero bucket — which is why this is a left outer join from customer,
    * not an inner groupBy of orders. Two aggregations: per-customer count
    * (shuffle on custkey, partial-agg'd), then the tiny k-histogram.
    * At 100 TB the first agg is the cost and it is the minimal one — the
    * orders scan reads o_custkey alone. */
  def tpchQ13(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.customer(spark, dir).select(col("c_custkey"))
      .join(Tables.orders(spark, dir).select(col("o_custkey"),
          col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    perCust
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** q_tpch_q15 (top supplier): per-supplier revenue over one quarter,
    * returning the supplier(s) achieving the maximum — the "argmax via
    * scalar subquery" shape. The quarter's revenue table is computed ONCE
    * ([[graft.operators.Materialize]]) and reused for both the max (one
    * broadcast row) and the equality probe, so the fact table is scanned
    * exactly once; TPC-H's CREATE VIEW + re-read would scan twice. */
  def tpchQ15(spark: SparkSession, dir: String,
      q0: String = "1996-01-01", q1: String = "1996-04-01"): DataFrame = {
    val revenue = Materialize(
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lit(q0).cast("timestamp")
          && col("l_shipdate") < lit(q1).cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          4).as("total_revenue")))
    val top = revenue.agg(max(col("total_revenue")).as("mx"))
    revenue
      .join(broadcast(top), col("total_revenue") === col("mx"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** q_tpch_q17 (small-quantity-order revenue; adapted — no p_container
    * in the synthetic part table, so the segment is brand ⋀ size-band):
    * revenue from orders so small they fall under 20% of the part's own
    * average order quantity. The correlated scalar subquery becomes a
    * per-part aggregate joined back — and because BOTH the probe rows and
    * the per-part averages are restricted to the same tiny part segment,
    * the aggregate is computed over the broadcast-pruned fact slice, not
    * the whole table, then broadcast back (a few thousand rows): two
    * passes over the SLICE, zero shuffles of the full fact table. */
  def tpchQ17(spark: SparkSession, dir: String,
      brand: String = "Brand#3", maxSize: Int = 10): DataFrame = {
    val seg = broadcast(Tables.part(spark, dir)
      .filter(col("p_brand") === brand && col("p_size") <= maxSize)
      .select(col("p_partkey")))
    val segItems = Materialize(
      Tables.lineitem(spark, dir)
        .join(seg, col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice")))
    val perPartAvg = segItems
      .groupBy(col("l_partkey"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
      .select(col("l_partkey").as("ap_key"), col("avg_qty"))
    segItems
      .join(broadcast(perPartAvg), col("l_partkey") === col("ap_key"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg(round(sum(col("l_extendedprice")) / 7.0, 4).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  /** q_tpch_q19 (discounted revenue; adapted — no l_shipmode /
    * l_shipinstruct / p_container, so each disjunct is brand ⋀ size-band
    * ⋀ quantity-band): the OR-of-ANDs join showcase. All three disjuncts
    * share the equi-join on partkey, so Spark runs ONE broadcast hash
    * join with the disjunction as a residual filter — not three joins
    * unioned. The quantity bounds ( ≥1, ≤40 across disjuncts ) are
    * implied predicates pushable to the fact scan. */
  def tpchQ19(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 40)
    val p = broadcast(Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size")))
    val d1 = col("p_brand") === "Brand#12" &&
      col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
    val d2 = col("p_brand") === "Brand#23" &&
      col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
    val d3 = col("p_brand") === "Brand#24" &&
      col("p_size").between(1, 15) && col("l_quantity").between(20, 40)
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(d1 || d2 || d3)
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
        4).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q_card_est: join-cardinality estimation audit — how wrong would a
    * histogram-based planner estimate be on this key distribution? For
    * the events-on-user self-join (the worst case every optimizer
    * guards: output = Σ c(u)², quadratic in per-key counts), each of 32
    * key-hash buckets reports the EXACT pair count Σ c² against the
    * textbook uniform-within-bucket estimate n²/d (rows² / distinct
    * keys — what an equi-depth histogram with per-bucket distinct counts
    * would predict). `err_ratio` > 1 means real skew the histogram
    * hides — exactly the buckets where a static plan under-provisions
    * and AQE/salting must step in (companion to [[skewAudit]], which
    * measures the same phenomenon for shuffle sizing). Two
    * partial-aggregated hops (per-key, then per-bucket); nothing wider
    * than the key count ever shuffles. */
  def cardEst(spark: SparkSession, dir: String,
      buckets: Int = 32): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val perKey = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"))
      .select(pmod(col("user_id"), lit(buckets.toLong)).as("bucket"),
        col("c"))
    perKey.groupBy(col("bucket"))
      .agg(sum(col("c")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        sum(col("c") * col("c")).as("exact_pairs"))
      .select(col("bucket"), col("n_rows"), col("n_keys"),
        col("exact_pairs"),
        stableRound4(col("n_rows").cast("double") * col("n_rows")
          / col("n_keys")).as("est_pairs"),
        stableRound4(col("exact_pairs")
          / (col("n_rows").cast("double") * col("n_rows") / col("n_keys")))
          .as("err_ratio"))
      .orderBy(col("bucket"))
  }

  /** q_skew_audit: shuffle-key skew diagnostic for a prospective join or
    * aggregation key — the measurement that decides between plain SMJ,
    * AQE skew-split, and explicit salting (the trade quantified in
    * SCALE.md's salted-vs-AQE experiment). The key stream (events per
    * user) is hashed into 32 buckets (`user_id % 32`, a deterministic
    * stand-in for the shuffle partitioner) and each bucket reports: row
    * count, distinct keys, the LARGEST single key's row count, the
    * bucket's share of the table, `skew_factor` (bucket rows / mean
    * bucket rows — AQE's split criterion watches this), and
    * `single_key_share` (largest key / bucket rows — the number AQE
    * CANNOT fix: a partition dominated by one key cannot be split by
    * re-partitioning, only by salting the key itself). Two
    * partial-aggregated shuffles — per-key then per-bucket — so the audit
    * costs one pass over the fact at any scale. */
  def skewAudit(spark: SparkSession, dir: String,
      buckets: Int = 32): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val perKey = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(pmod(col("user_id"), lit(buckets.toLong)).as("bucket"),
        col("n"))
    val perBucket = perKey.groupBy(col("bucket"))
      .agg(sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("n")).as("max_key_rows"))
    val totals = perBucket.agg(
      sum(col("n_rows")).cast("double").as("n_total"),
      count(lit(1)).cast("double").as("n_buckets"))
    perBucket.crossJoin(broadcast(totals))
      .select(col("bucket"), col("n_rows"), col("n_keys"),
        col("max_key_rows"),
        stableRound4(col("n_rows") / col("n_total")).as("share"),
        stableRound4(col("n_rows") / (col("n_total") / col("n_buckets")))
          .as("skew_factor"),
        stableRound4(col("max_key_rows").cast("double") / col("n_rows"))
          .as("single_key_share"))
      .orderBy(col("bucket"))
  }

  /** q_tpch_q12 (shipping modes and order priority): the
    * CASE-classification aggregate over one fact⋈dim join with a pushed
    * date window. TPC-H buckets by l_shipmode with commit/receipt
    * constraints; the synthetic lineitem carries neither column, so — the
    * standing adaptation rule — the SHAPE is kept verbatim with
    * l_returnflag as the mode surrogate and "shipped > 30 days after
    * order" as the lateness constraint. Plan: the year window and
    * NotNull push to the lineitem scan, the join is one shuffle on
    * orderkey (only o_orderpriority read from orders — column pruning),
    * and the CASE counts partial-aggregate to |modes| rows. */
  def tpchQ12(spark: SparkSession, dir: String, year: String = "1996")
      : DataFrame = {
    val lines = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(s"$year-01-01").cast("timestamp")
        && col("l_shipdate") < lit(s"${year.toInt + 1}-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_shipdate"), col("l_returnflag"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lines
      .join(orders, col("l_orderkey") === col("o_orderkey")
        && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("l_returnflag").as("ship_mode"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("ship_mode"))
  }

  /** q_tpch_q21 (suppliers who kept orders waiting): the
    * multi-EXISTS / NOT-EXISTS correlated anti-join composite — the one
    * TPC-H pattern family q4 didn't cover. For each supplier's LATE
    * (orderkey, suppkey) participation: keep it only if the order also
    * involves ANOTHER supplier (EXISTS → left-semi on orderkey with a
    * supplier-differs residual) and NO other supplier was late on it
    * (NOT EXISTS → left-anti against the late set itself); count blamed
    * orders per supplier. Lateness adapts commit/receipt to
    * "shipped > 60 days after the order date" (same rule as q4/q12).
    *
    * Plan shape (round 16b): the late set is one pushed-filter join
    * distilled to DISTINCT (orderkey, suppkey) pairs; BOTH correlated
    * predicates then run as per-order aggregates — min≠max supplier over
    * all lines (EXISTS) and a count-1 late-pair rollup that also pins the
    * surviving suppkey (NOT EXISTS) — so every exchange carries a
    * partial-aggregated ≤\|orders\|-row frame, never un-reduced fact rows;
    * the supplier dim joins broadcast-sized at the end. */
  def tpchQ21(spark: SparkSession, dir: String, lateDays: Int = 60,
      k: Int = 20): DataFrame = {
    val lines = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"))
    val late = lines
      .join(orders, col("l_orderkey") === col("o_orderkey")
        && col("l_shipdate") > col("o_orderdate")
          + expr(s"INTERVAL $lateDays DAYS"))
      .select(col("l_orderkey"), col("l_suppkey"))
      .distinct()
    // round 16b (§2.3 aggregate-before-shuffle): the EXISTS / NOT-EXISTS
    // pair used to run as a semi join of the late set against the FULL
    // un-aggregated lineitem key projection plus an anti join of the late
    // set against itself — the semi shuffled every (orderkey, suppkey)
    // fact row with no map-side reduction. Both predicates are per-ORDER
    // facts, so they reduce instead:
    //   EXISTS another supplier on the order  ⇔  min ≠ max supplier over
    //     ALL lines of the order (the late supplier is itself one of the
    //     order's suppliers, so ≥2 distinct suppliers ⇒ a different one);
    //   NOT EXISTS another LATE supplier  ⇔  the order has exactly ONE
    //     distinct late (orderkey, suppkey) pair — which pins that pair's
    //     suppkey, so the survivor row falls out of the same aggregate.
    // Both aggregates partial-aggregate to ≤|orders| rows before their
    // exchange; results are row-identical (JoinOpsSpec driver recompute).
    val multiSupp = lines.groupBy(col("l_orderkey"))
      .agg(min(col("l_suppkey")).as("__smin"),
        max(col("l_suppkey")).as("__smax"))
      .filter(col("__smin") =!= col("__smax"))
      .select(col("l_orderkey"))
    val soleBlame = late.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("__nlate"), min(col("l_suppkey")).as("l_suppkey"))
      .filter(col("__nlate") === 1)
      .join(multiSupp, Seq("l_orderkey"), "left_semi")
    soleBlame
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(k)
  }

  /** q_tpch_q4 (order priority checking): the correlated-EXISTS-with-date-
    * window pattern — count orders per priority in a 3-month window where
    * at least one line item satisfies a predicate CORRELATED with the
    * outer row. TPC-H's predicate is l_commitdate < l_receiptdate; the
    * synthetic lineitem carries neither column, so — the same adaptation
    * rule as Q13/Q17/Q19 — the correlated shape is kept verbatim with
    * `l_shipdate > o_orderdate` (a line shipped after the order date) as
    * the EXISTS body.
    *
    * Plan shape: the window predicate pushes to the orders scan (3 months
    * of a multi-year table — partition pruning at scale); the EXISTS
    * compiles to a LEFT SEMI join on orderkey with the correlated
    * date compare as a join-side filter, so each order contributes at most
    * once regardless of line count and the aggregate state is |priorities|
    * rows. No window functions, no driver data. */
  def tpchQ4(spark: SparkSession, dir: String,
      from: String = "1995-07-01", to: String = "1995-10-01"): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from).cast("timestamp")
        && col("o_orderdate") < lit(to).cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val lateLines = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    orders
      .join(lateLines,
        col("o_orderkey") === col("l_orderkey")
          && col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Derived supplier-part cost table — the synthetic schema carries no
    * `partsupp` (the round-13 adaptation rule, same spirit as Q4/Q13's
    * column adaptations): supply relationships and costs are derived from
    * the fact itself as min-observed unit price per (partkey, suppkey).
    * Each unit price is ONE division round4-ed before the MIN, so the
    * derived cost is order-independent and bit-identical cross-engine
    * (the argmin analogue of the integer-argmax rule). One
    * partial-aggregated shuffle over the fact; the result is
    * |parts|·|suppliers-per-part| rows — dimension-sized, broadcastable
    * downstream. */
  private[operators] def derivedPartSupp(spark: SparkSession, dir: String,
      partKeys: Option[DataFrame] = None): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    // round 16 (guide §2.2): callers that only consume a part-filtered
    // slice pass the qualifying `p_partkey` set, which SEMI-JOINS THE
    // FACT SCAN before the pair aggregation — groups are partkey-atomic,
    // so the per-group min is unchanged while the aggregation shuffles
    // only the qualifying parts' share of fact rows.
    val li0 = Tables.lineitem(spark, dir)
    val li = partKeys.fold(li0)(pk => li0.join(broadcast(pk),
      col("l_partkey") === pk("p_partkey"), "left_semi"))
    li.groupBy(col("l_partkey").as("ps_partkey"),
        col("l_suppkey").as("ps_suppkey"))
      .agg(min(stableRound4(col("l_extendedprice") / col("l_quantity")))
        .as("ps_supplycost"))
  }

  /** q_tpch_q2 (minimum-cost supplier): for every qualifying part, the
    * supplier(s) in one region offering the MINIMUM derived supply cost —
    * TPC-H Q2's correlated-min subquery shape on the [[derivedPartSupp]]
    * stand-in. Plan shape at 100 TB: the part filter broadcasts, supplier
    * ⋈ nation ⋈ region broadcast, the min-per-part is one
    * partial-aggregated groupBy over the dimension-sized eligible set,
    * and the "cost = min" correlation is an equi-join on
    * (partkey, round4 cost) — never a per-part subquery execution. */
  def tpchQ2(spark: SparkSession, dir: String): DataFrame = {
    val qualParts = Tables.part(spark, dir)
      .filter(col("p_size") <= 10 && col("p_type") === "LARGE")
    val eligible = derivedPartSupp(spark, dir,
        Some(qualParts.select(col("p_partkey"))))
      .join(broadcast(qualParts),
        col("ps_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("ps_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)
        .filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("p_partkey"), col("p_name"), col("ps_supplycost"),
        col("s_name"), round(col("s_acctbal"), 4).as("s_acctbal"),
        col("n_name"))
    val minCost = eligible.groupBy(col("p_partkey").as("mk"))
      .agg(min(col("ps_supplycost")).as("min_cost"))
    eligible
      .join(minCost, col("p_partkey") === col("mk")
        && col("ps_supplycost") === col("min_cost"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("ps_supplycost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** q_tpch_q9 (product-type profit): profit per supplier nation per order
    * year for one part family — TPC-H Q9's six-table star with the
    * [[derivedPartSupp]] cost stand-in. Plan shape: the p_name LIKE
    * filter broadcasts part, ps/supplier/nation broadcast, and the only
    * big-big shuffle is lineitem ⋈ orders on the order key; year() and
    * the profit expression fold into the scan projection. */
  def tpchQ9(spark: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(spark, dir)
      .filter(col("p_name").like("%red%"))
      .select(col("p_partkey"))
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(redParts),
        col("l_partkey") === col("p_partkey"))
      // NO broadcast hint on the derived partsupp: it is FACT-derived
      // (distinct (partkey, suppkey) pairs — ~19M rows at the 100× spot
      // scale, where a forced broadcast killed the run), so it
      // shuffle-joins on its keys and AQE may still broadcast it when a
      // filtered dir makes it genuinely small. Round 16: it aggregates
      // only the red parts' fact rows (partKeys semi-join, see
      // derivedPartSupp) — the join discards every other group anyway.
      .join(derivedPartSupp(spark, dir, Some(redParts)),
        col("l_partkey") === col("ps_partkey")
          && col("l_suppkey") === col("ps_suppkey"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
    li.join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
        - col("ps_supplycost") * col("l_quantity")), 4).as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** q_tpch_q11 (important inventory): per-part supplied value for one
    * region's suppliers, kept where the value exceeds a fraction of the
    * region's grand total — TPC-H Q11's HAVING-against-scalar-subquery
    * shape. Values are exact integer cents (cost ×100 as BIGINT × BIGINT
    * quantity), so the threshold comparison can never flip on
    * sum-order ULPs — the q_kruskal cents-compression rule applied to a
    * join query. Plan shape: one fact aggregation ([[derivedPartSupp]]
    * extended with quantities), broadcast supplier/nation filter, a
    * part-keyed partial agg, and a 1-row broadcast total. */
  def tpchQ11(spark: SparkSession, dir: String,
      frac: Double = 0.0001): DataFrame = {
    // round 16 (guide §2.2 shuffle fewer bytes): the region's supplier
    // filter semi-joins the FACT SCAN, not the aggregated pairs — every
    // (l_partkey, l_suppkey) group belongs to exactly one supplier, so
    // filtering before the groupBy keeps whole groups intact (min/sum
    // unchanged) while the pair aggregation shuffles only the selected
    // region's ~1/|regions| of the fact rows.
    val regionSupp = broadcast(Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .filter(col("n_regionkey") === 0)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey")))
    val v = Tables.lineitem(spark, dir)
      .join(regionSupp, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(
        round(min(graft.functions.NumericFunctions.stableRound4(
          col("l_extendedprice") / col("l_quantity"))) * 100)
          .cast("bigint").as("cost_cents"),
        sum(col("l_quantity")).cast("bigint").as("qty"))
      .groupBy(col("l_partkey").as("p_partkey"))
      .agg(sum(col("cost_cents") * col("qty")).cast("bigint")
        .as("value_cents"))
    val total = v.agg(sum(col("value_cents")).cast("bigint").as("total"))
    v.crossJoin(broadcast(total))
      .filter(col("value_cents") > lit(frac) * col("total"))
      .select(col("p_partkey"), col("value_cents"))
      .orderBy(col("value_cents").desc, col("p_partkey"))
  }

  /** q_tpch_q16 (supplier count by part attributes): distinct suppliers
    * per (brand, type, size) over the fact-derived supply pairs, with
    * brand/type/size exclusion predicates and a NOT-IN supplier
    * blocklist (negative account balance as the "customer complaints"
    * stand-in — the schema carries no comment column). Plan shape: the
    * distinct pair set is one partial-aggregated shuffle, the blocklist
    * is a broadcast anti-join (never a NOT-IN subquery execution), part
    * broadcasts, and the count-distinct rolls up per attribute triple. */
  def tpchQ16(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    val blocked = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    pairs
      .join(broadcast(blocked),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(Tables.part(spark, dir)
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO"
          && col("p_size").isin(1, 4, 9, 14, 19, 24, 28, 35))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** q_tpch_q20 (excess-supply suppliers): suppliers in one region who
    * shipped a large quantity of a name-filtered part family inside one
    * year — TPC-H Q20's nested IN-over-grouped-HAVING-over-IN shape on
    * the fact-derived supply. Quantity sums are exact integers, so the
    * HAVING threshold is ULP-proof. Plan shape: the part filter
    * broadcasts into the fact scan (with the pushed date range), the
    * per-(supp, part) HAVING is one partial agg, and the supplier list
    * semi-joins the dimension — each IN is a semi-join, never a
    * subquery loop. NO broadcast hint on `sel`: it is FACT-derived
    * (lineitem → HAVING → distinct suppkey), and the house rule from
    * the q9 100× spot catch (SCALE.md round-13) is to hint-broadcast
    * only true dimensions and let AQE size derived aggregates at
    * runtime — AQE still broadcasts this frame at every tested scale
    * (BenchOne before/after flat: 0.788 → 0.731 s min). */
  def tpchQ20(spark: SparkSession, dir: String,
      minQty: Long = 40): DataFrame = {
    val sel = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(Tables.part(spark, dir)
        .filter(col("p_name").like("blue%")).select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("qty"))
      .filter(col("qty") > minQty)
      .select(col("l_suppkey")).distinct()
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .filter(col("n_regionkey") === 2)),
        col("s_nationkey") === col("n_nationkey"))
      .join(sel, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_name"), round(col("s_acctbal"), 4).as("s_acctbal"),
        col("n_name"))
      .orderBy(col("s_name"))
  }
}
