package graft

import org.apache.spark.sql.functions._

import graft.operators._

/** Physical-plan assertions: the plans we'd want at 100 TB, not just plans
  * that happen to pass. Filters/projections must reach the parquet scan,
  * dimension joins must broadcast, aggregates must partial-aggregate, and
  * ordered limits must avoid global sorts.
  */
class PlanQualitySpec extends SparkTestBase {

  // sparkPlan (pre-AQE) keeps full FileScan detail (PushedFilters/ReadSchema);
  // executedPlan wraps everything in AdaptiveSparkPlan and truncates scans.
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.sparkPlan.toString

  test("filter pushes down to the parquet scan") {
    val p = plan(RelationalOps.filterNe(spark, sf))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(l_quantity)"), p)
  }

  test("column pruning: derivedName scans only the two needed columns") {
    val p = plan(RelationalOps.derivedName(spark, sf))
    // timestamp vs timestamp_ntz depends on the parquet writer's UTC flag
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderdate:timestamp"), p)
  }

  test("chunkedAgg partial-aggregates before the shuffle") {
    val df = RelationalOps.chunkedAgg(spark, sf)
    val p = plan(df)
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
    assert(df.queryExecution.executedPlan.toString.contains("WholeStageCodegen")
      || p.contains("HashAggregate"), p)
    // shipdate predicate reaches the scan
    assert(p.contains("PushedFilters"), p)
  }

  test("scanLimit plans TakeOrderedAndProject, not a global sort") {
    val p = plan(RelationalOps.scanLimit(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("joinAgg broadcasts dimensions; fact join shuffles on its key") {
    val p = plan(JoinOps.joinAgg(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("schemaOnly prunes to an empty scan") {
    val p = plan(RelationalOps.schemaOnly(spark, sf))
    assert(!p.contains("FileScan parquet") || p.contains("LocalTableScan")
      || p.contains("Limit 0") || RelationalOps.schemaOnly(spark, sf).count() == 0)
  }

  test("chunkDocs prunes the scan to (doc_id, text) through the explode") {
    val p = plan(CorpusOps.chunkDocs(spark, sf))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("vocabTopK partial-aggregates and takes an ordered limit") {
    val p = plan(CorpusOps.vocabTopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("sampleByHash scans only the projected columns") {
    val p = plan(CorpusOps.sampleByHash(spark, sf))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"), p)
  }

  test("udafStats runs the typed Aggregator with partial aggregation") {
    val p = plan(AnalyticsOps.udafStats(spark, sf))
    // ObjectHashAggregate/SortAggregate with a partial phase before the
    // exchange — the UDAF must not force a single-node aggregate
    assert(p.contains("Aggregate"), p)
    assert(p.contains("partial"), p)
  }

  test("topK rank filter plans WindowGroupLimit (bounded per-group state)") {
    // Catalyst's InferWindowGroupLimit turns row_number()<=k into a
    // bounded per-group limit BEFORE the full window sort — each partition
    // keeps k rows per group instead of sorting everything. Every per-group
    // top-k in the library rides this path.
    val p = plan(JoinOps.topK(spark, sf))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("per-group top-k: a Partial WindowGroupLimit below the group-key " +
      "exchange, a Final one above it") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    def on(key: String, exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      exprs.exists { case a: Attribute => a.name == key; case _ => false }
    for ((q, key) <- Seq("q_sim_topk" -> "q_id", "q_sim_ivf" -> "q_id",
        "q_topk_custom" -> "o_orderpriority")) {
      // the executed plan before AQE runs: exchanges are in place
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      assert(!p.toString.contains("TopKPerGroup"), s"$q:\n$p")
      val finals = p.collect {
        case w: WindowGroupLimitExec
            if w.mode == window.Final && on(key, w.partitionSpec) => w
      }
      assert(finals.size == 1, s"$q: one Final limit on $key\n$p")
      if (q == "q_sim_ivf") {
        // the checkpointed IVF cells broadcast by their size, so the join
        // keeps the probes' partitioning (q_id is vec_id): the scored rows
        // reach the Final limit without any shuffle, which beats a Partial
        // limit before one
        val join = finals.head.collectFirst {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
        }
        assert(join.nonEmpty, s"$q: the candidate join broadcasts\n$p")
        val above = finals.head.collect { case e: ShuffleExchangeExec => e }
          .filterNot(e => join.get.exists(_ eq e))
        assert(above.isEmpty, s"$q: no shuffle between the join and the limit\n$p")
      } else {
        val exchange = finals.head.collectFirst { case e: ShuffleExchangeExec => e }
        assert(exchange.exists(_.outputPartitioning match {
          case h: HashPartitioning => on(key, h.expressions)
          case _ => false
        }), s"$q: the Final limit's input shuffles on $key\n$p")
        assert(exchange.get.child.exists {
          case w: WindowGroupLimitExec =>
            w.mode == window.Partial && on(key, w.partitionSpec)
          case _ => false
        }, s"$q: a Partial limit on $key runs before the exchange\n$p")
      }
    }
  }

  test("structFuncs arg-max plans one partial-aggregated MAX, no window") {
    val p = plan(AnalyticsOps.structFuncs(spark, sf))
    assert(!p.contains("Window"), p)
    assert(p.contains("partial"), p)
    // scan prunes to the four columns the struct needs
    assert(p.contains(
      "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_extendedprice:double>"), p)
  }

  test("subqueryAgg broadcasts the one-row aggregate (no shuffle of orders)") {
    val p = plan(AnalyticsOps.subqueryAgg(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("crossGrid: the deliberate cartesian broadcasts its grid side") {
    val p = plan(AnalyticsOps.crossGrid(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sourceOverlap: the per-source count grid broadcasts, never shuffles") {
    val p = plan(CorpusOps.sourceOverlap(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dsir: bucket model rides a broadcast join; gram stream partial-aggregates") {
    // assert on the scoring stage pre-materialization (the barrier in
    // dsir() collapses the upstream plan to an RDD scan)
    val p = plan(CorpusOps.dsirKeyed(spark, sf))
    // the <=1024-row log-ratio model must broadcast onto the per-doc
    // bucket counts — a shuffle here would re-partition the corpus by
    // bucket id for a 1024-row dimension
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("CartesianProduct"), p)
    // round 16: the percentile cut is computed via ExactPercentile and
    // inlined as a LITERAL — the declared plan has no join at all (and
    // no O(n)-state percentile aggregate)
    val full = plan(CorpusOps.dsir(spark, sf))
    assert(!full.contains("Join"), full)
    assert(!full.contains("percentile("), full)
  }

  test("doremi: both grid crosses broadcast; no cartesian") {
    val p = plan(CorpusOps.doremi(spark, sf))
    // the 1-row baseline and the 1-row softmax normalizer both ride
    // BroadcastNestedLoopJoin onto |domains|-row frames
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpchQ4: EXISTS compiles to LeftSemi with the window pushed to the orders scan") {
    val p = plan(JoinOps.tpchQ4(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("o_orderdate"), p)
    // the date window reaches the orders parquet scan as a pushed filter
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), " +
      "GreaterThanOrEqual(o_orderdate,") ||
      p.contains("GreaterThanOrEqual(o_orderdate,"), p)
  }

  test("phashDedup: banded equality join, no cartesian") {
    val p = plan(MultimodalOps.phashDedup(spark, sf))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("outerJoin plans a full-outer shuffle join with pre-reduced right side") {
    val p = plan(JoinOps.outerJoin(spark, sf))
    assert(p.contains("FullOuter"), p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
    // balance filter reaches the customer scan
    assert(p.contains("GreaterThan(c_acctbal,5000"), p)
  }

  test("havingAgg filters post-aggregation, not on the scan") {
    val df = AnalyticsOps.havingAgg(spark, sf)
    val p = plan(df)
    assert(p.contains("partial_count") || p.contains("partial"), p)
    // the HAVING predicate must sit above the final aggregate, so the scan
    // reads only the two aggregation inputs with no pushed value filter
    assert(p.contains("ReadSchema: struct<o_custkey:bigint,o_totalprice:double>"), p)
  }

  test("dedupEmbed reads the table inside the plan (no driver collect)") {
    val df = DedupOps.dedupEmbed(spark, sf)
    val p = plan(df)
    // the round-3 kernel collected the table at DataFrame construction and
    // planned only a Range over indices; the blocked pass must scan parquet
    // and run the pair kernel as a distributed grouped map
    assert(p.contains("FileScan parquet") || p.contains("Scan parquet"), p)
    assert(p.contains("MapGroups"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("vocabCoverage windows only the top-k take, never the full vocabulary") {
    val df = CorpusOps.vocabCoverage(spark, sf)
    val p = plan(df)
    // top-k via ordered take; the running sum is a rank-prefix self-join
    // over those k rows — NO Window anywhere, so no single-partition
    // global sort of the vocabulary can sneak in
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), p)
  }

  test("repetitionStats partial-aggregates both hops; scan prunes to (doc_id, text)") {
    val p = plan(TextOps.repetitionStats(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    // never a window or per-doc loop: two HashAggregates and nothing else
    assert(!p.contains("Window"), p)
  }

  test("upsert plans one anti-join shuffle and no cartesian anywhere") {
    val p = plan(RelationalOps.upsertOrders(spark, sf))
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("Cartesian"), p)
  }

  test("stratifiedSample is a pure scan: no exchange before the output sort") {
    val df = CorpusOps.stratifiedSample(spark, sf)
    val p = plan(df)
    // exactly the range-partitioning exchange for the final orderBy
    assert(p.split("Exchange").length - 1 <= 1, p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"), p)
  }

  test("segmentDedup: two agg shuffles, no window, no join to the exploded table") {
    val p = plan(CorpusOps.segmentDedup(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_min"), p)
    assert(!p.contains("Window"), p)
    // the per-doc totals side scans only (doc_id, text): the exploded
    // segment table never appears on the probe side of the final join
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("repeatedNgrams: explode + partial agg + ordered take, nothing else") {
    val p = plan(CorpusOps.repeatedNgrams(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("shardAssign: a pure scan into a 16-group aggregate") {
    val p = plan(CorpusOps.shardAssign(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("cooccurPmi: vocab sides broadcast; only the doc-pair join shuffles") {
    val p = plan(CorpusOps.cooccurPmi(spark, sf, vocabK = 20, k = 30))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Cartesian"), p)
    // exactly one non-broadcast join: the in-document self-join on doc_id
    val shuffleJoins = "(SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(p).length
    assert(shuffleJoins <= 1, p)
  }

  test("cleanPipeline: narrow predicates, min_by dedup, no window, no cartesian") {
    val p = plan(CorpusOps.cleanPipeline(spark, sf))
    assert(!p.contains("Window") && !p.contains("Cartesian"), p)
    assert(p.contains("partial_count") || p.contains("partial_min_by")
      || p.contains("min_by"), p)
  }

  test("dedupIncremental: bloom probe rides the batch scan; anti join present") {
    val p = plan(DedupOps.dedupIncremental(spark, sf))
    assert(p.contains("bloom_might_contain"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("Cartesian"), p)
  }

  test("simhashHammingPairs: hashed-band equality join, no cartesian") {
    val p = plan(DedupOps.dedupSimhashPairs(spark, sf))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("unigramLogprob: partial-aggregated vote hops, no cartesian blowup") {
    // (the materialized token stream hides the FileScan from this plan, so
    // no ReadSchema assert — scan pruning is covered by repetitionStats,
    // which tokenizes the same columns without a Materialize boundary)
    // post-rewrite the materialized stream is pre-aggregated (doc_id,
    // token, cnt), so every visible agg hop is a partial_sum over counts
    val p = plan(TextOps.unigramLogprob(spark, sf))
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("Cartesian"), p)
  }

  test("knnLabel: probe side broadcasts; no global sort before the vote") {
    val p = plan(SimilarityOps.knnLabel(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(p.contains("WindowGroupLimit") || p.contains("RunningWindowFunction")
      || p.contains("Window"), p)
  }

  test("semDedup: within-cell equality join only, no cross product") {
    val p = plan(DedupOps.semDedupQuery(spark, sf))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("winsorize: driver-literal bounds (no join at all); fact side aggregates partially") {
    val p = plan(AnalyticsOps.winsorize(spark, sf))
    assert(!p.contains("Join"), p) // round 15: bounds inlined as literals
    assert(p.contains("partial_avg") || p.contains("partial_count"), p)
  }

  test("tokenEntropy: both agg hops partial-aggregate; scan prunes to (doc_id, text)") {
    val p = plan(TextOps.tokenEntropy(spark, sf))
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(!p.contains("Cartesian"), p)
  }

  test("temperatureMix / splitReport / labelBalance: tiny totals broadcast, no window") {
    for (df <- Seq(CorpusOps.temperatureMix(spark, sf),
        CorpusOps.splitReport(spark, sf),
        SimilarityOps.labelBalance(spark, sf))) {
      val p = plan(df)
      assert(p.contains("Broadcast"), p) // 1-or-few-row totals side
      assert(!p.contains("WindowExec") && !p.contains("Window "), p)
    }
    // labelBalance never reads the vectors: pruned to the label column
    val lb = plan(SimilarityOps.labelBalance(spark, sf))
    assert(lb.contains("ReadSchema: struct<label:int>"), lb)
  }

  test("zscoreAnomaly: stats side broadcast; hourly rollup partial-aggregates") {
    val p = plan(EventOps.zscoreAnomaly(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_avg"), p)
  }

  test("lagFeatures: all three frames share ONE window exec over one sort") {
    val p = plan(EventOps.lagFeatures(spark, sf))
    assert("(?m)^\\s*[+:i]*-? *Window".r.findAllIn(p).size <= 2, p)
    // partitioned by user_id — never a global single-partition window
    assert(p.contains("user_id"), p)
  }

  test("groupZscore / zscoreAnomaly share the stats-broadcast shape") {
    val p = plan(AnalyticsOps.groupZscore(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_avg") || p.contains("partial_count"), p)
  }

  test("benfordProfile: 9-group partial agg + one-row total broadcast") {
    val p = plan(AnalyticsOps.benfordProfile(spark, sf))
    assert(p.contains("Broadcast"), p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("autocorrHourly: window runs partitioned over the post-agg series") {
    val p = plan(EventOps.autocorrHourly(spark, sf))
    // the lag window is partitioned by event_type — no global single
    // partition sort over raw events
    assert(p.contains("Window"), p)
    assert(p.contains("partitionBy") || p.contains("event_type"), p)
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
  }

  test("nullProfile: all columns profile in ONE scan (Expand, single FileScan)") {
    val p = plan(RelationalOps.nullProfile(spark, sf))
    assert(p.contains("Expand"), p) // multi-distinct rewrite
    assert("FileScan".r.findAllIn(p).size == 1, p)
  }

  test("chiSquareCrosstab: margin sides broadcast onto the cell agg") {
    val p = plan(AnalyticsOps.chiSquareCrosstab(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p) // totals never merge-join
  }

  test("percentileProfile: bounded-state profile, no O(n) percentile buffer") {
    val df = AnalyticsOps.percentileProfile(spark, sf)
    val p = plan(df)
    // round 16: the exact profile comes from ExactPercentile (bounded
    // sketch+bracket passes at construction); the declared plan is a
    // partial-aggregated count + a broadcast join of the driver-built
    // per-lang cut rows — no ObjectHashAggregate percentile buffer, no
    // Window
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_count") || p.contains("partial_"), p)
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("WindowExec"), p)
  }

  test("embedDimStats: posexplode into partial agg, |dims| output rows") {
    val p = plan(SimilarityOps.embedDimStats(spark, sf))
    assert(p.contains("Generate"), p) // posexplode
    assert(p.contains("partial_count") || p.contains("partial_avg"), p)
    assert(!p.contains("WindowExec") && !p.contains("Cartesian"), p)
  }

  test("funnel3: per-step joins on user_id; one-pass totals aggregate") {
    // pre-barrier frame (the declared query is barrier + 3-row union)
    val p = plan(EventOps.funnel3Totals(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    // all three step counts come from ONE aggregate over the left-joined
    // per-user min frames — not three crossJoined scalar counts (the r10
    // audit's double-execution fix)
    assert(p.contains("partial_count(v_us") && p.contains("partial_count(c_us")
      && p.contains("partial_count(p_us"), p)
    assert(p.contains("partial_min"), p)
  }

  test("rankEval: dcg × idcg is a hinted 1-row broadcast cross, no cartesian") {
    val p = plan(RetrievalOps.rankEval(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("jaroWinklerPairs: block-equality candidates + ordered take, no cartesian") {
    val p = plan(AnalyticsOps.jaroWinklerPairs(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("jaro_winkler"), p) // the native expression, not a UDF
  }

  test("sparseSimPairs: term-equality candidates only; signature window per doc") {
    val p = plan(SimilarityOps.sparseSimPairs(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    // signature selection is a per-doc window, never a global one
    assert(p.contains("doc_id"), p)
  }

  test("weeklyProfile / jsDivergence: bounded rollups, broadcast totals, no window") {
    for (df <- Seq(EventOps.weeklyProfile(spark, sf),
        CorpusOps.jsDivergence(spark, sf))) {
      val p = plan(df)
      assert(p.contains("Broadcast"), p)
      assert(!p.contains("WindowExec") && !p.contains("CartesianProduct"), p)
      assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    }
  }

  test("eventPaths: WindowGroupLimit pre-cap bounds per-user state") {
    val p = plan(EventOps.eventPaths(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("Cartesian"), p)
  }

  test("bm25TopK: no explode, 1-row stats broadcast, ordered take") {
    val p = plan(RetrievalOps.bm25TopK(spark, sf))
    // per-term tfs are narrow array expressions — no (doc, token) explode,
    // no (doc, token) shuffle; corpus stats come back as a broadcast
    assert(!p.contains("Generate"), p)
    assert(p.contains("Broadcast"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Cartesian"), p)
  }

  test("rrfFusion: both rankings cut with ordered takes before the windows") {
    val p = plan(RetrievalOps.rrfFusion(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    // the only Window ops run over the ≤50-row post-limit sides
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("Cartesian") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("gopherRules / readability: single scan into a partial aggregate") {
    Seq(TextOps.gopherRules(spark, sf), TextOps.readability(spark, sf))
      .foreach { df =>
        val p = plan(df)
        assert(p.split("FileScan").length == 2, p) // exactly one scan
        assert(p.contains("partial_count") || p.contains("partial_sum"), p)
        assert(!p.contains("WindowExec"), p)
      }
  }

  test("emaValue: WindowGroupLimit caps per-user state before the fold") {
    val p = plan(EventOps.emaValue(spark, sf))
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("Cartesian"), p)
  }

  test("welchTTest: one partial-agg scan, tiny pair grid via broadcast") {
    val p = plan(AnalyticsOps.welchTTest(spark, sf))
    assert(p.contains("partial_count") || p.contains("partial_avg")
      || p.contains("HashAggregate"), p)
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("WindowExec") && !p.contains("SortMergeJoin"), p)
  }

  test("psiSource: bounded aggregations + broadcast grid, no window") {
    val p = plan(CorpusOps.psiSource(spark, sf))
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("WindowExec"), p)
    assert(!p.contains("Generate"), p) // no explode anywhere
  }

  test("knnConfusion: probe filter pushes to the scan; bounded window only") {
    val p = plan(SimilarityOps.knnConfusion(spark, sf))
    // probe/train split reaches the parquet scan as a pushed filter
    assert(p.contains("PushedFilters"), p)
    assert(!p.contains("Cartesian") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sql surface: same query via spark.sql yields same result") {
    GraftSession.openTables(spark, sf)
    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus, round(SUM(l_quantity), 4) AS sum_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin).collect()
    val viaApi = RelationalOps.chunkedAgg(spark, sf)
      .select("l_returnflag", "l_linestatus", "sum_qty").collect()
    assert(viaSql.sameElements(viaApi))
  }

  test("graph family: no wedge shuffle in triangles, no cartesian anywhere") {
    // pre-barrier frame (round 15): the declared query reads the
    // session-shared nodeTriangles checkpoint, so assert on the builder
    val pt = plan(GraphOps.nodeTriangles(spark, sf))
    // the adjacency-intersection plan: pair explode (Generate) + joins on
    // u/v keys — never a CartesianProduct or BroadcastNestedLoopJoin
    assert(!pt.contains("CartesianProduct"), pt)
    assert(!pt.contains("BroadcastNestedLoop"), pt)
    assert(pt.contains("Generate"), pt)
    val pp = plan(GraphOps.pageRank(spark, sf))
    assert(!pp.contains("CartesianProduct"), pp)
    // lineitem scan prunes to the two graph columns (checked on the edge
    // builder — the downstream plans sit behind Materialize boundaries)
    val pe = plan(GraphOps.copurchaseEdges(spark, sf))
    assert(pe.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>"), pe)
  }

  test("ks/mannwhitney: value-compressed windows, no raw-row window") {
    val p = plan(StatOps.ksTest(spark, sf))
    // the Window must sit ABOVE an aggregation (value-compressed), and the
    // documents scan prunes to (source, n_chars)
    assert(p.contains("ReadSchema: struct<source:string,n_chars:bigint>"), p)
    assert(p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("scd2 windows partition by the dimension key (no global window)") {
    val p = plan(RelationalOps.scd2(spark, sf))
    assert(p.contains("Window"), p)
    // every window partitions by user_id — no empty partition spec
    assert(!p.matches("(?s).*Window \\[[^\\]]*windowspecdefinition\\(unix[^,]*, event_id.*"), p)
  }

  test("declared shared-artifact consumers keep sane post-checkpoint plans") {
    // round-16 advisor: assert on the DECLARED outputs too, not only the
    // shared builders — a regression introduced BETWEEN the session
    // checkpoint and the declared output (a rogue cartesian, a global
    // window) must fail a test even though the builder plans are clean
    for (q <- Seq("q_knn_graph", "q_triangles", "q_graph_lpa",
        "q_modularity", "q_pq_ann")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      // 1-row broadcast crosses (modularity's scalar m) are legitimate
      // BroadcastNestedLoopJoins; only an unbroadcast cartesian is banned
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
    // knnGraph's declared output is a Sort over the checkpointed artifact
    val pk = plan(SparkEntry.queries("q_knn_graph")(spark, sf))
    assert(pk.contains("Sort"), pk)
  }

  test("hardNegatives broadcasts the probe side of the non-equi join") {
    val p = plan(SimilarityOps.hardNegatives(spark, sf))
    // label≠label is a non-equi join: the correct shape is a nested-loop
    // with the (tiny) probe side broadcast — never a CartesianProduct of
    // two unbroadcast sides
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("frameSample is a narrow scan + generate (no exchange before sort)") {
    val p = plan(MultimodalOps.frameSample(spark, sf))
    assert(p.contains("Generate"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("zorder derives keys on the scan and partial-aggregates") {
    val p = plan(RelationalOps.zorderLayout(spark, sf))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("ReadSchema: struct<o_totalprice:double,o_orderdate:timestamp"), p)
  }

  test("tpchQ3: date predicates push into BOTH fact scans; ordered limit") {
    val p = plan(JoinOps.tpchQ3(spark, sf))
    // both scans carry a pushed timestamp filter INSIDE PushedFilters —
    // a post-scan Filter mentioning the predicate must not satisfy this
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("tpchQ18: first pass partial-aggregates; dims broadcast") {
    val p = plan(JoinOps.tpchQ18(spark, sf))
    assert(p.contains("partial_sum"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("removeDupSpans caps the gram semi-join with a shuffled hash build") {
    val df = CorpusOps.removeDupSpans(spark, sf)
    val p = plan(df)
    // the dup-gram set builds on the right of the semi join (a left-side
    // build is unsatisfiable for LeftSemi and silently degrades to SMJ);
    // at test SF the tiny dup set may broadcast instead - both are fine,
    // sort-merge is not
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("SortMergeJoin LeftSemi"), p)
    // no pairwise/cartesian shape anywhere in the span cleaner
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("ngramJaccardTopPairsCapped probes the heavy set as a broadcast anti-join") {
    // the capped operator materializes the surviving shingles (self-join
    // lineage), which hides the cap step from the final lazy plan - audit
    // the exposed cap step directly: the df-cap must ride the exploded
    // scan as a broadcast probe, not re-shuffle the exploded fact table
    // against a rare-set as large as itself
    import spark.implicits._
    val ex = Seq((1L, 10L), (2L, 10L), (3L, 11L)).toDF("doc_id", "shingle")
    val p = plan(DedupOps.capHeavyShingles(ex, 16))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    // and the final pair join stays a shuffled hash join, never cartesian
    val pf = plan(DedupOps.dedupNgramCapped(spark, sf))
    assert(pf.contains("ShuffledHashJoin"), pf)
    assert(!pf.contains("CartesianProduct"), pf)
  }

  test("salted editDistancePairs keeps TakeOrdered and gains the salt key") {
    val df = AnalyticsOps.editDistancePairs(spark, sf)
    val p = plan(df)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("salt"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpchQ10: predicates push to both fact scans; nation broadcasts; ordered limit") {
    val p = plan(JoinOps.tpchQ10(spark, sf))
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("IsNotNull(l_returnflag)")
      || p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ngramContainment: shuffled-hash pair join, top-k without global sort") {
    val pf = plan(DedupOps.dedupContainment(spark, sf))
    assert(pf.contains("ShuffledHashJoin"), pf)
    assert(pf.contains("TakeOrderedAndProject"), pf)
    assert(!pf.contains("CartesianProduct"), pf)
  }

  test("splitLeakage: one train-eval equality join, no eval-eval pairing") {
    val pf = plan(CorpusOps.splitLeakage(spark, sf))
    // exactly one shuffled-hash shingle join (train x eval); the report
    // joins are tiny (per-split aggregates, broadcastable)
    assert(pf.contains("ShuffledHashJoin"), pf)
    assert(!pf.contains("CartesianProduct"), pf)
  }

  test("tokenFertility prunes to (lang, text) and partial-aggregates") {
    val p = plan(TextOps.tokenFertility(spark, sf))
    assert(p.contains("ReadSchema: struct<text:string,lang:string>")
      || p.contains("ReadSchema: struct<lang:string,text:string>"), p)
    assert(p.contains("partial_"), p)
  }

  test("typeTokenRatio: both aggregation hops partial-aggregate") {
    val p = plan(TextOps.typeTokenRatio(spark, sf))
    assert(p.contains("ReadSchema: struct<text:string,source:string>")
      || p.contains("ReadSchema: struct<source:string,text:string>"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("Exchange rangepartitioning") ||
      p.indexOf("Exchange rangepartitioning") >
        p.indexOf("HashAggregate"), p) // only the final orderBy range-sorts
  }

  test("embedPca: the moment pass is one scan-side partial aggregate") {
    // audit the distributed half (the eigensolve is driver-side by
    // design): one FileScan, vector_average partials before the exchange
    val emb = graft.Tables.embeddings(spark, sf)
    val dim = SimilarityOps.EmbeddingDim
    val nUp = dim * (dim + 1) / 2
    val upper = expr(
      s"flatten(transform(sequence(0, ${dim - 1}), i -> " +
        s"transform(sequence(i, ${dim - 1}), j -> " +
        "cast(embedding[i] as double) * cast(embedding[j] as double))))")
    val agg = emb.select(col("embedding"), upper.as("up"))
      .agg(graft.functions.VectorFunctions.vectorAvg(col("embedding"), dim)
        .as("mu"),
        graft.functions.VectorFunctions.vectorAvg(col("up"), nUp).as("moment"))
    val p = plan(agg)
    assert(p.contains("partial_vector_average")
      || p.contains("partial vector_average")
      || (p.contains("vector_average") && p.contains("Exchange SinglePartition")), p)
    assert(p.contains("ReadSchema: struct<embedding:array<float>>"), p)
  }

  test("tpchQ6: all three predicates push to the scan; no join, no sort") {
    // formatted explain keeps the full PushedFilters list (plain toString
    // truncates it)
    val p = JoinOps.tpchQ6(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate")
      && p.contains("LessThan(l_shipdate"), p)
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)")
      && p.contains("LessThanOrEqual(l_discount,0.07)"), p)
    assert(p.contains("LessThan(l_quantity,24.0)"), p)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Sort "), p)
    // only the four needed columns are read
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_shipdate:timestamp"), p)
  }

  test("tpchQ7: nation broadcasts twice; ship-year band reaches the scan") {
    val p = plan(JoinOps.tpchQ7(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p) // supp/cust/n1/n2
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("partial"), p) // partial agg before the exchange
  }

  test("tpchQ22: anti join with the cutoff pushed into the orders scan") {
    val p = JoinOps.tpchQ22(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate,2000-01-01"), p)
    // orders side pruned to the join key + the filter column (the scan
    // needs o_orderdate to evaluate the pushed cutoff; everything else
    // is pruned)
    assert(p.contains("ReadSchema: struct<o_custkey:bigint,o_orderdate:timestamp"), p)
  }

  test("thetaAudience: sketch agg partial-aggregates over a pruned scan; " +
      "pair grid reads the materialized sketch table, not the facts") {
    // the aggregation stage (what actually touches the facts)
    val aggPlan = plan(graft.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(theta_sketch_agg(col("user_id")).as("sk")))
    assert(aggPlan.contains("theta_sketch_agg"), aggPlan)
    assert(aggPlan.contains("partial"), aggPlan) // binaries merge post-shuffle
    assert(aggPlan.contains("ReadSchema: struct<user_id:bigint,event_type:string>")
      || aggPlan.contains("ReadSchema: struct<event_type:string,user_id:bigint>"),
      aggPlan)
    // the full query's pair grid must NOT re-scan the fact table: the
    // materialized per-type sketch table feeds both self-join sides
    val p = plan(SketchOps.thetaAudience(spark, sf))
    assert(!p.contains("FileScan"), p)
  }

  test("datasetCard: single scan, partial aggregation, no shuffle-heavy ops") {
    val p = plan(CorpusOps.datasetCard(spark, sf))
    assert("FileScan".r.findAllIn(p).size == 1, p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Join"), p)
  }

  test("skyline: distinct-point reduction aggregates BEFORE the sweep window") {
    val p = plan(AnalyticsOps.skyline(spark, sf))
    // phase 1 (domain reduction) must appear below the Window in the plan:
    // the sweep sees aggregated points, never raw part rows
    assert(p.contains("Window") && p.contains("HashAggregate"), p)
    assert(p.indexOf("Window") < p.indexOf("HashAggregate"), p)
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_size:int," +
      "p_retailprice:double>"), p)
  }

  test("mutualInfo: marginals derive from the materialized cells — the " +
      "final plan never re-scans the documents table") {
    val p = plan(CorpusOps.mutualInfo(spark, sf))
    assert(!p.contains("FileScan"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tpchQ1: cutoff pushes to the scan; partial agg; no join") {
    val p = JoinOps.tpchQ1(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("partial"), p)
    assert(!p.contains("Join"), p)
    // exactly the 7 needed columns reach the scan (no l_orderkey etc.)
    assert(p.contains("ReadSchema: struct<l_quantity:double," +
      "l_extendedprice:double,l_discount:double,l_tax:double," +
      "l_returnflag:string,l_linestatus:string,l_shipdate:timestamp"), p)
  }

  test("tpchQ5: only lineitem⋈orders shuffles; four broadcasts; year band pushed") {
    val p = plan(JoinOps.tpchQ5(spark, sf))
    // customer, supplier, nation⋈region all broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the c_nationkey = s_nationkey residual must ride a hash join (as key
    // or condition), not degrade the whole topology to nested-loop
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpchQ8: part filter broadcasts pre-shrunk; share is one conditional agg") {
    val p = plan(JoinOps.tpchQ8(spark, sf))
    assert(p.contains("EqualTo(p_type,ECONOMY)"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    // numerator+denominator in ONE aggregate: no self-join of the fact side
    assert("SortMergeJoin".r.findAllIn(p).size
      + "ShuffledHashJoin".r.findAllIn(p).size <= 1, p)
    assert(p.contains("partial"), p)
  }

  test("tpchQ13: orders scan pruned to (custkey, orderkey); both aggs partial") {
    val p = plan(JoinOps.tpchQ13(spark, sf))
    assert(p.contains("ReadSchema: struct<o_custkey:bigint,o_orderkey:bigint>")
      || p.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>"), p)
    assert(p.contains("ReadSchema: struct<c_custkey:bigint>"), p)
    assert(p.contains("partial_count"), p)
  }

  test("tpchQ15: the quarter revenue table materializes once — the final " +
      "plan reads the cached table, not the fact file") {
    val df = JoinOps.tpchQ15(spark, sf)
    val p = plan(df)
    // both the max subquery and the probe consume the materialized revenue
    // table; lineitem must not be re-scanned in the final plan
    assert(!p.contains("FileScan parquet") ||
      !p.contains("lineitem"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("tpchQ17: per-part averages come from the broadcast-pruned slice; " +
      "no shuffle of the full fact table") {
    val p = plan(JoinOps.tpchQ17(spark, sf))
    // the slice is materialized; the final plan joins it against the tiny
    // per-part aggregate via broadcast — no sort-merge anywhere
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("tpchQ19: ONE broadcast join carries all three disjuncts as a residual") {
    val df = JoinOps.tpchQ19(spark, sf)
    // sparkPlan for operator counting (formatted explain lists each node
    // twice: once in the tree, once in the numbered detail section)
    val p = plan(df)
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Union"), p)
    // implied quantity bounds push into the fact scan
    val pf = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(pf.contains("GreaterThanOrEqual(l_quantity,1.0)")
      && pf.contains("LessThanOrEqual(l_quantity,40.0)"), pf)
  }

  test("skipAudit: ONE pruned scan feeds all three layout keys; no window") {
    val df = RelationalOps.skipAudit(spark, sf)
    val p = plan(df)
    assert("Scan parquet".r.findAllIn(p).size <= 1
      && "FileScan parquet".r.findAllIn(p).size <= 1, p)
    assert(p.contains("ReadSchema: struct<o_totalprice:double,o_orderdate:timestamp"), p)
    assert(!p.contains("Window"), p)
  }

  test("ohlc: single-pass partial aggregate, no window, no join") {
    val p = plan(EventOps.ohlc(spark, sf))
    assert(p.contains("partial_min") && p.contains("partial_max"), p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert(p.contains("ReadSchema: struct<event_id:bigint,ts:timestamp"), p)
  }

  test("skewAudit: per-key and per-bucket aggregates both partial-aggregate") {
    val p = plan(JoinOps.skewAudit(spark, sf))
    assert("partial_count|partial_sum".r.findAllIn(p).nonEmpty, p)
    assert(p.contains("BroadcastNestedLoopJoin")
      || p.contains("BroadcastExchange"), p) // 1-row totals broadcast
    assert(!p.contains("Window"), p)
  }

  test("tpchQ21: correlated EXISTS/NOT-EXISTS run as per-order aggregates") {
    val p = plan(JoinOps.tpchQ21(spark, sf))
    // round 16b: the fact never shuffles un-aggregated — the EXISTS is a
    // partial-aggregated min/max supplier span and the NOT-EXISTS a
    // count-1 late-pair rollup; the old fact-probing anti join is gone
    assert(p.contains("partial_min(l_suppkey") &&
      p.contains("partial_max(l_suppkey"), p)
    // the NOT-EXISTS side is the __nlate count-1 rollup: one partial
    // aggregate per order counting late pairs next to the pinned suppkey,
    // kept where the count is exactly 1 (the final numwait count(1) per
    // supplier would satisfy a bare partial_count(1) check on its own)
    assert(p.contains("functions=[partial_count(1), partial_min(l_suppkey"), p)
    assert("__nlate#\\d+L = 1\\)".r.findFirstIn(p).nonEmpty, p)
    assert(!p.contains("LeftAnti"), p)
  }

  test("dpTopK: ordered limit is a TakeOrderedAndProject over the vocab agg") {
    val p = plan(StatOps.dpTopK(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("ReadSchema: struct<text:string>"), p)
  }

  test("labelPropagation: no per-round window; edges grouped once") {
    // pre-barrier frame (round 15): the declared query reads the shared
    // lpaLabels checkpoint, so assert on the label builder itself
    val p = plan(GraphOps.lpaLabels(spark, sf, 3))
    assert(!p.contains("Window"), p)
    // the vote argmax is a struct max aggregate, not a rank window
    assert(p.contains("max(top") || p.contains("partial_max"), p)
  }

  /** Runs `body` with AQE off so the STATIC ReuseExchange rule marks
    * deduplicated stages in the executed plan (with AQE on, reuse happens
    * at runtime and the pre-execution plan never shows it). */
  private def withAqeOff[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("funnel3: one-pass totals — 3 event scans, per-step aggregates reused") {
    withAqeOff {
      // pre-barrier frame: the Materialize in funnel3() collapses the
      // declared query's plan to an RDD scan
      val p = EventOps.funnel3Totals(spark, sf)
        .queryExecution.executedPlan.toString
      // exactly one scan per step filter (view/click/purchase): the r10
      // audit caught the crossJoin form re-running the click and purchase
      // joins per union branch (6+ scans of the event log)
      assert("FileScan parquet".r.findAllIn(p).size == 3, p)
      // v's min-aggregate (c's build side = the root's left side) and c's
      // (p's build side = the root's mid side) must each plan ONCE
      assert("ReusedExchange".r.findAllIn(p).size >= 2, p)
      assert(!p.contains("CartesianProduct"), p)
    }
  }

  test("plan-reuse audit: every duplicated join/agg subtree in funnel3 is physically rescued") {
    withAqeOff {
      val df = EventOps.funnel3Totals(spark, sf)
      val dups = PlanReuseAudit.duplicatedSubtrees(df.queryExecution.optimizedPlan)
      // per-SHAPE coverage: each duplicated shape must have at least one
      // physical reuse node. (Σ(occ−1) over-counts here: an occurrence
      // nested inside another reused subtree is covered by that reuse —
      // v's aggregate appears 3× but its occurrence inside the reused c
      // stage costs nothing. The sharp single-execution pin is the
      // 3-scans assertion above.)
      val reuse = PlanReuseAudit.physicalReuse(df.queryExecution.executedPlan)
      assert(reuse >= dups.size,
        s"unrescued duplicated subtrees: shapes=${dups.size} reuse=$reuse\n" +
          dups.map(_._2.toString).mkString("\n"))
    }
  }

  test("dsir/doremi: the scoring stage stays behind its barrier") {
    // the round-9 double-paid-scoring fixes: the declared plans must read
    // the materialized scoring stage (Scan ExistingRDD), never re-derive
    // it — a removed barrier re-introduces the gram/token explode into
    // the declared plan, which this pins at zero
    Seq("q_dsir", "q_doremi").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      val gens = plan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }.size
      assert(gens == 0,
        s"$q: scoring explode leaked past the Materialize barrier")
    }
  }

  /** The q_minhash_recall sf1 regression class (round 9, 33 s → 5 s): a
    * `conv(substring(md5(…)))` portable-hash column chain evaluated inside
    * an aggregation over an EXPLODED input pays digest + hex-encode +
    * substring + conv allocations × salts × shingles per doc. The
    * sanctioned paths there are the raw-digest TypedImperativeAggregate
    * (MinHashSignature) or the scalar array expression (MinHashArray); the
    * column chain is for narrow scans and oracle documentation only. */
  private def md5ChainInExplodedAgg(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
    plan.exists {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.child.exists {
          case _: org.apache.spark.sql.catalyst.plans.logical.Generate => true
          case _ => false
        } && a.aggregateExpressions.exists(
          _.toString.toLowerCase.replace(" ", "").contains("conv(substring(md5"))
      case _ => false
    }

  test("signature family: no md5 hex/conv chain rides an exploded aggregation") {
    // positive control — the r9 PRE-FIX formulation (32 salted min columns
    // over the exploded shingle set) must trip the detector
    import graft.functions.TextFunctions.md5Salted60
    val bad = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("shingle"))
      .groupBy(col("doc_id"))
      .agg(min(md5Salted60(0, col("shingle"))).as("h0"),
        min(md5Salted60(1, col("shingle"))).as("h1"))
    assert(md5ChainInExplodedAgg(bad.queryExecution.optimizedPlan),
      "detector failed to flag the pre-fix column-chain formulation")
    // shipped family: every declared signature-family query must be clean
    val family = Seq("q_dedup_minhash", "q_minhash_recall",
      "q_dedup_incr_near", "q_dedup_simhash", "q_simhash_pairs",
      "q_caption_dedup_lsh", "q_dedup_ngram_capped", "q_phash_dedup")
    family.foreach { q =>
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      assert(!md5ChainInExplodedAgg(p),
        s"$q evaluates a conv(substring(md5(…))) chain inside an exploded aggregation")
    }
  }

  test("ADC search: plan size is constant in the probe count (probes are data)") {
    // the r10 verdict's top ask: pqTopK/ivfPqTopK used to build one
    // filter+orderBy+limit branch + one 128-double typedlit PER probe.
    // Now probes ride one broadcast side, so the plan must carry zero
    // Unions, exactly one window (the rank-limited shortlist, eligible
    // for WindowGroupLimit's map-side top-k) — and, decisively, the SAME
    // node count at 2 and at 20 probes.
    def shape(nProbes: Int): (Int, String) = {
      val df = PqOps.pqTopK(spark, sf, nProbes = nProbes)
      val p = df.queryExecution.sparkPlan
      (p.collect { case n => n }.size, p.toString)
    }
    val (n2, p2) = shape(2)
    val (n20, p20) = shape(20)
    assert(n2 == n20, s"plan grows with probes: $n2 nodes @2 vs $n20 @20\n$p20")
    assert(!p20.contains("Union"), p20)
    assert(p20.contains("WindowGroupLimit"), p20)
    val ivf = PqOps.ivfPqTopK(spark, sf).queryExecution.sparkPlan.toString
    assert(!ivf.contains("Union"), ivf)
    assert(ivf.contains("WindowGroupLimit"), ivf)
    // the coded-corpus scan joins the probe side via broadcast, never a
    // shuffle of the corpus against probes
    assert(p20.contains("BroadcastNestedLoopJoin") ||
      p20.contains("BroadcastExchange"), p20)
  }

  test("domainCaps: per-domain rank window, no global sort before the rollup") {
    val p = plan(DomainOps.domainCaps(spark, sf))
    // the survivor rank partitions by domain — a Window with a partition
    // spec, never the single-partition global window
    assert(p.contains("Window"), p)
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p)
    // the scan reads only what the operator needs (no `lang`, no `text`
    // beyond the token size — text is consumed by size(split(...)))
    assert(!p.contains("lang:"), p)
  }

  test("domainMix/blocklist: totals ride broadcast; one corpus scan family") {
    val pMix = plan(DomainOps.domainMix(spark, sf))
    // pre-AQE sparkPlan prints the broadcast as the join's build side
    // (BroadcastNestedLoopJoin BuildRight); the exchange node only
    // appears in executedPlan
    assert(pMix.contains("Broadcast"), pMix)
    val pBlk = plan(DomainOps.domainBlocklist(spark, sf))
    // per-rule aggregates read the bounded per-domain rollup (the
    // Materialize barrier), so no rule re-scans the parquet corpus
    assert(!pBlk.contains("FileScan"), pBlk)
  }

  test("curriculum: percentile cuts broadcast back; no global ntile window") {
    val p = plan(DomainOps.curriculum(spark, sf))
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("Window"), p)
  }

  test("bhFdr: moment scans partial-aggregate; windows run on the bounded frame") {
    val df = InferenceOps.bhFdr(spark, sf)
    val p = plan(df)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    // the two corpus scans (per-source + global moments) both prune to
    // (source, n_chars) / (n_chars) — no text column reaches any scan
    assert(!p.contains("text"), p)
  }

  test("sprtSharded: the walk windows on (variant, day), never variant alone") {
    val p = plan(StatOps.sprtSharded(spark, sf))
    // both window specs carry a day key — the 2-partition bottleneck the
    // rewrite exists to remove would show as a variant-only partition spec
    val windowSpecs = p.linesIterator.filter(_.contains("Window "))
      .mkString("\n")
    assert(windowSpecs.contains("day"), p)
    assert(p.contains("Broadcast"), p)
  }

  /** The shuffle joins and cartesian products of `p` that have a
    * [[Materialize]] checkpoint scan — through projections and filters
    * only — as a side they could broadcast, where that side is under
    * `threshold` bytes: its rows (counted off the checkpoint blocks, so a
    * frame without statistics is sized too) times Catalyst's row width.
    * Joins whose strategy a hint fixes are Catalyst's to keep. */
  private def smallCheckpointSides(p: org.apache.spark.sql.execution.SparkPlan,
      threshold: Long): Seq[String] = {
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.catalyst.plans._
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.joins._
    def checkpointed(r: RDD[_]): Boolean =
      r.isCheckpointed || r.dependencies.exists(d => checkpointed(d.rdd))
    def scan(side: SparkPlan): Option[RDDScanExec] = side match {
      case s: RDDScanExec if checkpointed(s.rdd) => Some(s)
      case s: ProjectExec => scan(s.child)
      case s: FilterExec => scan(s.child)
      case _ => None
    }
    def small(side: SparkPlan): Option[BigInt] = scan(side)
      .map(s => EstimationUtils.getSizePerRow(side.output) * s.rdd.count())
      .filter(_ < threshold)
    p.collect {
      case j: SortMergeJoinExec => (j, j.joinType, j.left, j.right)
      case j: ShuffledHashJoinExec => (j, j.joinType, j.left, j.right)
      case j: CartesianProductExec => (j, Inner, j.left, j.right)
    }.filterNot { case (j, _, _, _) => j.logicalLink.exists {
      case l: Join => l.hint != JoinHint.NONE
      case _ => false
    } }.flatMap { case (j, jt, l, r) =>
      val left = jt match {
        case Inner | Cross | RightOuter => small(l).map(b => s"left $b B")
        case _ => None
      }
      val right = jt match {
        case Inner | Cross | LeftOuter | LeftSemi | LeftAnti | ExistenceJoin(_) =>
          small(r).map(b => s"right $b B")
        case _ => None
      }
      (left ++ right).map(side => s"${j.nodeName} $jt, $side")
    }
  }

  test("no unhinted shuffle join has a checkpoint side under the broadcast threshold") {
    // a Materialize checkpoint carries its exact size, so Catalyst
    // broadcasts a small one; a shuffle join against one means the
    // statistics were lost on the way
    val threshold = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    val found = SparkEntry.queries.toSeq.flatMap { case (q, build) =>
      smallCheckpointSides(build(spark, sf).queryExecution.sparkPlan, threshold)
        .map(j => s"$q: $j")
    }
    assert(found.isEmpty, found.mkString("\n"))
  }
}
