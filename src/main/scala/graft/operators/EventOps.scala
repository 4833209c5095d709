package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-table operators: event-time windowed aggregation and JSON payload
  * extraction — the batch faces of the streaming surface (the same
  * aggregations run under Structured Streaming in graft.streaming).
  */
object EventOps {

  /** Hourly event-time rollup per event type (tumbling-window shape;
    * `date_trunc` keeps it SQL-expressible — the streaming variant uses
    * `window($"ts", "1 hour")` with a watermark). */
  def windowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        date_trunc("hour", col("ts")).as("hr"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        // averages of low-decimal data land on exact 4th-decimal halves —
        // stabilized rounding (see NumericFunctions) keeps engines agreeing
        graft.functions.NumericFunctions.stableRound4(avg(col("value")))
          .as("avg_value"))
      .orderBy(col("hr"), col("event_type"))

  /** q_ohlc: hourly OHLC resample of the value stream per event type —
    * the classic time-series bar aggregation (open/high/low/close). Open
    * and close are the values at the bar's FIRST and LAST event by the
    * µs-epoch + event_id total order (same precision pinning as
    * [[latestEvent]]); high/low are plain extremes. The argmin/argmax
    * rides a struct min/max — (us, event_id, value) compares
    * lexicographically and (us, event_id) is unique — so the whole bar is
    * ONE partial-aggregated groupBy, no window, no per-bar sort shuffle:
    * at 100 TB this is a map-side-combined agg to |types·hours| rows. */
  def ohlc(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), date_trunc("hour", col("ts")).as("hr"),
        struct(unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
          col("value").as("v")).as("k"),
        col("value"))
      .groupBy(col("event_type"), col("hr"))
      .agg(
        count(lit(1)).as("n_events"),
        round(min(col("k")).getField("v"), 4).as("open"),
        round(max(col("value")), 4).as("high"),
        round(min(col("value")), 4).as("low"),
        round(max(col("k")).getField("v"), 4).as("close"))
      .orderBy(col("event_type"), col("hr"))

  /** Time-range window frame: per-user moving 1-hour sum of `value` —
    * `RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW` over epoch seconds.
    * Unlike a ROWS frame, the range frame covers all rows at equal epoch,
    * so the result is tie-insensitive and deterministic. One hash
    * partition on user_id + one per-partition sort at any scale. */
  def windowRange(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch"))
      .rangeBetween(-3600L, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("epoch"), col("value"))
      .withColumn("hour_sum", round(sum(col("value")).over(w), 4))
      .select(col("event_id"), col("user_id"), col("epoch"), col("hour_sum"))
      .orderBy(col("event_id"))
  }

  /** Gap-based sessionization, batch/window formulation: a session breaks
    * after 30 idle minutes; session id = running count of breaks. Same
    * semantics as the streaming `flatMapGroupsWithState` operator in
    * graft.streaming — this declarative version is SQL-expressible, so the
    * oracle can replay it. One hash partition on user_id + one sort. */
  def sessionAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("gap_us").isNull || col("gap_us") > 1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("sess_id",
        sum(col("new_sess"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .orderBy(col("user_id"), col("sess_id"))
  }

  /** Interval (temporal range) join, batch form: purchases within 30
    * minutes after a view by the same user — equi join on user_id with a
    * range predicate, so Spark plans a key-partitioned join + filter, not a
    * cross product. The same transform runs as a watermarked stream-stream
    * join in graft.streaming.EventStreamOps.viewPurchaseJoin. */
  def viewToPurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
    views.join(purchases,
      col("v_user") === col("p_user")
        && col("p_ts") >= col("v_ts")
        && col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("view_id"), col("purchase_id"),
        col("v_user").as("user_id"))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  /** JSON payload extraction (`props` is a JSON object per event). */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"),
        col("event_type"))
      .orderBy(col("event_id"))

  /** Latest record per key (CDC/upsert compaction): each user's most recent
    * event by (ts, event_id). One partition-sort per user — the canonical
    * "compact a changelog to current state" shape; at 100 TB the same plan
    * runs per key-range partition with no global sort. */
  /** Hourly gap-filling with linear interpolation — the time-series repair
    * pass for metric pipelines: aggregate an (incomplete) hourly series,
    * left-join it onto the full hour spine, and fill each missing hour
    * from its nearest observed neighbors, weighted by time distance (edge
    * gaps clamp to the single available neighbor). Returns every hour with
    * `interpolated` marking filled cells.
    *
    * The prev/next carries run in an UNPARTITIONED window — deliberately:
    * the window input is the POST-AGGREGATION series (one row per hour in
    * range — ≤ ~10⁵ rows even for a decade), not the event log, so the
    * single-partition sort is bounded regardless of data scale. The
    * unbounded-window-over-raw-data trap this repo avoids elsewhere
    * (vocabCoverage) does not apply to a bounded time axis. */
  def interpolateSeries(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val ev = Tables.events(spark, dir)
    val bounds = ev.agg(
      date_trunc("hour", min(col("ts"))).as("lo"),
      date_trunc("hour", max(col("ts"))).as("hi"))
    val spine = bounds.select(explode(
      sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
    val obs = ev.filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(stableRound4(sum(col("value"))).as("v"))
    val wPrev = Window.orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wNext = Window.orderBy(col("h"))
      .rowsBetween(0, Window.unboundedFollowing)
    val obsPoint = when(col("v").isNotNull, struct(col("h"), col("v")))
    val frac = (unix_timestamp(col("h")) - unix_timestamp(col("p.h")))
      .cast("double") /
      (unix_timestamp(col("n.h")) - unix_timestamp(col("p.h"))).cast("double")
    spine.join(obs, Seq("h"), "left")
      .select(col("h"), col("v"),
        last(obsPoint, ignoreNulls = true).over(wPrev).as("p"),
        first(obsPoint, ignoreNulls = true).over(wNext).as("n"))
      .select(col("h"), col("v").isNull.as("interpolated"),
        stableRound4(
          when(col("v").isNotNull, col("v"))
            .when(col("p").isNull, col("n.v"))
            .when(col("n").isNull, col("p.v"))
            .otherwise(col("p.v") + (col("n.v") - col("p.v")) * frac))
          .as("v_filled"))
      .orderBy(col("h"))
  }

  /** Daily cohort-retention matrix — the canonical product-analytics
    * rollup: users grouped by first-activity day (the cohort), each
    * (cohort, day-offset) cell counting how many came back, with the
    * retention share against the cohort's size. Three hash aggregations
    * and two equality joins, all partial-aggregated; the distinct() that
    * collapses multi-event days shuffles (user, cohort, day) triples once.
    * No windows, no driver state — at 100 TB the matrix is tiny (days²)
    * however large the event log. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
    val active = ev.join(first, Seq("user_id"))
      .select(col("user_id"), col("cohort_day"),
        datediff(col("d"), col("cohort_day")).as("day_n"))
      .distinct()
    val sizes = first.groupBy(col("cohort_day"))
      .agg(count(lit(1)).as("cohort_size"))
    active.groupBy(col("cohort_day"), col("day_n"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort_day"))
      .select(col("cohort_day"), col("day_n"), col("n_active"),
        col("cohort_size"),
        stableRound4(col("n_active").cast("double") / col("cohort_size"))
          .as("retention"))
      .orderBy(col("cohort_day"), col("day_n"))
  }

  def latestEvent(spark: SparkSession, dir: String): DataFrame = {
    // Order by an explicit MICROSECOND epoch, not raw ts: Spark reads the
    // events table truncated to µs while the DuckDB oracle sees full ns, so
    // a raw-ts sort could pick different "latest" rows for two events in
    // the same microsecond. Pinning both engines to µs makes the sort key
    // precision identical (the oracle orders by epoch_us(ts)).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(unix_micros(col("ts")).desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"), col("event_id"), col("event_type"),
        floor(unix_timestamp(col("ts"))).as("epoch"),
        round(col("value"), 4).as("value"))
      .orderBy(col("user_id"))
  }

  /** Native session-window aggregation: Spark's `session_window(ts, gap)`
    * merges overlapping [ts, ts+gap) intervals per key — the engine-level
    * sessionization operator (the streaming twin runs the same call under
    * a watermark). Semantics: session windows have an INCLUSIVE end — an
    * event exactly `gap` after its predecessor still merges — which the
    * SQL oracle mirrors with a `diff > gap` break flag. Output avoids
    * float sums — counts and min/max event ids are exact on any engine. */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .select(
        col("user_id"),
        floor(unix_timestamp(col("session_window.start"))).as("sess_start"),
        col("n_events"), col("first_event"), col("last_event"))
      .orderBy(col("user_id"), col("sess_start"))

  /** Conversion funnel: each user's first `view` and the first `purchase`
    * at-or-after it, with integer-microsecond latency — the canonical
    * event-sequence analysis. All arithmetic is integral (µs epochs), so
    * the result is exactly reproducible on any engine. Two small
    * aggregations + one broadcast-able join on user_id. */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id"))
      .agg(min(unix_micros(col("ts"))).as("first_view_us"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
      .join(firstView, Seq("user_id"))
      .filter(col("p_us") >= col("first_view_us"))
      .groupBy(col("user_id"))
      .agg(min(col("p_us")).as("first_purchase_us"))
    firstView.join(firstPurchase, Seq("user_id"), "left")
      .select(
        col("user_id"),
        floor(col("first_view_us") / 1000000L).as("first_view_epoch"),
        col("first_purchase_us").isNotNull.as("converted"),
        floor((col("first_purchase_us") - col("first_view_us")) / 1000000L)
          .as("latency_sec"))
      .orderBy(col("user_id"))
  }

  /** ROWS-frame sliding window: per-user trailing 4-row sum over events
    * ordered by the UNIQUE event_id (a non-unique sort key under a ROWS
    * frame is nondeterministic — the tie-order changes the frame). The
    * summed quantity is integer cents, because engines disagree on float
    * summation order inside sliding frames (DuckDB uses segment trees);
    * integer sums are exact everywhere. */
  def rollingRows(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("event_id"))
      .rowsBetween(-3, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_frame"),
        sum(col("cents")).over(w).as("cents_sum"))
      .orderBy(col("event_id"))
  }

  /** Volume-anomaly detection: hourly event counts per type z-scored
    * against that type's own mean/stddev across hours, flagging |z| > 2 —
    * the monitoring pass a production ingest runs to catch traffic spikes
    * and outages. The flag thresholds the ROUNDED z so the boolean is
    * reproducible across engines (same pattern as the quality filters).
    *
    * Scale shape: one partial-aggregated groupBy to (hour, type) counts,
    * then a per-type stats agg over the already-tiny hourly rollup and a
    * broadcast join back — the raw event stream is scanned exactly once,
    * and everything after the first agg is |hours × types| rows. */
  def zscoreAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val hourly = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(avg(col("n_events")).as("mu"),
        stddev_samp(col("n_events")).as("sd"))
    hourly.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("hr"), col("n_events"),
        when(col("sd") > 0,
          stableRound4((col("n_events") - col("mu")) / col("sd")))
          .otherwise(0.0).as("z"))
      .withColumn("is_anomaly", abs(col("z")) > 2.0)
      .orderBy(col("event_type"), col("hr"))
  }

  /** Per-user lag/delta/rolling-mean feature generation — the standard
    * feature-engineering pass for sequence models: previous value, change
    * since previous, trailing 3-row mean, all over the total order
    * (ts, event_id) so ties cannot reorder frames. First-row lags are NULL
    * by design (no synthetic fill), matching SQL semantics exactly.
    *
    * Scale shape: one hash partition on user_id + one per-partition sort
    * shared by all three window functions (a single WindowExec, no extra
    * shuffles — the frames differ but the (partition, order) spec is the
    * same). */
  def lagFeatures(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val w3 = w.rowsBetween(-2, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("lag1"),
        stableRound4(col("value") - lag(col("value"), 1).over(w))
          .as("delta"),
        stableRound4(avg(col("value")).over(w3)).as("mean3"))
      .orderBy(col("event_id"))
  }

  /** Three-step ordered funnel: earliest view → first click strictly after
    * it → first purchase strictly after that, per user, reported as step
    * counts with step-over-step and from-start conversion rates — the
    * product-analytics staple generalizing [[viewToPurchase]] to ordered
    * multi-step paths.
    *
    * Scale shape: each step is a partial-aggregated min per user joined to
    * the previous step's (user, time) — three agg+join hops on user_id; at
    * 100 TB all three reuse one hash partitioning of the event log and the
    * final summary is three rows. Strict event-time ordering (not mere
    * co-occurrence) is what makes this a funnel. */
  def funnel3(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    // barrier: the 1-row totals feed three union branches; without it the
    // whole funnel plan re-executes per branch (see funnel3Totals)
    val totals = Materialize(funnel3Totals(spark, dir))
    def rate(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den > 0, stableRound4(num.cast("double") / den)).otherwise(0.0)
    totals.select(
      lit("1_view").as("step"), col("n1").as("n_users"),
      lit(1.0).as("conv_from_prev"), lit(1.0).as("conv_from_start"))
      .unionByName(totals.select(
        lit("2_click").as("step"), col("n2").as("n_users"),
        rate(col("n2"), col("n1")).as("conv_from_prev"),
        rate(col("n2"), col("n1")).as("conv_from_start")))
      .unionByName(totals.select(
        lit("3_purchase").as("step"), col("n3").as("n_users"),
        rate(col("n3"), col("n2")).as("conv_from_prev"),
        rate(col("n3"), col("n1")).as("conv_from_start")))
      .orderBy(col("step"))
  }

  /** Pre-barrier step-count plan for [[funnel3]], exposed for
    * PlanQualitySpec's single-execution assertions (the barrier collapses
    * the declared query's plan to an RDD scan). */
  private[graft] def funnel3Totals(spark: SparkSession, dir: String)
      : DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    // explicit user_id non-null filter: the inner joins below imply it on
    // THEIR v branch; stating it here makes the root's v-aggregate
    // canonically identical to c's build side, so the exchange is reused
    // and the view events are scanned once (a null user can't be funnel-
    // attributed anyway)
    val v = ev.filter(col("user_id").isNotNull &&
        col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("us") > col("v_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("us") > col("c_us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
    // one-pass totals: step users are nested (p ⊆ c ⊆ v), so LEFT-joining
    // the three per-user min frames — all hash-partitioned on user_id, so
    // the joins are co-located — and counting the non-null step columns
    // yields all three counts in a single plan where each step frame
    // executes exactly once. The earlier three-crossJoin form re-executed
    // the click and purchase joins per union branch (n2's count was also
    // rewritten as a distinct over the raw click join, bypassing c's
    // aggregate) — 3× the event-log map work at scale. The barrier stops
    // the 1-row totals from re-running per union branch below; the audit
    // and fix are recorded in SCALE.md (round 10).
    // count(v_us), not count(1): v_us is never null in v, so the counts
    // are identical — but referencing it stops column pruning from
    // rewriting the root's v branch to a distinct-users-only aggregate,
    // which would re-scan the view events instead of reusing v's
    // min-aggregate exchange (c's build side). 3 event scans total.
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .agg(count(col("v_us")).as("n1"), count(col("c_us")).as("n2"),
        count(col("p_us")).as("n3"))
  }

  /** Path mining: each user's chronological event-type sequence truncated
    * to its first `pathLen` steps, rolled up to the most common paths —
    * the "what do users actually do" sequence analysis behind onboarding
    * and conversion work. The per-user sequence is built with
    * collect_list(struct) + array_sort, NOT a bare collect_list (whose
    * order is partition-dependent): sorting by (time, event_id) inside the
    * row makes the path a pure function of the data.
    *
    * Scale shape: a rank-filter pre-cap keeps only each user's first
    * `pathLen` events BEFORE the collect — Spark plans it as
    * WindowGroupLimit (bounded per-group heaps inside each task, no full
    * sort), so per-user state is `pathLen` structs however active the
    * user. Then one partial-aggregated path rollup and a
    * TakeOrderedAndProject for the top-k. */
  def eventPaths(spark: SparkSession, dir: String, pathLen: Int = 5,
      k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= pathLen)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(
        col("us"), col("event_id").as("eid"),
        col("event_type").as("tpe")))).as("evs"))
      .select(array_join(expr("transform(evs, e -> e.tpe)"), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(k)
  }

  /** Single changepoint detection per event type: the hour boundary that
    * maximizes |mean-before − mean-after| of the hourly value series — the
    * level-shift detector behind incident timelines and drift alarms,
    * computed in closed form from prefix sums (no per-split rescan: the
    * cumulative sum makes every candidate split O(1)). The argmax ranks
    * the ROUNDED gap (ties broken by hour) so the chosen split is
    * engine-reproducible.
    *
    * Scale shape: the window and ranking run over the POST-AGGREGATION
    * hourly series (bounded by the time axis), partitioned by type; the
    * rank-1 filter plans as WindowGroupLimit. One event-log scan. */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(col("value")).as("v"))
    val wSeq = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val cum = hourly
      .withColumn("i", row_number().over(wSeq))
      .withColumn("s", sum(col("v")).over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val totals = hourly.groupBy(col("event_type"))
      .agg(sum(col("v")).as("st"), count(lit(1)).as("h"))
    val scored = cum.join(broadcast(totals), Seq("event_type"))
      .filter(col("i") < col("h")) // a split needs a non-empty right side
      .withColumn("mean_left", col("s") / col("i"))
      .withColumn("mean_right",
        (col("st") - col("s")) / (col("h") - col("i")))
      .withColumn("gap",
        stableRound4(abs(col("mean_left") - col("mean_right"))))
    val best = Window.partitionBy(col("event_type"))
      .orderBy(col("gap").desc, col("hr"))
    scored.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("hr").as("split_hr"),
        col("i").cast("long").as("n_left"),
        (col("h") - col("i")).as("n_right"),
        stableRound4(col("mean_left")).as("mean_left"),
        stableRound4(col("mean_right")).as("mean_right"),
        col("gap"))
      .orderBy(col("event_type"))
  }

  /** q_seasonal_naive: backtest of the weekly seasonal-naive forecaster —
    * predict each hour's volume as the SAME HOUR LAST WEEK (lag 168 on the
    * hourly series) and report per-type MAE and bias over the overlapping
    * span. This is the baseline every real forecaster must beat, and the
    * backtest is the metric pipeline that proves it. One bounded window
    * (per-type hourly series — the time axis doesn't grow with row count)
    * over the pre-aggregated rollup, then a partial-aggregated rollup to
    * |types| rows.
    *
    * Dense-series assumption: `lag(v, 168)` counts ROWS of the hourly
    * aggregate, which equals "same hour last week" only when every hour of
    * the span has ≥ 1 event (true for this event log, where each type has
    * thousands of events/hour). On a sparse series the lag would silently
    * mean "168 non-empty hours back" — gap-fill the hourly grid first
    * (sequence + left join, as [[interpolateSeries]] does) before applying
    * this backtest to sparse data. */
  def seasonalNaive(spark: SparkSession, dir: String,
      lagHours: Int = 168): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(col("value")).as("v"))
      .withColumn("pred", lag(col("v"), lagHours).over(w))
      .filter(col("pred").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        sum(abs(col("v") - col("pred"))).as("sae"),
        sum(col("v") - col("pred")).as("sbias"))
      .select(col("event_type"), col("n_hours"),
        stableRound4(col("sae") / col("n_hours")).as("mae"),
        stableRound4(col("sbias") / col("n_hours")).as("bias"))
      .orderBy(col("event_type"))
  }

  /** q_holt: Holt double-exponential smoothing (level + trend) of each
    * event type's hourly volume series — the classic short-horizon
    * forecaster for capacity planning. Genuinely SEQUENTIAL (each step
    * feeds the next), which is exactly why it's expressed as a
    * higher-order `aggregate` fold over the per-type collected series:
    * the series is bounded (one element per hour — thousands of entries
    * at any corpus size, since the time axis doesn't grow with row
    * count), so collecting it per key is the scale-correct shape, and the
    * engine parallelizes ACROSS keys. α = 0.5, β = 0.3, init l = v₀,
    * b = 0, folding from the second observation; forecast = l + b. The
    * DuckDB oracle reproduces the identical fold with `list_reduce`, so
    * the recurrence is hash-checked end to end. */
  def holtSmooth(spark: SparkSession, dir: String, alpha: Double = 0.5,
      beta: Double = 0.3): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val vs = transform(
      sort_array(collect_list(struct(col("hr"), col("v")))),
      s => s.getField("v"))
    val series = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(col("value")).as("v"))
      .groupBy(col("event_type"))
      .agg(vs.as("vs"))
    val lb = aggregate(
      slice(col("vs"), lit(2), greatest(size(col("vs")) - 1, lit(0))),
      struct(element_at(col("vs"), 1).as("l"), lit(0.0).as("b")),
      (a, x) => {
        val lp = lit(alpha) * x + lit(1 - alpha) * (a.getField("l") + a.getField("b"))
        struct(lp.as("l"),
          (lit(beta) * (lp - a.getField("l"))
            + lit(1 - beta) * a.getField("b")).as("b"))
      })
    series
      .select(col("event_type"), size(col("vs")).as("n_hours"), lb.as("lb"))
      .select(col("event_type"), col("n_hours"),
        stableRound4(col("lb.l")).as("level"),
        stableRound4(col("lb.b")).as("trend"),
        stableRound4(col("lb.l") + col("lb.b")).as("forecast"))
      .orderBy(col("event_type"))
  }

  /** q_debounce: gap-based event debouncing — drop any event arriving
    * within `gapMinutes` of the SAME user's previous event of the same
    * type (the duplicate-click / retry-storm filter every event pipeline
    * runs at ingest). Keeps the lag-based formulation (gap to the
    * previous RAW event) precisely because it is parallel-window
    * expressible; the stateful keep-anchored variant lives in the
    * streaming suite where per-key state is the natural engine. Reports
    * the per-type funnel: total, kept, and kept share.
    *
    * One hash partition + sort per (user, type) — the same window shape
    * every sequence op here shares — then a partial-aggregated rollup to
    * |types| rows. */
  def debounce(spark: SparkSession, dir: String,
      gapMinutes: Int = 60): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .select(col("event_type"),
        (col("prev").isNull
          || col("us") - col("prev") > gapMinutes * 60L * 1000000L)
          .cast("int").as("kept"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
      .select(col("event_type"), col("n_total"), col("n_kept"),
        stableRound4(col("n_kept").cast("double") / col("n_total"))
          .as("kept_share"))
      .orderBy(col("event_type"))
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * P(next = b | current = a) with transition counts — the behavioral
    * model behind next-action prediction and funnel leak analysis
    * (complements [[eventPaths]]: paths show whole journeys, transitions
    * show the local dynamics).
    *
    * Scale shape: one hash partition + per-partition sort per user for the
    * lead() (the same (user, time) window every sequence op here shares),
    * then a partial-aggregated rollup to ≤ |types|² cells and a broadcast
    * of per-state totals. */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        col("event_type").as("cur"), unix_micros(col("ts")).as("us"))
      .withColumn("next", lead(col("cur"), 1).over(w))
      .filter(col("next").isNotNull)
      .groupBy(col("cur"), col("next")).agg(count(lit(1)).as("n"))
    val totals = trans.groupBy(col("cur"))
      .agg(sum(col("n")).cast("double").as("total"))
    trans.join(broadcast(totals), Seq("cur"))
      .select(col("cur"), col("next"), col("n"),
        stableRound4(col("n") / col("total")).as("p"))
      .orderBy(col("cur"), col("next"))
  }

  /** Weekly seasonality profile: (day-of-week × hour-of-day) event counts
    * with each cell's share of its day — the heatmap behind load planning
    * and anomaly baselining. Day numbering follows Spark's `dayofweek`
    * (1 = Sunday … 7 = Saturday).
    *
    * Scale shape: one partial-aggregated groupBy to ≤ 168 cells, then a
    * 7-row day-total broadcast join; the event log is scanned once. */
  def weeklyProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val cells = Tables.events(spark, dir)
      .groupBy(dayofweek(col("ts")).as("dow"), hour(col("ts")).as("hr"))
      .agg(count(lit(1)).as("n_events"))
    val dayTotals = cells.groupBy(col("dow"))
      .agg(sum(col("n_events")).cast("double").as("day_total"))
    cells.join(broadcast(dayTotals), Seq("dow"))
      .select(col("dow"), col("hr"), col("n_events"),
        stableRound4(col("n_events") / col("day_total")).as("day_share"))
      .orderBy(col("dow"), col("hr"))
  }

  /** Lag-1 autocorrelation of the hourly value series per event type —
    * the time-series diagnostic behind seasonality detection and
    * forecasting-model choice (high lag-1 autocorrelation = smooth series;
    * near zero = white noise). Pearson correlation of (v_t, v_{t-1}) over
    * the hour-ordered series.
    *
    * Scale shape: the window and the correlation both run over the
    * POST-AGGREGATION hourly series (|hours × types| rows — bounded by the
    * time axis, not the event count), partitioned by type; the raw stream
    * is scanned once into a partial-aggregated rollup. */
  def autocorrHourly(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(col("value")).as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    hourly
      .withColumn("v_prev", lag(col("v"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(col("v_prev")).as("n_pairs"),
        stableRound4(corr(col("v"), col("v_prev"))).as("lag1_autocorr"))
      .orderBy(col("event_type"))
  }

  /** Exponential moving average of each user's event values (α = 0.3) —
    * the classic smoothed-metric feature (per-entity engagement level,
    * spend trend) a feature store materializes from an event log.
    *
    * State is BOUNDED: only the most recent `cap` events per user
    * contribute (a deliberate EMA property — weights below α(1−α)^50 are
    * ≈ 5e-9 and numerically irrelevant), and the recency cut plans as
    * WindowGroupLimit (per-partition top-`cap` pre-filter before the
    * shuffle), so per-user state is O(cap) regardless of history length.
    * The fold itself is a narrow `aggregate` lambda over each user's
    * ≤`cap`-element array, seeded with the OLDEST value and folded in
    * fixed (ts, event_id) order so the float operation sequence is
    * engine-reproducible. */
  def emaValue(spark: SparkSession, dir: String, cap: Int = 50): DataFrame =
    emaValueDf(Tables.events(spark, dir), cap)

  private[operators] def emaValueDf(events: DataFrame,
      cap: Int = 50): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    events
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(
        col("us"), col("event_id").as("eid"), col("value").as("v"))))
        .as("evs"))
      .select(col("user_id"),
        size(col("evs")).as("n_events"),
        expr("transform(evs, e -> e.v)").as("vals"))
      .select(col("user_id"), col("n_events"),
        stableRound4(expr(
          "aggregate(slice(vals, 2, size(vals)), vals[0], " +
            "(acc, x) -> acc * 0.7 + x * 0.3)")).as("ema"))
      .orderBy(col("user_id"))
  }

  /** q_event_lag: out-of-order-arrival audit — per event type, the
    * fraction of per-user consecutive event pairs (in event_id order, the
    * ingestion-order proxy) whose event time goes BACKWARD. The number
    * that sizes streaming watermarks: a type with high inversion fraction
    * needs a wider allowed-lateness window before its windowed aggregates
    * are trustworthy.
    *
    * Scale shape: the lag window partitions by (user_id, event_type) —
    * high-cardinality keys, so no single-partition window anywhere — and
    * the rollup is one partial-aggregated groupBy(event_type). */
  def eventLag(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_type"),
        (col("ts") < lag(col("ts"), 1).over(w)).cast("int").as("inv"))
      .filter(col("inv").isNotNull) // first event per (user, type) has no pair
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("inv")).cast("bigint").as("n_inversions"),
        stableRound4(sum(col("inv")) / count(lit(1)))
          .as("inversion_frac"))
      .orderBy(col("event_type"))
  }

  /** q_theil_sen: Theil-Sen robust trend per event type over the hourly
    * value series — the median of all pairwise slopes, immune to the
    * outlier hours that wreck an OLS fit (the robust companion to
    * q_zipf's regr_slope). x is the hour offset from the type's first
    * hour, so gaps in the series keep their true spacing. Intercept =
    * median(v − slope·x), the standard Theil-Sen second pass. Both medians
    * are exact interpolated percentiles, bit-identical to `percentile()`;
    * n_hours counts every hour of the type, a NULL-valued one included.
    *
    * Scale shape: one partial-aggregated hourly rollup (the only
    * event-count-sized stage), then one row per type holding its hourly
    * points, and [[theilSenFit]] computes both medians inside the task
    * that holds the row — no pair join, no job at construction. Its state
    * is the type's C(H, 2) slopes in one `double[]` (2.07 MB at H = 720),
    * where H is the number of distinct hours of the type: the bound comes
    * from the time span the events cover, not from their count (30 days of
    * fixture data is 720 hours at every scale factor, since `ScaleData`
    * keeps `ts`). A type spanning more than ~7.5 years of hours would
    * overflow the JVM array limit, and [[theilSenPairs]] refuses it by
    * name. */
  def theilSen(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    // h: the hour as a whole number of hours since the epoch, held exactly
    // in a double, so h_j − h_i is the x offset difference
    val fit = udf((eventType: String, pts: Seq[Row]) =>
      theilSenFit(eventType, pts))
    Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(sum(col("value")).as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), collect_list(struct(
        (unix_timestamp(col("hr")) / 3600L).as("h"), col("v"))).as("pts"))
      .filter(col("event_type").isNotNull)
      .select(col("event_type"), col("n_hours"),
        inline(fit(col("event_type"), col("pts"))))
      .select(col("event_type"), col("n_hours"),
        stableRound4(col("slope")).as("slope"),
        stableRound4(col("intercept")).as("intercept"))
      .orderBy(col("event_type"))
  }

  /** One type's Theil-Sen fit, before rounding. */
  final case class TheilSenFit(slope: Double, intercept: Double)

  /** [[theilSen]]'s kernel over one type's hourly points `(h, v)`, in any
    * order: no fit (an empty result) when fewer than two points have both
    * `h` and `v`. The slopes are `(v_j − v_i) / (h_j − h_i)` over the pairs
    * i < j of those points in `h` order (`h` is distinct within a type),
    * and the residuals `v − slope·(h − h_min)` with `h_min` over every
    * point; both medians are [[ExactPercentile.select]]. */
  private[operators] def theilSenFit(eventType: String,
      pts: Seq[Row]): Seq[TheilSenFit] = {
    val live = pts.iterator.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => (r.getDouble(0), r.getDouble(1))).toArray.sortBy(_._1)
    val m = live.length
    if (m < 2) Nil
    else {
      val slopes = new Array[Double](theilSenPairs(eventType, m))
      var k = 0
      var i = 0
      while (i < m) {
        val (hi, vi) = live(i)
        var j = i + 1
        while (j < m) {
          slopes(k) = (live(j)._2 - vi) / (live(j)._1 - hi)
          k += 1
          j += 1
        }
        i += 1
      }
      val slope = ExactPercentile.select(slopes, k, 0.5)
      val hMin = pts.iterator.filter(!_.isNullAt(0)).map(_.getDouble(0)).min
      val resid = live.map { case (h, v) => v - slope * (h - hMin) }
      Seq(TheilSenFit(slope, ExactPercentile.select(resid, m, 0.5)))
    }
  }

  /** C(h, 2), the pair count of a type with `h` usable hours, as an array
    * length; a count past the JVM array limit throws, naming the type. */
  private[operators] def theilSenPairs(eventType: String, h: Int): Int = {
    val pairs = h.toLong * (h - 1) / 2
    // Int.MaxValue − 8: the longest array every JVM allocates
    require(pairs <= Int.MaxValue - 8,
      s"q_theil_sen: event type $eventType has $h hours, so $pairs slope " +
        "pairs, past the JVM array limit")
    pairs.toInt
  }

  /** q_watermark_sim: how much data would each watermark delay drop?
    * The fixture's event_id sequence is exactly event-time-ordered (the
    * [[eventLag]] audit proves zero inversions), so arrival disorder is
    * SIMULATED the way capacity planning does it when only event time is
    * logged: each event gets a deterministic ingestion delay (md5-derived
    * uniform 0–30 min — a device buffering its upload), arrival time =
    * event time + delay. Micro-batches are 10-minute arrival windows (the
    * trigger proxy); the watermark in force while batch b arrives is the
    * max event-time seen in batches < b, minus the configured delay. An
    * event is dropped iff its event time is older than that. The report —
    * drop count/fraction across the delay ladder — is the curve that
    * SIZES the `withWatermark` in every streaming twin in
    * `graft.streaming` (it must hit zero by the simulated 30-min bound).
    * Scale shape: per-batch maxima are \|arrival windows\| rows (bounded
    * by the time span, not data); the running max is a window over THAT
    * set; events broadcast-join their batch's watermark — one scan, one
    * bounded window, no event-sized shuffle. */
  def watermarkSim(spark: SparkSession, dir: String,
      triggerSecs: Long = 600L, maxJitterSecs: Long = 1800L): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val delayUs = (conv(substring(md5(concat(col("event_id").cast("string"),
      lit(":wm"))), 1, 6), 16, 10).cast("long") % maxJitterSecs) * 1000000L
    val ev = Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("us"),
        (unix_micros(col("ts")) + delayUs).as("arrival_us"))
      .select(((col("arrival_us") / (triggerSecs * 1000000L))
        .cast("long")).as("batch"), col("us"))
    val batchMax = ev.groupBy(col("batch")).agg(max(col("us")).as("mx"))
    // running max over batches STRICTLY BEFORE b — |batches| rows, so the
    // single-partition frame is bounded by the trigger count, not data
    val w = Window.orderBy(col("batch"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wm = batchMax.select(col("batch"), max(col("mx")).over(w).as("wm_us"))
    val delays = Seq(0L, 60L, 300L, 900L, 3600L)
    // ONE pass: all five delay ladders as conditional sums in a single
    // aggregate (events in the first batch have no watermark yet — the
    // null comparison excludes them from every drop count), then the
    // 1-row result unpivots to the 5-row report
    val aggCols = delays.map(d =>
      coalesce(sum((col("us") < col("wm_us") - lit(d * 1000000L))
        .cast("long")), lit(0L)).as(s"d$d"))
    val agg = ev.join(broadcast(wm), Seq("batch"))
      .agg(count(lit(1)).as("n_events"), aggCols: _*)
    agg.select(explode(array(delays.map(d =>
        struct(lit(d).as("delay_s"), col("n_events"),
          col(s"d$d").as("n_dropped"))): _*)).as("t"))
      .select(col("t.delay_s"), col("t.n_events"), col("t.n_dropped"),
        stableRound4(col("t.n_dropped").cast("double") / col("t.n_events"))
          .as("drop_frac"))
      .orderBy(col("delay_s"))
  }

  /** q_audience_overlap: pairwise event-type audience Jaccard — which
    * event types are reaching the same users. One distinct pass over
    * (type, user), a user-keyed self-join (bucket size = event types per
    * user, bounded by the type vocabulary), and a |types|² rollup. */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val tu = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = tu.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    tu.as("a").join(tu.as("b"),
        col("a.user_id") === col("b.user_id")
          && col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes).as("sa"), col("type_a") === col("sa.event_type"))
      .join(broadcast(sizes).as("sb"), col("type_b") === col("sb.event_type"))
      .select(col("type_a"), col("type_b"), col("n_shared"),
        stableRound4(col("n_shared").cast("double")
          / (col("sa.n") + col("sb.n") - col("n_shared"))).as("jaccard"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** q_attribution: last-touch attribution — every purchase is credited to
    * the user's most recent non-purchase touch within a 7-day lookback;
    * purchases with no touch in the window credit the "direct" channel.
    * The product-analytics composite that q_interval_join (banded join)
    * and q_latest_event (argmax) are the building blocks of.
    *
    * Plan: purchases ⋈ touches is a USER-keyed equi-join with the
    * lookback band as a residual — one shuffle each side on user_id, and
    * candidate volume is bounded by per-user history inside the band,
    * not |events|². The per-purchase argmax is a (purchase-keyed) window
    * over those candidates with an integer tiebreak (event_id) so the
    * credited touch is unique; the left join keeps zero-touch purchases
    * for the direct bucket. */
  /** q_attribution_position: position-based (U-shaped) multi-touch
    * attribution — the other model marketing stacks ship next to
    * last-touch: within the same 7-day lookback, 40% of a purchase's
    * revenue credits the FIRST touch, 40% the LAST, and the remaining
    * 20% splits evenly across the middles (single touch → 100%, two
    * touches → 50/50, no touch → "direct" at 100%). Same join/window
    * skeleton as [[attribution]]; the per-touch weight comes from the
    * purchase-partitioned position rank + touch count.
    *
    * Cross-engine float discipline: the weighted revenue is cast to
    * DECIMAL(20,8) per row BEFORE the channel sum, so the aggregate is
    * an exact decimal sum (order-free) rather than a float fold whose
    * partition order differs between engines — the one new float op,
    * revenue × weight, uses identical operands in both engines, so the
    * per-row double is bitwise shared. */
  def attributionPosition(spark: SparkSession, dir: String,
      lookbackDays: Int = 7): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("revenue"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("event_id").as("t_id"), col("user_id").as("t_user"),
        col("ts").as("t_ts"), col("event_type").as("channel"))
    val w = Window.partitionBy(col("p_id"))
    val positioned = purchases
      .join(touches,
        col("p_user") === col("t_user")
          && col("t_ts") <= col("p_ts")
          && col("t_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackDays DAYS"),
        "left_outer")
      .withColumn("rn", row_number().over(
        w.orderBy(col("t_ts").asc_nulls_last, col("t_id").asc_nulls_last)))
      .withColumn("n", count(lit(1)).over(w))
    val weight = when(col("n") === 1, lit(1.0))
      .when(col("n") === 2, lit(0.5))
      .when(col("rn") === 1 || col("rn") === col("n"), lit(0.4))
      .otherwise(lit(0.2) / (col("n") - lit(2)).cast("double"))
    positioned
      .select(coalesce(col("channel"), lit("direct")).as("channel"),
        (col("revenue") * weight).cast("decimal(20,8)").as("wrev"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("wrev")), 4).cast("double").as("attributed_revenue"))
      .orderBy(col("channel"))
  }

  def attribution(spark: SparkSession, dir: String,
      lookbackDays: Int = 7): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), col("value").as("revenue"))
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("event_id").as("t_id"), col("user_id").as("t_user"),
        col("ts").as("t_ts"), col("event_type").as("channel"))
    val credited = purchases
      .join(touches,
        col("p_user") === col("t_user")
          && col("t_ts") <= col("p_ts")
          && col("t_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackDays DAYS"),
        "left_outer")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("p_id"))
          .orderBy(col("t_ts").desc_nulls_last, col("t_id").desc_nulls_last)))
      .filter(col("rn") === 1)
      .select(coalesce(col("channel"), lit("direct")).as("channel"),
        col("revenue"))
    credited.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        stableRound4(sum(col("revenue"))).as("attributed_revenue"))
      .orderBy(col("channel"))
  }

  /** q_stl_decompose: additive trend/seasonal/residual decomposition of the
    * daily event-value series (the moving-average STL skeleton):
    * trend = centered 7-row moving average (full windows only),
    * seasonal = per-day-of-week mean of the detrended series,
    * residual = value − trend − seasonal.
    *
    * Scale: the fact-table pass is the ONE daily aggregation (partial-agg'd
    * to |days| rows); everything after operates on the tiny day series, so
    * the unpartitioned ordered window is |days| rows on one task — by
    * design, not an accident (document the contract: per-series windows
    * would partition by series key). The seasonal table is 7 rows,
    * broadcast back.
    *
    * Cross-engine determinism: the moving average and the day-of-week mean
    * are computed over 10⁻⁴-SCALED LONGS (sum of longs is
    * order-independent; a double sum is not), divided exactly once at the
    * end — the same trick as the verify-harness integer-argmax rule. */
  def stlDecompose(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 4).as("total"))
      .withColumn("total_l", round(col("total") * 10000).cast("long"))
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("n_win", count(lit(1)).over(w7))
      .withColumn("trend_l", sum(col("total_l")).over(w7))
      .filter(col("n_win") === 7)
      .withColumn("trend",
        stableRound4(col("trend_l").cast("double") / 7.0 / 10000.0))
      .withColumn("detr_l",
        col("total_l") - round(col("trend") * 10000).cast("long"))
    val mat = graft.operators.Materialize(trended)
    val seasonal = mat
      .groupBy(dayofweek(col("day")).as("dow"))
      .agg(sum(col("detr_l")).as("s_l"), count(lit(1)).as("s_n"))
      .select(col("dow"),
        stableRound4(col("s_l").cast("double") / col("s_n") / 10000.0)
          .as("seasonal"))
    mat
      .join(seasonal, dayofweek(col("day")) === col("dow"))
      .select(col("day"), col("total"), col("trend"), col("seasonal"),
        stableRound4(col("total") - col("trend") - col("seasonal"))
          .as("residual"))
      .orderBy(col("day"))
  }

  /** q_seasonal_strength: Hyndman–Athanasopoulos seasonal/trend strength
    * of the daily value series — F_s = max(0, 1 − Var(R)/Var(S+R)) and
    * F_t = max(0, 1 − Var(R)/Var(T+R)) over the DECLARED
    * [[stlDecompose]] components (already stable-rounded, so the
    * cross-engine float chain starts from identical doubles): the
    * one-number "is the weekly cycle real / is the trend real" screen
    * read before q_seasonal_naive or any calendar-based forecast.
    * Everything after the decomposition is one moment rollup on the
    * \|days\| frame; only dimensionless ratios are emitted. */
  def seasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val f = stlDecompose(spark, dir).select(
      col("residual").as("r"),
      (col("seasonal") + col("residual")).as("sr"),
      (col("trend") + col("residual")).as("tr"))
    val m = f.agg(count(lit(1)).cast("double").as("n"),
      sum(col("r")).as("s_r"), sum(col("r") * col("r")).as("q_r"),
      sum(col("sr")).as("s_sr"), sum(col("sr") * col("sr")).as("q_sr"),
      sum(col("tr")).as("s_tr"), sum(col("tr") * col("tr")).as("q_tr"))
    def v(s: org.apache.spark.sql.Column, q: org.apache.spark.sql.Column) =
      (q - s * s / col("n")) / (col("n") - 1)
    val vr = v(col("s_r"), col("q_r"))
    val vsr = v(col("s_sr"), col("q_sr"))
    val vtr = v(col("s_tr"), col("q_tr"))
    m.filter(col("n") > 1)
      .select(col("n").cast("bigint").as("n_days"),
        stableRound4(when(vsr > 0,
          greatest(lit(0.0), lit(1.0) - vr / vsr))).as("seasonal_strength"),
        stableRound4(when(vtr > 0,
          greatest(lit(0.0), lit(1.0) - vr / vtr))).as("trend_strength"))
  }

  /** q_kaplan_meier: the Kaplan-Meier survival curve of user LIFETIME
    * (Kaplan & Meier 1958) — the churn/retention estimator a product
    * analytics stack runs daily. A user's lifetime is the days between
    * first and last event; the "death" (churn) is OBSERVED only when the
    * user has been silent for more than `censorDays` before the corpus's
    * last timestamp — later users are right-censored, the distinction
    * that makes this KM and not a plain histogram. S(t) = ∏_{tᵢ≤t}
    * (1 − dᵢ/nᵢ) over event times tᵢ with dᵢ observed churns and nᵢ
    * at-risk users (lifetime ≥ tᵢ).
    *
    * Scale shape: one per-user min/max aggregation (shuffles |users|
    * rows), then everything is |distinct lifetimes|-sized — the risk
    * table comes from one descending cumulative window, the product from
    * one ascending cumulative ln-sum. Cross-engine: dᵢ/nᵢ are exact
    * integer ratios; the cumulative ln-sum passes an 8-decimal barrier
    * before exp (sum order differs between engines only at ULP — the
    * barrier absorbs it), and the survival is round4. */
  def kaplanMeier(spark: SparkSession, dir: String,
      censorDays: Int = 7): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val ev = Tables.events(spark, dir)
    val users = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
    val horizon = ev.agg(max(col("ts")).as("max_ts"))
    val lives = users.crossJoin(broadcast(horizon))
      .select(
        datediff(to_date(col("last_ts")), to_date(col("first_ts")))
          .cast("long").as("t_days"),
        (col("last_ts") < col("max_ts") - expr(s"INTERVAL $censorDays DAYS"))
          .cast("long").as("churned"))
    val byT = lives.groupBy(col("t_days"))
      .agg(count(lit(1)).as("n_ending"), sum(col("churned")).as("n_churned"))
    val wRisk = Window.orderBy(col("t_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSurv = Window.orderBy(col("t_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_at_risk", sum(col("n_ending")).over(wRisk))
      .withColumn("lnf",
        log(lit(1.0) - col("n_churned").cast("double") / col("n_at_risk")))
      .withColumn("survival", stableRound4(exp(
        round(sum(col("lnf")).over(wSurv).cast("decimal(20,10)"), 8)
          .cast("double"))))
      .select(col("t_days"), col("n_at_risk"), col("n_churned"),
        col("survival"))
      .orderBy(col("t_days"))
  }

  /** q_ar_fit: AR(2) coefficients per event type by Yule-Walker on the
    * daily value series (Box & Jenkins §3; [[autocorr]] measures the
    * correlogram, this fits the generating model a forecaster actually
    * uses): from the lag-0/1/2 autocovariances γₖ = Σ(vₜ−v̄)(vₜ₊ₖ−v̄)/n,
    * φ₁ = γ₁(γ₀−γ₂)/(γ₀²−γ₁²), φ₂ = (γ₀γ₂−γ₁²)/(γ₀²−γ₁²); the lag-1
    * persistence forecast quality rides φ₁+φ₂ < 1 (stationarity).
    * Scale shape: one daily aggregation (the corpus-sized pass), then
    * everything is |types × days| rows — two lead windows per type and
    * a 4-number moment aggregate. Degenerate series (constant → γ₀=0)
    * emit NULL coefficients via a lazy CaseWhen guard. */
  def arFit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(sum(col("value")).as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
    val means = daily.groupBy(col("event_type"))
      .agg(avg(col("v")).as("m"), count(lit(1)).as("n_days"))
    val led = daily
      .withColumn("v1", lead(col("v"), 1).over(w))
      .withColumn("v2", lead(col("v"), 2).over(w))
      .join(means, "event_type")
    val gam = led.groupBy(col("event_type"))
      .agg(first(col("n_days")).as("n_days"),
        (sum((col("v") - col("m")) * (col("v") - col("m")))
          / first(col("n_days"))).as("g0"),
        (sum(when(col("v1").isNotNull,
          (col("v") - col("m")) * (col("v1") - col("m"))).otherwise(0.0))
          / first(col("n_days"))).as("g1"),
        (sum(when(col("v2").isNotNull,
          (col("v") - col("m")) * (col("v2") - col("m"))).otherwise(0.0))
          / first(col("n_days"))).as("g2"))
    gam.select(col("event_type"), col("n_days"),
        when(col("g0") * col("g0") - col("g1") * col("g1") =!= 0.0,
          stableRound4(col("g1") * (col("g0") - col("g2"))
            / (col("g0") * col("g0") - col("g1") * col("g1"))))
          .as("phi1"),
        when(col("g0") * col("g0") - col("g1") * col("g1") =!= 0.0,
          stableRound4((col("g0") * col("g2") - col("g1") * col("g1"))
            / (col("g0") * col("g0") - col("g1") * col("g1"))))
          .as("phi2"))
      .orderBy(col("event_type"))
  }

  /** q_burstiness: per-event-type traffic burstiness over hourly counts —
    * the Fano factor (var/mean; 1 = Poisson, >1 = bursty) and the
    * Goh–Barabási burstiness B = (σ−μ)/(σ+μ) ∈ (−1, 1). The zero-count
    * hours INSIDE each type's active span count (a silent hour is
    * signal): rather than materializing a spine, the moments fold zeros
    * in arithmetically — over the span of N hours with observed hourly
    * counts c, Σc and Σc² are unchanged by zero hours, so mean = Σc/N
    * and var = Σc²/N − mean². Everything up to the two final divisions
    * is exact integer arithmetic, so the engines agree bit-for-bit
    * before the round4.
    *
    * Scale shape: one (type, hour) count aggregation — the partial-agg
    * shuffle is |types × hours| rows — then a |types|-row moment pass. */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val hourly = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    hourly.groupBy(col("event_type"))
      .agg(
        // the difference is a whole multiple of 3600 (hour-truncated), so
        // the true division is exact and the cast is lossless
        (((unix_timestamp(max(col("hr"))) - unix_timestamp(min(col("hr"))))
          / 3600L).cast("long") + 1L).as("n_hours"),
        sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select({
        val mean = col("n_events").cast("double") / col("n_hours")
        val varr = col("sum_c2").cast("double") / col("n_hours") - mean * mean
        val sd = sqrt(varr)
        Seq(col("event_type"), col("n_hours"), col("n_events"),
          stableRound4(mean).as("mean_per_hour"),
          stableRound4(varr / mean).as("fano"),
          stableRound4((sd - mean) / (sd + mean)).as("burstiness"))
      }: _*)
      .orderBy(col("event_type"))
  }

  /** Rescaled-range block sizes (q_hurst) — powers of two so every block
    * count divides the hourly series several times over. */
  val HurstWindows: Seq[Int] = Seq(8, 16, 32)

  /** q_hurst: Hurst exponent of the hourly event-count series by
    * rescaled-range (R/S) analysis (Hurst 1951; Mandelbrot & Wallis
    * 1969) — the long-range-dependence dial that separates bursty
    * self-similar traffic (H > 0.5, load spikes cluster) from
    * short-memory noise (H ≈ 0.5): capacity planning for ingest at
    * 100 TB/day hinges on it. The OBSERVED hourly counts (ordered,
    * densely re-indexed) are cut into full blocks of n ∈
    * [[HurstWindows]]; per block R = range of the mean-centered
    * cumulative-deviation walk and S = population σ; H is the
    * least-squares slope of ln(mean R/S) against ln n, fitted on the
    * ROUNDED per-n means so the two engines fit identical points.
    *
    * Determinism: within-block cumulative sums are over exact INTEGER
    * counts (the walk is cum − j·mean, one float product each), block
    * moments are exact-integer sums, and the only cross-engine
    * order-sensitive float is the per-n block-mean of R/S — absorbed by
    * the same round4 every mean in this module relies on. Scale shape:
    * one (hour) count aggregation, one dense-index window over the
    * |hours|-bounded series (domain-compressed, like the ECDF windows in
    * StatOps), a ×3 bounded explode, per-(n, block) partial aggs, and a
    * 3-row fit. */
  def hurst(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val hourly = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    val indexed = hourly
      .withColumn("i", row_number().over(Window.orderBy(col("hr"))))
      .select(col("i"), col("c"))
    val grid = HurstWindows.map(n => s"($n)").mkString(", ")
    val blocks = indexed
      .crossJoin(broadcast(
        indexed.sparkSession.sql(s"SELECT * FROM VALUES $grid AS t(n)")))
      .select(col("n"), ((col("i") - 1) / col("n")).cast("int").as("blk"),
        col("i"), col("c"))
    val stats = blocks.groupBy(col("n"), col("blk"))
      .agg(count(lit(1)).as("cnt"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("ss"))
      .filter(col("cnt") === col("n")) // full blocks only
    val wBlk = Window.partitionBy(col("n"), col("blk")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walk = blocks
      .withColumn("cum", sum(col("c")).over(wBlk))
      .withColumn("j", count(lit(1)).over(wBlk))
      .join(stats, Seq("n", "blk"))
      .select(col("n"), col("blk"), col("s"), col("ss"), col("cnt"),
        (col("cum").cast("double")
          - col("j").cast("double")
            * (col("s").cast("double") / col("n"))).as("dev"))
    // NOT Materialized despite two consumers (fit aggregate + final
    // crossJoin): measured both ways per the module's barrier rule —
    // BenchOne sf0.1 ×3: bare min 0.740 / med 0.918, Materialize(rs)
    // min 0.834 / med 0.951. AQE exchange reuse already rescues the
    // shared events→hourly→blocks chain (the modularity-labels case,
    // not the isotonic-bins case); the checkpoint only adds cost.
    // Don't re-apply the multi-consumer pattern here without re-measuring.
    val rs = walk.groupBy(col("n"), col("blk"))
      .agg(first(col("s")).as("s"), first(col("ss")).as("ss"),
        (max(col("dev")) - min(col("dev"))).as("r"))
      .select(col("n"), col("r"),
        sqrt(col("ss").cast("double") / col("n")
          - (col("s").cast("double") / col("n"))
            * (col("s").cast("double") / col("n"))).as("sd"))
      .filter(col("sd") > 0.0)
      .groupBy(col("n"))
      .agg(count(lit(1)).as("n_blocks"),
        stableRound4(avg(col("r") / col("sd"))).as("mean_rs"))
    // 3-point least-squares slope on (ln n, ln mean_rs) — mean_rs is
    // already rounded, ln n is a literal-grade input, so both engines
    // fit identical points in identical order
    val fit = rs.agg(
      count(lit(1)).cast("double").as("k"),
      sum(log(col("n"))).as("sx"), sum(log(col("mean_rs"))).as("sy"),
      sum(log(col("n")) * log(col("mean_rs"))).as("sxy"),
      sum(log(col("n")) * log(col("n"))).as("sxx"))
      .select(((col("sxy") - col("sx") * col("sy") / col("k"))
        / (col("sxx") - col("sx") * col("sx") / col("k"))).as("h"))
    rs.crossJoin(broadcast(fit))
      .select(col("n"), col("n_blocks"), col("mean_rs"),
        stableRound4(col("h")).as("hurst"))
      .orderBy(col("n"))
  }

  /** q_mann_kendall: the Mann–Kendall monotone-trend test per event type
    * — the distribution-free partner to q_theil_sen's slope and the
    * standard "is this metric actually drifting" gate (no linearity or
    * normality assumed): S = Σ_{i<j} sgn(v_j − v_i) over the daily value
    * series, tie-corrected Var(S) = [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18,
    * and the continuity-corrected z. Daily sums pass the round4 barrier
    * BEFORE any comparison, so every sign is taken on identical doubles
    * in both engines (ULP-order differences in the float day-sums can
    * never flip a sgn).
    *
    * Scale shape: one (type, day) aggregation, then all-pairs over the
    * \|days\|-bounded series per type (a few hundred rows squared —
    * domain-compressed, like every windowed test in StatOps) and a
    * \|tied-values\| rollup. Constant work as events grow. */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("d"))
      .agg(stableRound4(sum(col("value"))).as("v"))
    val pairs = daily.as("a").join(daily.as("b"),
      col("a.event_type") === col("b.event_type") && col("a.d") < col("b.d"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum(col("b.v") - col("a.v")).cast("long")).as("s"))
    val ties = daily.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_values"), sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_sum"))
    pairs.join(ties, "event_type")
      .select({
        val varS = (col("n_days") * (col("n_days") - 1)
          * (col("n_days") * 2 + 5) - col("tie_sum")).cast("double") / 18.0
        Seq(col("event_type"), col("n_days"), col("s").as("s_stat"),
          stableRound4(varS).as("var_s"),
          stableRound4(when(col("s") > 0,
            (col("s") - 1).cast("double") / sqrt(varS))
            .when(col("s") < 0, (col("s") + 1).cast("double") / sqrt(varS))
            .otherwise(0.0)).as("z_stat"))
      }: _*)
      .orderBy(col("event_type"))
  }

  /** RANSAC dials (q_ransac) — shared with the oracle: candidate rounds
    * and the inlier band as a fraction of the series' value sd. */
  val RansacRounds = 20
  val RansacBandSds = 0.5

  /** q_ransac: RANSAC line fit (Fischler & Bolles 1981) of the daily
    * total-value trend — the robust alternative to least squares when
    * the series carries outlier days (promo spikes, outages): each of
    * [[RansacRounds]] candidate lines passes through a deterministic
    * md5-chosen pair of days (the portable-randomness contract of
    * q_permutation_test), is scored by its inlier count inside a
    * ±[[RansacBandSds]]·σ band, and the best (max inliers, ties to the
    * lowest round) is reported. Day values pass the round4 barrier
    * before any geometry, and the slope/intercept/residual algebra is
    * written in one shared order, so the inlier decisions are
    * bit-stable.
    *
    * Scale shape: one daily aggregation, then ALL work runs on the
    * \|days\|-bounded series (R candidate joins against \|days\| rows =
    * R·\|days\| residual tests). Constant as events grow. */
  def ransacLine(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val daily = Materialize(Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(stableRound4(sum(col("value"))).as("y"))
      .select((row_number().over(Window.orderBy(col("d"))) - 1)
        .cast("double").as("x"), col("y")))
    val stats = daily.agg(count(lit(1)).as("n"),
      sqrt(sum(col("y") * col("y")) / count(lit(1))
        - (sum(col("y")) / count(lit(1))) * (sum(col("y")) / count(lit(1))))
        .as("sd"))
    // round r picks points i = h(r,1) mod n and j, offset by 1 + h(r,2)
    // mod (n-1) so i ≠ j always
    def h(r: Column, salt: Int): Column =
      conv(substring(md5(concat(lit("ransac:"), r.cast("string"),
        lit(":" + salt))), 1, 6), 16, 10).cast("long")
    val cand = stats.select(col("n"), col("sd"),
      explode(sequence(lit(1), lit(RansacRounds))).as("r"))
      .select(col("r"), col("sd"),
        (h(col("r"), 1) % col("n")).cast("double").as("xi"),
        ((h(col("r"), 1) % col("n")
          + 1 + h(col("r"), 2) % (col("n") - 1)) % col("n"))
          .cast("double").as("xj"))
    val lines = cand
      .join(daily.select(col("x").as("xi"), col("y").as("yi")), "xi")
      .join(daily.select(col("x").as("xj"), col("y").as("yj")), "xj")
      .select(col("r"), col("sd"),
        ((col("yj") - col("yi")) / (col("xj") - col("xi"))).as("slope"),
        (col("yi") - (col("yj") - col("yi")) / (col("xj") - col("xi"))
          * col("xi")).as("icept"))
    val scored = lines.crossJoin(daily)
      .filter(abs(col("y") - (col("icept") + col("slope") * col("x")))
        <= lit(RansacBandSds) * col("sd"))
      .groupBy(col("r"), col("slope"), col("icept"))
      .agg(count(lit(1)).as("n_inliers"))
    scored
      .orderBy(col("n_inliers").desc, col("r"))
      .limit(1)
      .crossJoin(stats.select(col("n").as("n_days")))
      .select(col("r").cast("long").as("best_round"), col("n_days"),
        col("n_inliers"),
        stableRound4(col("slope")).as("slope"),
        stableRound4(col("icept")).as("intercept"))
  }

  /** Per-type daily count frame shared by the round-13 control-chart
    * family — one partial-aggregated shuffle; everything downstream is
    * \|types·days\|-bounded (the module's domain-compression recipe). */
  private def dailyCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("x"))

  /** q_cusum: one-sided CUSUM mean-shift detector per event type (Page
    * 1954) over the daily counts — the change-detection partner to
    * [[changepoint]]'s retrospective split: S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ−μ)),
    * alarmed when S⁺ crosses 4σ. The recursion is rewritten as the
    * prefix-sum identity S⁺ₜ = Pₜ − min_{j≤t} Pⱼ (P = cumulative
    * Σ(x−μ)), so it is TWO cumulative windows — no driver loop, no
    * sequential state — and because cumulative window sums evaluate in
    * frame order, the float chain replays bit-identically cross-engine.
    * Scale shape: one daily aggregation, per-type windows over \|days\|
    * rows, a bounded rollup. */
  def cusum(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val d = dailyCounts(spark, dir)
    val st = d.groupBy(col("event_type"))
      .agg((sum(col("x")).cast("double") / count(lit(1))).as("mu"),
        sqrt(sum(col("x") * col("x")).cast("double") / count(lit(1))
          - (sum(col("x")).cast("double") / count(lit(1)))
            * (sum(col("x")).cast("double") / count(lit(1)))).as("sigma"),
        count(lit(1)).as("n_days"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = d.join(broadcast(st), Seq("event_type"))
      .withColumn("pf", sum(col("x") - col("mu")).over(wCum))
      // the empty prefix (P₀ = 0) participates in the min — without it
      // an all-positive P series would subtract its own first dip and
      // understate S⁺ (caught by Round13OpsSpec's driver-recursion replay)
      .withColumn("sc",
        col("pf") - least(lit(0.0), min(col("pf")).over(wCum)))
    s.groupBy(col("event_type"))
      .agg(max(col("n_days")).cast("bigint").as("n_days"),
        stableRound4(max(lit(4) * col("sigma"))).as("threshold"),
        sum(when(col("sc") > lit(4) * col("sigma"), 1L).otherwise(0L))
          .cast("bigint").as("n_alarms"),
        stableRound4(max(col("sc"))).as("max_cusum"))
      .orderBy(col("event_type"))
  }

  /** q_ewma_control: EWMA control chart per event type (Roberts 1959) —
    * the small-shift-sensitive partner to [[cusum]]: EWMAₜ = λxₜ +
    * (1−λ)EWMAₜ₋₁ (λ=0.3, [[emaValue]]'s constant and its PROVEN
    * first-element-seeded fold contract: Spark `aggregate(slice(...),
    * vals[0], …)` ≡ DuckDB `list_reduce`), violations where
    * |EWMAₜ − μ| > 3σ√(λ/(2−λ)). The per-day EWMA series is the fold
    * over each day-prefix of the collected per-type array — Θ(\|days\|²)
    * per type, bounded by the calendar, never by event count.
    * Scale shape: one daily aggregation, one \|types\|-row collect, a
    * bounded posexplode. */
  def ewmaControl(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val d = dailyCounts(spark, dir)
      .select(col("event_type"), col("day"), col("x").cast("double").as("x"))
    val arr = d.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("x")))).as("dv"),
        (sum(col("x")) / count(lit(1))).as("mu"),
        sqrt(sum(col("x") * col("x")) / count(lit(1))
          - (sum(col("x")) / count(lit(1)))
            * (sum(col("x")) / count(lit(1)))).as("sigma"),
        count(lit(1)).as("n_days"))
      .select(col("event_type"), col("mu"), col("sigma"), col("n_days"),
        expr("transform(dv, e -> e.x)").as("vals"))
    val width = lit(3) * col("sigma") * sqrt(lit(0.3) / 1.7)
    val e = arr.select(col("event_type"), col("mu"), col("sigma"),
      col("n_days"),
      posexplode(expr("transform(sequence(1, size(vals)), t -> " +
        "aggregate(slice(vals, 2, t - 1), vals[0], " +
        "(acc, x) -> acc * 0.7D + x * 0.3D))")))
      .select(col("event_type"), col("mu"), col("sigma"), col("n_days"),
        (col("pos") + 1).as("t"), col("col").as("ew"))
    e.groupBy(col("event_type"))
      .agg(max(col("n_days")).cast("bigint").as("n_days"),
        stableRound4(max(col("mu"))).as("mu"),
        stableRound4(max(width)).as("limit_width"),
        sum(when(abs(col("ew") - col("mu")) > width, 1L).otherwise(0L))
          .cast("bigint").as("n_violations"),
        stableRound4(max(when(col("t") === col("n_days"), col("ew"))))
          .as("final_ewma"))
      .orderBy(col("event_type"))
  }

  /** q_peak_detect: local-maximum peaks with an integer-exact prominence
    * gate over the hourly series per type — an hour is a peak when it
    * strictly exceeds both neighbors AND its count is ≥ 1.5× the ±3-hour
    * window mean, compared as c·n·2 ≥ Σ·3 so the threshold is pure
    * integer arithmetic (no float mean can flip a boundary hour).
    * Scale shape: one hourly aggregation, one per-type lag/lead/rolling
    * window over \|hours\| rows. */
  def peakDetect(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("c"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    val wWin = wOrd.rowsBetween(-3, 3)
    h.select(col("event_type"), col("hr"), col("c"),
      lag(col("c"), 1).over(wOrd).as("prev"),
      lead(col("c"), 1).over(wOrd).as("nxt"),
      sum(col("c")).over(wWin).as("wsum"),
      count(lit(1)).over(wWin).as("wn"))
      .filter(col("prev").isNotNull && col("nxt").isNotNull
        && col("c") > col("prev") && col("c") > col("nxt")
        && col("c") * col("wn") * 2 >= col("wsum") * 3)
      .select(col("event_type"), col("hr"), col("c").as("n_events"))
      .orderBy(col("event_type"), col("hr"))
  }

  /** q_kl_drift: day-over-day distribution drift of the event-type mix —
    * symmetric KL divergence between each day's smoothed type
    * distribution and the previous day's, the standard "did the traffic
    * mix shift overnight" monitor ([[graft.operators.CorpusOps]]'s
    * q_js_divergence is the same idea across SOURCES; this is the
    * temporal axis). Add-one smoothing over the completed day×type grid
    * keeps every log finite on exact integer counts; consecutive days
    * pair by dense index, so calendar gaps never silently compare
    * non-adjacent days.
    * Scale shape: one (day, type) count aggregation, a broadcast grid
    * completion, one index join over the \|days·types\|-bounded frame. */
  def klDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val days = d.select(col("day")).distinct()
      .withColumn("idx", row_number().over(Window.orderBy(col("day"))))
    val types = d.select(col("event_type")).distinct()
    val k = types.agg(count(lit(1)).cast("bigint").as("nt"))
    val grid = days.crossJoin(broadcast(types))
      .join(d, Seq("day", "event_type"), "left")
      .select(col("day"), col("idx"), col("event_type"),
        coalesce(col("c"), lit(0L)).as("c"))
    val tot = grid.groupBy(col("idx").as("tidx"))
      .agg(sum(col("c")).cast("bigint").as("n"))
    val p = grid
      .join(tot, col("idx") === col("tidx"))
      .crossJoin(broadcast(k))
      .select(col("day"), col("idx"), col("event_type"),
        ((col("c") + 1).cast("double") / (col("n") + col("nt"))).as("p"))
    p.as("a").join(p.as("b"),
        col("a.idx") === col("b.idx") + 1
          && col("a.event_type") === col("b.event_type"))
      .groupBy(col("a.day").as("day"))
      .agg(stableRound4(sum(col("a.p") * log(col("a.p") / col("b.p"))
        + col("b.p") * log(col("b.p") / col("a.p")))).as("kl_sym"))
      .orderBy(col("day"))
  }

  /** q_gumbel_fit: Gumbel extreme-value fit of the daily block maxima —
    * the capacity-planning distribution ("what peak should we provision
    * for") by the method of moments: β = s·√6/π, μ = x̄ − γ·β (γ =
    * Euler–Mascheroni, inlined as the same literal in both engines).
    * Block maxima are order-independent exact selections; only the two
    * moment sums are engine-ordered floats, behind round4.
    * Scale shape: one daily max aggregation, a 1-row moment rollup. */
  def gumbelFit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val bm = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(max(col("value")).as("mx"))
    val m = bm.agg(count(lit(1)).cast("bigint").as("n"),
      avg(col("mx")).as("mean"),
      sqrt((sum(col("mx") * col("mx"))
        - sum(col("mx")) * sum(col("mx")) / count(lit(1)))
        / (count(lit(1)) - 1)).as("sd"))
    val beta = col("sd") * sqrt(lit(6.0)) / math.Pi
    m.select(col("n").as("n_blocks"),
      stableRound4(col("mean")).as("block_max_mean"),
      stableRound4(beta).as("gumbel_beta"),
      stableRound4(col("mean") - lit(0.5772156649015329) * beta)
        .as("gumbel_mu"))
  }

  /** q_record_count: running-record count of the daily revenue series vs
    * its distribution-free expectation — under exchangeability the
    * expected number of records in n days is the harmonic number Hₙ
    * (≈ 4 for n = 30), so records ≫ Hₙ is a trend signal with NO
    * distributional assumptions at all (the cheapest trend test there
    * is; [[EventOps.mannKendall]] is the powered follow-up). Revenue
    * passes the ×10⁴ integer barrier before any comparison; Hₙ folds
    * 1/i in index order (the proven first-element-seeded contract).
    * Scale shape: one daily aggregation, one \|days\| running-max
    * window, a 1-row rollup. */
  def recordCount(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(round(sum(col("value")), 4) * 10000).cast("bigint")
        .as("y"))
    val wPrev = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val rec = d
      .withColumn("prevmax", max(col("y")).over(wPrev))
      .agg(count(lit(1)).cast("bigint").as("n_days"),
        sum(when(col("prevmax").isNull || col("y") > col("prevmax"), 1L)
          .otherwise(0L)).cast("bigint").as("n_records"))
    rec.select(col("n_days"), col("n_records"),
      stableRound4(expr(
        "aggregate(transform(sequence(1, n_days), i -> 1.0D / i), " +
          "0.0D, (a, b) -> a + b)")).as("expected_records"))
  }

  /** q_runs_test: Wald–Wolfowitz runs test of the daily revenue series
    * against its lower median — too FEW runs of above/below means
    * clustering (trend/regime), too many means oscillation; the
    * randomness gate run before trusting any i.i.d.-assuming monitor.
    * The median is the exact lower median on ×10⁴ integers (the levene
    * convention), signs and run counts are exact integers, and only the
    * final z touches floats. Ties with the median count as "below"
    * (documented choice, identical in the oracle).
    * Scale shape: one daily aggregation, two \|days\|-bounded windows,
    * 1-row algebra. */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(round(sum(col("value")), 4) * 10000).cast("bigint")
        .as("y"))
    val vc = d.groupBy(col("y").as("v")).agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val med = vc
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(lit(1))))
      .filter(col("cum") - col("c") < ceil(col("n") / 2.0)
        && col("cum") >= ceil(col("n") / 2.0))
      .select(col("v").as("m"))
    val s = d.crossJoin(broadcast(med))
      .select(col("day"), when(col("y") > col("m"), 1).otherwise(0)
        .as("above"))
    val wOrd = Window.orderBy(col("day"))
    val runs = s
      .withColumn("prev", lag(col("above"), 1).over(wOrd))
      .filter(col("prev").isNotNull)
      .agg((lit(1) + sum(when(col("above") =!= col("prev"), 1)
        .otherwise(0))).cast("bigint").as("r"))
    val cnt = s.agg(sum(col("above")).cast("double").as("n1"),
      sum(lit(1) - col("above")).cast("double").as("n2"))
    val e = (lit(2) * col("n1") * col("n2") / (col("n1") + col("n2"))
      + lit(1))
    val v = (lit(2) * col("n1") * col("n2")
      * (lit(2) * col("n1") * col("n2") - col("n1") - col("n2"))
      / ((col("n1") + col("n2")) * (col("n1") + col("n2"))
        * (col("n1") + col("n2") - 1)))
    runs.crossJoin(broadcast(cnt))
      .select(col("n1").cast("bigint").as("n_above"),
        col("n2").cast("bigint").as("n_below"),
        col("r").as("n_runs"),
        stableRound4(e).as("expected_runs"),
        stableRound4(when(v > 0, (col("r") - e) / sqrt(v))).as("z"))
  }

  /** q_stl_anomaly: residual-based anomaly days on top of
    * [[stlDecompose]] — the operational endpoint of the decomposition:
    * a day is anomalous when its STL residual deviates from the median
    * residual by more than 3× the MAD (the robust z-score rule of
    * [[madOutlier]] applied to the deseasonalized series, so a weekly
    * spike pattern never masquerades as an anomaly). Median and MAD use
    * the LOWER-median convention on the ×10⁴ integer residuals (the
    * levene rule: an exact integer at cumulative rank ⌈n/2⌉ — no
    * interpolated float crosses the engine boundary).
    * Scale shape: everything after the decomposition is \|days\| rows —
    * two bounded cumulative windows and one filter. */
  def stlAnomaly(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val res = Materialize(stlDecompose(spark, dir)
      .select(col("day"), col("total"), col("residual"),
        round(col("residual") * 10000).cast("long").as("r_l")))
    def lowerMedian(df: DataFrame, v: Column): DataFrame = {
      val byV = df.groupBy(v.as("v")).agg(count(lit(1)).as("c"))
      val wCum = Window.orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(lit(1))
      byV.withColumn("cum", sum(col("c")).over(wCum))
        .withColumn("n", sum(col("c")).over(wAll))
        .filter(col("cum") - col("c") < ceil(col("n") / 2.0)
          && col("cum") >= ceil(col("n") / 2.0))
        .select(col("v").as("med"))
    }
    val med = lowerMedian(res, col("r_l"))
    val withMed = res.crossJoin(med)
    val mad = lowerMedian(withMed
      .select(abs(col("r_l") - col("med")).as("ad")), col("ad"))
      .select(col("med").as("mad"))
    withMed.crossJoin(mad)
      .filter(abs(col("r_l") - col("med")) > lit(3) * col("mad"))
      .select(col("day"), col("total"), col("residual"),
        stableRound4(col("med").cast("double") / 10000.0).as("med_residual"),
        stableRound4(col("mad").cast("double") / 10000.0).as("mad"))
      .orderBy(col("day"))
  }

  /** q_max_drawdown: per-event-type maximum drawdown of the cumulative
    * daily value series — the largest peak-to-trough drop (absolute and
    * as a share of the running peak), the standard "worst losing streak"
    * risk screen applied to an operational KPI: how far below its
    * high-water mark has each stream's cumulative total fallen.
    *
    * Plan: one (type, day) compression off the scan, then TWO nested
    * running windows per type (cumulative sum, running max — both
    * partitioned by type, so parallel across the type domain and
    * \|days\|-bounded within), one final rollup. No argmax day is
    * emitted: drawdowns are float sums and a float-tied argmax picks
    * different days per engine ([[graft.SparkEntry]] oracle rule); the
    * VALUE columns are deterministic under stable rounding. */
  def maxDrawdown(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val d = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("v"))
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = d.select(col("event_type"), col("day"),
        sum(col("v")).over(wRun).as("cum"))
      .withColumn("peak", max(col("cum")).over(wRun))
    val dd = col("peak") - col("cum")
    cum.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n_days"),
        max(col("peak")).as("final_peak"),
        max(dd).as("mdd"),
        max(when(col("peak") > 0, dd / col("peak"))).as("mddp"))
      .select(col("event_type"), col("n_days"),
        stableRound4(col("final_peak")).as("peak"),
        stableRound4(col("mdd")).as("max_drawdown"),
        stableRound4(col("mddp")).as("max_drawdown_pct"))
      .orderBy(col("event_type"))
  }
}
