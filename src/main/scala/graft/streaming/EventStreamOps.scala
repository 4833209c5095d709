package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface — the streaming re-expression of the
  * reference's chunked micro-batch ingest loop (ingest_data.py:54-85,
  * SURVEY.md R3). A file-source stream with `maxFilesPerTrigger` IS that
  * loop, with real time semantics added: watermarks bound state, windows
  * give event-time aggregation, and mapGroupsWithState holds per-key state
  * that the pandas loop never could.
  *
  * All transforms are written against plain DataFrames so the identical
  * code runs in batch (tests compare streaming output to the batch run).
  */
object EventStreamOps {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionSummary(user_id: Long, n_events: Int,
      total_value: Double, start_ts: Timestamp, end_ts: Timestamp)

  /** The shared windowed-aggregation tail: both the plain and the deduped
    * pipeline MUST produce identical shapes (the streaming==batch tests
    * compare them row-for-row), so there is exactly one definition. */
  private def windowedCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Tumbling 1-hour event-time windows per event type; the 2-hour
    * watermark bounds window state so a 100 TB/day stream can't grow
    * state without bound. */
  def hourlyWindowedCounts(events: DataFrame): DataFrame =
    windowedCounts(events.withWatermark("ts", "2 hours"))

  /** Streaming OHLC bars: the micro-batch twin of the batch `q_ohlc`
    * (graft.operators.EventOps.ohlc, the oracle-checked form). Open and
    * close ride the same struct-min/max over the (µs, event_id) total
    * order that keeps the batch plan a single aggregation — here it keeps
    * the per-(type, window) streaming state to two structs + three
    * scalars, so state size is bar-count-bounded, not event-bounded; the
    * 2-hour watermark closes bars. */
  def ohlcBars(events: DataFrame): DataFrame = {
    val k = struct(unix_micros(col("ts")).as("us"),
      col("event_id").as("eid"), col("value").as("v"))
    events.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        min(k).as("o"), max(col("value")).as("hi"),
        min(col("value")).as("lo"), max(k).as("c"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), round(col("o.v"), 4).as("open"),
        round(col("hi"), 4).as("high"), round(col("lo"), 4).as("low"),
        round(col("c.v"), 4).as("close"))
  }

  /** Declarative session aggregation via the BUILT-IN `session_window`
    * (gap-merged event-time sessions) — the preferred path when the
    * per-session output is expressible as standard aggregates, versus
    * [[sessionize]]'s `flatMapGroupsWithState` which exists for semantics
    * aggregates can't express (emit-on-close with custom payload). Same
    * session boundaries as the batch q_session_window
    * (graft.operators.EventOps.sessionWindowAgg, the oracle-checked
    * form); the 2-hour watermark closes sessions and bounds state. */
  def sessionWindowCounts(events: DataFrame,
      gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", "2 hours")
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("sess_start"),
        col("n_events"), col("sum_value"))

  /** Stream-stream interval join: purchases within 30 minutes after a view
    * by the same user. Watermarks bound both join-state buffers (views held
    * 1h, purchases 2h) so state can't grow without bound on an unbounded
    * stream. The identical plan runs in batch — see
    * graft.operators.EventOps.viewToPurchase (the oracle-checked form). */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame =
    views.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
      col("event_id").as("view_id"))
      .withWatermark("v_ts", "1 hour")
      .join(
        purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"))
          .withWatermark("p_ts", "2 hours"),
        expr("""v_user = p_user AND
                p_ts >= v_ts AND
                p_ts <= v_ts + INTERVAL 30 MINUTES"""))
      .select(col("view_id"), col("purchase_id"), col("v_user").as("user_id"))

  /** Watermark-bounded streaming deduplication — the unbounded-stream
    * analogue of exact dedup (graft.operators.DedupOps.dedupExact): at-most-
    * once emission per event_id within the watermark horizon. State holds
    * one entry per distinct key seen inside the horizon and is purged as the
    * watermark advances, so a duplicate-heavy 100 TB/day feed keeps a
    * bounded dedup table instead of an ever-growing one. */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Chained stateful pipeline: watermark-bounded dedup feeding event-time
    * windowed aggregation — two stateful operators sharing the ONE
    * watermark declared by [[dedupEvents]] (Spark disallows redeclaring it
    * between stateful ops). The production shape for a duplicate-heavy
    * feed: dedup state and window state both purge as the watermark
    * advances. Append mode emits each window once, when it finalizes. */
  def dedupedHourlyCounts(events: DataFrame): DataFrame =
    windowedCounts(dedupEvents(events))

  /** Stream-static anomaly flagging: the streaming twin of
    * graft.operators.EventOps.zscoreAnomaly. Hourly windowed counts per
    * event type (watermark-bounded) are scored against a STATIC baseline of
    * per-type (mean, stddev) trained offline from history — the production
    * monitoring split: the expensive stats pass runs in batch, the stream
    * pays only a broadcast hash join per micro-batch, and the z-score rides
    * each window as it finalizes. `baseline` must hold (event_type, mu, sd).
    */
  def anomalyFlags(events: DataFrame, baseline: DataFrame): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    windowedCounts(events.withWatermark("ts", "2 hours"))
      .join(broadcast(baseline), Seq("event_type"))
      .select(col("event_type"), col("window_start"), col("n_events"),
        when(col("sd") > 0,
          stableRound4((col("n_events") - col("mu")) / col("sd")))
          .otherwise(0.0).as("z"))
      .withColumn("is_anomaly", abs(col("z")) > 2.0)
  }

  /** The offline baseline for [[anomalyFlags]]: per-type mean/stddev of
    * hourly counts over a historical batch — identical formula to the batch
    * anomaly query, so stream and batch flag the same windows. */
  def anomalyBaseline(history: DataFrame): DataFrame =
    history
      .groupBy(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("event_type"))
      .agg(avg(col("n_events")).as("mu"),
        stddev_samp(col("n_events")).as("sd"))

  /** Custom stateful operator: gap-based sessionization per user via
    * flatMapGroupsWithState. State per key = the open session; a session
    * closes when the next event arrives more than `gapMinutes` after the
    * previous one (processing-driven for the batch-replay tests; a
    * production stream would add EventTimeTimeout to flush idle sessions). */
  def sessionize(events: Dataset[Event], gapMinutes: Long = 30): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Event], SessionSummary](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[List[Event]]) =>
          val (closed, open) =
            splitSessions(state.getOption.getOrElse(Nil) ++ it, gapMs)
          // keep the still-open tail session in state; emit closed ones
          state.update(open)
          closed.iterator.map(summarize(userId, _))
      }
  }

  /** One user's events sorted by time and split wherever an event arrives
    * more than `gapMs` after the one before it: the closed sessions, then
    * the still-open tail (empty only when there are no events). */
  private def splitSessions(events: IterableOnce[Event], gapMs: Long)
      : (List[List[Event]], List[Event]) = {
    val sessions = scala.collection.mutable.ListBuffer.empty[List[Event]]
    var current = List.empty[Event]
    events.iterator.toList.sortBy(_.ts.getTime).foreach { e =>
      if (current.isEmpty || e.ts.getTime - current.last.ts.getTime <= gapMs)
        current = current :+ e
      else { sessions += current; current = List(e) }
    }
    (sessions.toList, current)
  }

  private def summarize(userId: Long, s: List[Event]): SessionSummary =
    SessionSummary(userId, s.length,
      math.round(s.map(_.value).sum * 10000).toDouble / 10000,
      s.head.ts, s.last.ts)

  /** Stateful KEEP-ANCHORED debounce per (user, type): an event survives
    * iff it arrives more than `gapMinutes` after the last KEPT event — the
    * genuinely sequential variant of the batch q_debounce (whose lag-based
    * gap is window-parallel). Keeping the anchor in GroupState is exactly
    * what makes this a streaming-native operator: state per key is ONE
    * timestamp, carried across micro-batches, so a retry storm spanning
    * batch boundaries still collapses to one kept event. */
  def debounceKeepAnchored(events: Dataset[Event],
      gapMinutes: Long = 60): Dataset[Event] = {
    val spark = events.sparkSession
    import spark.implicits._
    // MICROSECOND precision, matching the batch q_debounce (which gaps on
    // unix_micros): java.sql.Timestamp.getTime truncates to ms, so two
    // events 500 µs apart would order/gap differently between the twins
    val gapUs = gapMinutes * 60000000L
    def epochUs(ts: java.sql.Timestamp): Long =
      ts.getTime / 1000L * 1000000L + ts.getNanos / 1000L
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, Event](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Long, String), it: Iterator[Event], state: GroupState[Long]) =>
          val sorted = it.toList.sortBy(e => (epochUs(e.ts), e.event_id))
          var last = state.getOption.getOrElse(Long.MinValue)
          val kept = sorted.filter { e =>
            val keep = last == Long.MinValue || epochUs(e.ts) - last > gapUs
            if (keep) last = epochUs(e.ts)
            keep
          }
          if (last != Long.MinValue) state.update(last)
          kept.iterator
      }
  }

  /** Flush any open sessions held in state (batch-replay epilogue). */
  def finalSessions(events: Dataset[Event], gapMinutes: Long = 30): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events.groupByKey(_.user_id).flatMapGroups { (userId, it) =>
      val (closed, open) = splitSessions(it, gapMs)
      (closed.iterator ++ Iterator(open).filter(_.nonEmpty))
        .map(summarize(userId, _))
    }
  }
}
