package graft.streaming

class EventStreamSpec extends StreamGateChecks {

  test("streaming hourly counts equal the batch run (micro-batch replay, R3)")(
    gate("hourly_counts"))

  test("streaming OHLC bars equal the oracle-checked batch q_ohlc")(
    gate("ohlc_bars_vs_declared_q_ohlc"))

  test("streaming dedup: a replayed file emits every event exactly once")(
    gate("dedup_exactly_once"))

  test("chained stateful ops: dedup then windowed agg equals batch (append mode)")(
    gate("dedup_then_windowed_agg"))

  test("sessionize (stateful) matches the stateless batch sessionization")(
    gate("sessionize_stateful_vs_batch"))

  test("stream-stream interval join matches the batch interval join")(
    gate("interval_join_vs_batch"))

  test("stream-static anomaly flags equal the batch z-score on shared windows")(
    gate("anomaly_flags_stream_static"))

  test("probe: empty stream directory yields zero windows, no crash") {
    withTempDir("graft-empty") { empty =>
      val stream = spark.readStream.schema(fixture.evSchema).parquet(empty.toString)
      val q = EventStreamOps.hourlyWindowedCounts(stream)
        .writeStream.outputMode("complete").format("memory")
        .queryName("empty_windows").start()
      q.processAllAvailable()
      q.stop()
      assert(spark.table("empty_windows").count() == 0)
    }
  }

  test("stateful keep-anchored debounce: anchors persist, output is a maximal gap-respecting subset")(
    gate("debounce_keep_anchored"))

  test("streaming session_window counts equal the batch session aggregate")(
    gate("session_window_counts"))
}
