package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CorpusStreamOps, EventStreamOps}

/** Recorded streaming-parity gate: runs every
  * stateful streaming twin over the fixture as a real micro-batched file
  * stream and diffs its output against the batch oracle — the batch run
  * of the same operator, or the DECLARED batch query where one exists
  * (ohlc, interval join). The same parity logic lives in
  * CorpusStreamSpec/EventStreamSpec; this runner exists so each round
  * stamps a machine-readable artifact instead of relying on the test
  * suite having been run:
  *
  *   sbt "runMain graft.StreamGate [sfDir [outJson]]"
  *
  * writes `outJson` (default STREAMGATE.json) with one row per check:
  * stream rows, batch rows, match verdict, error. Exit code 1 on any
  * mismatch. */
object StreamGate {

  private final case class Check(streamRows: Long, batchRows: Long,
      ok: Boolean, note: String = "")

  private def land(df: DataFrame, dir: java.nio.file.Path,
      name: String): Unit = {
    val tmp = Files.createTempDirectory("graft-gate-land")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dir.resolve(name))
  }

  private def fileStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** Run a memory-sink streaming query to completion and return the sink
    * table. */
  private def drain(df: DataFrame, name: String, mode: String)
      (implicit spark: SparkSession): DataFrame = {
    val q = df.writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outJson = if (args.length > 1) args(1) else "STREAMGATE.json"
    implicit val spark: SparkSession =
      GraftSession.builder("graft-stream-gate", "local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val events = Tables.events(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    val staging = Files.createTempDirectory("graft-gate").toString
    events.write.parquet(s"$staging/events")
    val evSchema = spark.read.parquet(s"$staging/events").schema

    val results = scala.collection.mutable.LinkedHashMap[String, Check]()
    def run(name: String)(body: => Check): Unit = {
      results(name) =
        try body
        catch { case e: Throwable =>
          Check(-1, -1, ok = false,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      val c = results(name)
      println(s"[streamgate] ${if (c.ok) "OK  " else "FAIL"} $name " +
        s"stream=${c.streamRows} batch=${c.batchRows} ${c.note}")
    }

    run("hourly_counts") {
      val expected = EventStreamOps.hourlyWindowedCounts(events)
        .orderBy("window_start", "event_type").collect()
      val got = drain(EventStreamOps.hourlyWindowedCounts(
        fileStream(spark, s"$staging/events", evSchema)),
        "g_hourly", "complete")
        .orderBy("window_start", "event_type").collect()
      Check(got.length, expected.length, got.sameElements(expected))
    }

    run("ohlc_bars_vs_declared_q_ohlc") {
      val got = drain(EventStreamOps.ohlcBars(
        fileStream(spark, s"$staging/events", evSchema)),
        "g_ohlc", "complete")
        .orderBy("event_type", "window_start")
        .select("event_type", "window_start", "n_events",
          "open", "high", "low", "close").collect()
      val expected = graft.operators.EventOps.ohlc(spark, sfDir)
        .select(col("event_type"), col("hr").as("window_start"),
          col("n_events"), col("open"), col("high"), col("low"),
          col("close"))
        .orderBy("event_type", "window_start").collect()
      Check(got.length, expected.length, got.sameElements(expected))
    }

    run("dedup_exactly_once") {
      val dir = Files.createTempDirectory("graft-gate-dedup")
      val in = Files.createDirectories(dir.resolve("in"))
      land(events, in, "f1.parquet")
      land(events, in, "f2.parquet") // full replay: every event twice
      val got = drain(EventStreamOps.dedupEvents(
        fileStream(spark, in.toString, evSchema)), "g_dedup", "append")
      val dups = got.groupBy(col("event_id")).count()
        .filter(col("count") > 1).count()
      Check(got.count(), events.count(),
        got.count() == events.count() && dups == 0)
    }

    run("dedup_then_windowed_agg") {
      val dir = Files.createTempDirectory("graft-gate-chain")
      val in = Files.createDirectories(dir.resolve("in"))
      land(events, in, "f1.parquet")
      land(events, in, "f2.parquet")
      // far-future sentinel advances the watermark so every real window
      // finalizes under append mode; its own window never finalizes
      val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
      land(events.limit(1)
        .withColumn("ts",
          lit(new java.sql.Timestamp(maxTs.getTime + 36000000L)))
        .withColumn("event_id", lit(-1L)), in, "f3.parquet")
      val got = drain(EventStreamOps.dedupedHourlyCounts(
        fileStream(spark, in.toString, evSchema)), "g_chain", "append")
        .orderBy("window_start", "event_type").collect()
      val expected = EventStreamOps.hourlyWindowedCounts(events)
        .orderBy("window_start", "event_type").collect()
      Check(got.length, expected.length, got.sameElements(expected))
    }

    run("sessionize_stateful_vs_batch") {
      val ds = events
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[EventStreamOps.Event]
      // truth stays a SEQ for the count identity (distinct sessions can
      // share a (user, n, value) triple); the set form is only for the
      // subset check
      val truth = EventStreamOps.finalSessions(ds, 30).collect()
        .map(s => (s.user_id, s.n_events, s.total_value)).toSeq
      val closed = EventStreamOps.sessionize(ds, 30).collect()
      val closedSet =
        closed.map(s => (s.user_id, s.n_events, s.total_value)).toSet
      val users = events.select("user_id").distinct().count()
      Check(closed.length, truth.length,
        closedSet.subsetOf(truth.toSet) &&
          truth.length == closed.length + users,
        s"open_state=$users")
    }

    run("session_window_counts") {
      val expected = EventStreamOps.sessionWindowCounts(events)
        .orderBy("user_id", "sess_start").collect()
      val got = drain(EventStreamOps.sessionWindowCounts(
        fileStream(spark, s"$staging/events", evSchema)),
        "g_sess", "complete")
        .orderBy("user_id", "sess_start").collect()
      Check(got.length, expected.length,
        expected.nonEmpty && got.sameElements(expected))
    }

    run("interval_join_vs_batch") {
      val batch = graft.operators.EventOps.viewToPurchase(spark, sfDir)
        .select("view_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def stream = spark.readStream.schema(evSchema)
        .parquet(s"$staging/events")
      val q = EventStreamOps.viewPurchaseJoin(
        stream.filter(col("event_type") === "view"),
        stream.filter(col("event_type") === "purchase"))
        .writeStream.outputMode("append")
        .format("memory").queryName("g_vpjoin").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.table("g_vpjoin")
        .select("view_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      Check(streamed.size, batch.size, streamed == batch)
    }

    run("anomaly_flags_stream_static") {
      val baseline = EventStreamOps.anomalyBaseline(events)
      val expected = EventStreamOps.anomalyFlags(events, baseline)
        .orderBy("event_type", "window_start").collect()
      val got = drain(EventStreamOps.anomalyFlags(
        fileStream(spark, s"$staging/events", evSchema), baseline),
        "g_anom", "complete")
        .orderBy("event_type", "window_start").collect()
      Check(got.length, expected.length,
        expected.nonEmpty && got.sameElements(expected))
    }

    run("debounce_keep_anchored") {
      val ds = events
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[EventStreamOps.Event]
      val kept = EventStreamOps.debounceKeepAnchored(ds, 60).collect()
      // driver greedy anchored debounce per (user, type) = ground truth
      val expect = ds.collect().groupBy(e => (e.user_id, e.event_type))
        .toSeq.flatMap { case (_, es) =>
          var last = Long.MinValue
          es.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).filter { e =>
            val keep =
              last == Long.MinValue || e.ts.getTime - last > 3600000L
            if (keep) last = e.ts.getTime
            keep
          }
        }.map(_.event_id).toSet
      Check(kept.length, expect.size, kept.map(_.event_id).toSet == expect)
    }

    run("corpus_clean_cross_batch_dedup") {
      val base = Files.createTempDirectory("graft-gate-clean")
      val in = Files.createDirectories(base.resolve("in"))
      val out = base.resolve("out").toString
      val cp = base.resolve("cp").toString
      land(docs, in, "001.parquet")
      val q = CorpusStreamOps.start(spark, in.toString, docs.schema, out, cp)
      q.processAllAvailable()
      land(docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000L), in, "002.parquet")
      q.processAllAvailable(); q.stop()
      val got = spark.read.parquet(out)
      val batch = CorpusStreamOps.clean(
        docs.unionByName(docs.filter(col("doc_id") < 50)
          .withColumn("doc_id", col("doc_id") + 1000000L)))
      Check(got.count(), batch.count(),
        got.select(col("fp")).distinct().count() == got.count() &&
          got.count() == batch.count() &&
          got.filter(col("doc_id") >= 1000000L).count() == 0)
    }

    run("unigram_scoring_vs_declared_twin") {
      val (model, oov) = CorpusStreamOps.trainUnigramModel(docs)
      val batch = CorpusStreamOps.scoreWithModel(docs, model, oov)
        .select("doc_id", "mean_logp").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val base = Files.createTempDirectory("graft-gate-score")
      val in = Files.createDirectories(base.resolve("in"))
      val out = base.resolve("out").toString
      val cp = base.resolve("cp").toString
      land(docs.filter(col("doc_id") < 250), in, "001.parquet")
      land(docs.filter(col("doc_id") >= 250), in, "002.parquet")
      val q = CorpusStreamOps.scoreWithModel(
          fileStream(spark, in.toString, docs.schema), model, oov)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.read.parquet(out)
        .select("doc_id", "mean_logp").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // and the batch scorer itself equals the DECLARED q_unigram_logprob
      val exact = graft.operators.TextOps.unigramLogprob(spark, sfDir)
        .select("doc_id", "mean_logp").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      Check(streamed.size, batch.size,
        streamed == batch &&
          batch.forall { case (id, lp) => exact(id) == lp })
    }

    run("quality_scoring_vs_declared_twin") {
      // the classifier-audit path's streaming twin (r12 verdict ask #5):
      // micro-batched docs scored with the broadcast logistic weights
      // must equal the batch scorer bitwise, and the batch scorer must
      // equal the DECLARED q_quality_logistic output — the same
      // train-offline/score-in-stream contract the unigram twin proves
      val batch = CorpusStreamOps.scoreQuality(docs)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2)))
        .toMap
      val base = Files.createTempDirectory("graft-gate-quality")
      val in = Files.createDirectories(base.resolve("in"))
      val out = base.resolve("out").toString
      val cp = base.resolve("cp").toString
      land(docs.filter(col("doc_id") < 250), in, "001.parquet")
      land(docs.filter(col("doc_id") >= 250), in, "002.parquet")
      val q = CorpusStreamOps.scoreQuality(
          fileStream(spark, in.toString, docs.schema))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.read.parquet(out)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2)))
        .toMap
      val declared = graft.operators.TextOps.qualityLogistic(spark, sfDir)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2)))
        .toMap
      Check(streamed.size, declared.size,
        streamed == batch && batch == declared)
    }

    run("temperature_mix_vs_declared_twin") {
      // the mixing/order layer's streaming twin (r13 verdict ask #4):
      // micro-batch the corpus through the per-source token rollup
      // (complete mode, |sources| rows of state), derive the temperature
      // weights from the CUMULATIVE counts, and require bitwise equality
      // with the declared q_temperature_mix batch output — plus the
      // mid-stream convergence property: the batch-1-only mix's shares
      // are already a valid distribution (sum to 1) even though the
      // per-source weights still differ from the final mix
      val base = Files.createTempDirectory("graft-gate-mix")
      val in = Files.createDirectories(base.resolve("in"))
      land(docs.filter(col("doc_id") < 250), in, "001.parquet")
      val s1 = drain(CorpusStreamOps.sourceTokenCounts(
        fileStream(spark, in.toString, docs.schema)), "g_mix1", "complete")
      val partialShare = CorpusStreamOps.mixFromCounts(s1)
        .agg(sum(col("temp_share"))).collect()(0).getDouble(0)
      land(docs.filter(col("doc_id") >= 250), in, "002.parquet")
      val counts = drain(CorpusStreamOps.sourceTokenCounts(
        fileStream(spark, in.toString, docs.schema)), "g_mix2", "complete")
      val streamed = CorpusStreamOps.mixFromCounts(counts).collect()
      val declared = graft.operators.CorpusOps
        .temperatureMix(spark, sfDir).collect()
      Check(streamed.length, declared.length,
        streamed.sameElements(declared) &&
          math.abs(partialShare - 1.0) < 0.001)
    }

    run("domain_caps_vs_declared_twin") {
      // the curation endgame's stateful cap (r14 verdict ask #5):
      // per-domain running counts decide keep/drop in-stream. Pins
      // (a) bitwise verdict equality with the batch replay of the same
      // first-arrival policy (files land in doc_id order, so arrival
      // order = doc_id order), and (b) per-domain kept COUNTS equal to
      // the DECLARED q_domain_caps audit's n_kept — min(cap, n_docs)
      // is policy-independent, so the stream converges to the declared
      // audit on the count level across micro-batch boundaries.
      val base = Files.createTempDirectory("graft-gate-domcap")
      val in = Files.createDirectories(base.resolve("in"))
      val d2 = docs.select("doc_id", "source")
      land(d2.filter(col("doc_id") < 250), in, "001.parquet")
      land(d2.filter(col("doc_id") >= 250), in, "002.parquet")
      val got = drain(graft.streaming.CorpusStreamOps.domainCapFlags(
        fileStream(spark, in.toString, d2.schema)).toDF(),
        "g_domcap", "append")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("domain")).orderBy(col("doc_id"))
      val replay = d2
        .select(col("doc_id"),
          graft.operators.DomainOps.domainKey.as("domain"))
        .withColumn("rn", row_number().over(w))
        .select(col("doc_id"), col("domain"),
          (col("rn") <= graft.operators.DomainOps.CapDocs).as("keep"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      val streamKept = got.filter(_._3).groupBy(_._2)
        .map { case (d, xs) => d -> xs.length.toLong }
      val declaredKept = graft.operators.DomainOps.domainCaps(spark, sfDir)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      val anyDrop = got.exists(!_._3)
      Check(got.length, replay.length,
        got.toSet == replay.toSet && streamKept == declaredKept && anyDrop)
    }

    run("domain_caps_production_sink") {
      // the PRODUCTION shape of the cap (round 15): payload rides the
      // stateful operator, only survivors reach the parquet sink. Pins
      // (a) the survivor doc_id set == the batch first-arrival replay's
      // keeps, (b) payload integrity — every sunk row's (source, text)
      // is bitwise the fixture's row for that doc_id, and (c) per-domain
      // survivor counts == the DECLARED q_domain_caps audit's n_kept.
      val base = Files.createTempDirectory("graft-gate-domprod")
      val in = Files.createDirectories(base.resolve("in"))
      val out = base.resolve("out").toString
      val cp = base.resolve("cp").toString
      val d3 = docs.select("doc_id", "source", "text")
      land(d3.filter(col("doc_id") < 250), in, "001.parquet")
      land(d3.filter(col("doc_id") >= 250), in, "002.parquet")
      val q = CorpusStreamOps.startDomainCapStream(spark, in.toString,
        d3.schema, out, cp)
      q.processAllAvailable(); q.stop()
      val sunk = spark.read.parquet(out)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("domain")).orderBy(col("doc_id"))
      val replayKeeps = d3
        .select(col("doc_id"),
          graft.operators.DomainOps.domainKey.as("domain"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= graft.operators.DomainOps.CapDocs)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val sunkIds = sunk.select("doc_id").collect().map(_.getLong(0)).toSet
      // payload integrity: anti-join survivors against the fixture on
      // ALL of (doc_id, source, text) — zero rows means bitwise intact
      val corrupted = sunk.select("doc_id", "source", "text")
        .exceptAll(d3).count()
      val sunkPerDomain = sunk.groupBy(col("domain")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val declaredKept2 = graft.operators.DomainOps.domainCaps(spark, sfDir)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      Check(sunkIds.size.toLong, replayKeeps.size.toLong,
        sunkIds == replayKeeps && corrupted == 0 &&
          sunkPerDomain == declaredKept2)
    }

    run("neardup_cross_batch_minhash") {
      val base = Files.createTempDirectory("graft-gate-neardup")
      val in = Files.createDirectories(base.resolve("in"))
      val out = base.resolve("out").toString
      val cp = base.resolve("cp").toString
      val d2 = docs.select("doc_id", "text")
      land(d2, in, "001.parquet")
      val q = CorpusStreamOps.nearDupFlags(
          fileStream(spark, in.toString, d2.schema))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append").start()
      q.processAllAvailable()
      land(d2.filter(col("doc_id") < 40)
        .withColumn("doc_id", col("doc_id") + 1000000L), in, "002.parquet")
      q.processAllAvailable(); q.stop()
      val verdicts =
        CorpusStreamOps.resolveNearDups(spark.read.parquet(out))
      val resent = verdicts.filter(col("doc_id") >= 1000000L).collect()
      val signed = d2.filter(col("doc_id") < 40)
        .select(graft.functions.TextFunctions.minhashArray(
          graft.functions.TextFunctions.shingles(
            graft.functions.TextFunctions.tokensLower(col("text"))), 32)
          .as("sig"))
        .filter(col("sig").isNotNull).count()
      Check(resent.length, signed,
        resent.length == signed && resent.forall(_.getBoolean(2)) &&
          resent.forall(_.getLong(1) < 1000000L))
    }

    run("band_index_stream_probe_append") {
      val base = Files.createTempDirectory("graft-gate-bandstream")
      val in = Files.createDirectories(base.resolve("in"))
      val (idx, out, cp) = (base.resolve("idx").toString,
        base.resolve("out").toString, base.resolve("cp").toString)
      val d2 = docs.select("doc_id", "text")
      val b1 = d2.filter(col("doc_id") < 250)
      val b2 = d2.filter(col("doc_id") >= 250).unionByName(
        d2.filter(col("doc_id") < 25)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      land(b1, in, "001.parquet")
      val q = CorpusStreamOps.startBandIndexStream(
        spark, in.toString, d2.schema, idx, out, cp)
      q.processAllAvailable()
      land(b2, in, "002.parquet")
      q.processAllAvailable(); q.stop()
      val verdicts = spark.read.parquet(out).collect()
        .map(r => r.getLong(0) ->
          ((r.getBoolean(1), r.getLong(2), r.getLong(3)))).toMap
      // batch-2 verdicts == a direct probe of a batch-1-only index
      val idx1 = Files.createTempDirectory("graft-gate-bandref").toString
      graft.operators.DedupOps.bandIndexAppend(b1, idx1)
      val expect = graft.operators.DedupOps.bandIndexProbe(spark, idx1, b2)
        .collect().map(r => r.getLong(0) ->
          ((r.getBoolean(1), r.getLong(2), r.getLong(3)))).toMap
      val b2ok = expect.forall { case (id, v) => verdicts(id) == v }
      val b1Novel = b1.collect()
        .forall(r => verdicts(r.getLong(0)) == ((true, 0L, -1L)))
      Check(verdicts.size, b1.count() + b2.count(),
        b2ok && b1Novel &&
          verdicts.size == b1.count() + b2.count())
    }

    run("ann_tag_stream_vs_knn_graph") {
      // stream the corpus's own vectors in 4 micro-batches through the
      // online ANN tagger; probe-batch invariance means the union of the
      // per-batch tags must equal the one-shot batch kNN graph exactly
      val base = Files.createTempDirectory("graft-gate-anntag")
      val in = Files.createDirectories(base.resolve("in"))
      val (out, cp) = (base.resolve("out").toString,
        base.resolve("cp").toString)
      val emb = Tables.embeddings(spark, sfDir)
      val quarter = emb.count() / 4
      (0 until 4).foreach { i =>
        land(emb.filter(col("vec_id") >= i * quarter &&
            (col("vec_id") < (i + 1) * quarter || lit(i == 3))),
          in, f"00$i.parquet")
      }
      val q = graft.streaming.VectorStreamOps.startAnnTagStream(
        spark, in.toString, emb.schema, sfDir, out, cp)
      q.processAllAvailable(); q.stop()
      // project the family contract columns: the sink is epoch-partitioned
      // (exactly-once layout), and the partition column is bookkeeping
      val got = spark.read.parquet(out)
        .select("q_id", "rn", "cand_id", "cos_sim")
        .orderBy("q_id", "rn").collect().map(_.toString).toSeq
      val expect = graft.operators.PqOps.knnGraph(spark, sfDir)
        .collect().map(_.toString).toSeq
      Check(got.length, expect.length, got == expect)
    }

    run("ann_tag_replay_exactly_once") {
      // a TRUE Structured Streaming replay: run the tagger to completion,
      // delete the last micro-batch's commit marker from the checkpoint,
      // restart on the same checkpoint — the engine re-executes that
      // batch, and the epoch-partition overwrite sink must replace its
      // own partition instead of appending duplicates (round-12 fix: the
      // old append sink was at-least-once, dedup a downstream obligation)
      val base = Files.createTempDirectory("graft-gate-annreplay")
      val in = Files.createDirectories(base.resolve("in"))
      val (out, cp) = (base.resolve("out").toString,
        base.resolve("cp").toString)
      val emb = Tables.embeddings(spark, sfDir)
      val half = emb.count() / 2
      land(emb.filter(col("vec_id") < half), in, "000.parquet")
      land(emb.filter(col("vec_id") >= half), in, "001.parquet")
      def startTagger() = graft.streaming.VectorStreamOps.startAnnTagStream(
        spark, in.toString, emb.schema, sfDir, out, cp)
      val q = startTagger()
      q.processAllAvailable(); q.stop()
      def tags() = spark.read.parquet(out)
        .select("q_id", "rn", "cand_id", "cos_sim")
        .orderBy("q_id", "rn").collect().map(_.toString).toSeq
      val before = tags()
      val commits = Paths.get(cp, "commits")
      val last = Files.list(commits)
        .filter(p => p.getFileName.toString.forall(_.isDigit))
        .max(java.util.Comparator.comparingLong(
          (p: java.nio.file.Path) => p.getFileName.toString.toLong))
        .get()
      Files.delete(last)
      // the local checksum FS shadows each commit file with a .N.crc
      // sibling; leaving it behind makes the replayed commit's rename
      // fail with FileAlreadyExistsException (surfaced as a misleading
      // "multiple streaming queries" error)
      Files.deleteIfExists(
        last.resolveSibling("." + last.getFileName.toString + ".crc"))
      val q2 = startTagger()
      q2.processAllAvailable(); q2.stop()
      val after = tags()
      // the union of the two halves is the full corpus, so the replayed
      // output must also equal the one-shot batch kNN graph
      val expect = graft.operators.PqOps.knnGraph(spark, sfDir)
        .collect().map(_.toString).toSeq
      Check(after.length, before.length,
        after == before && after == expect)
    }

    val pass = results.values.count(_.ok)
    val json = "{\"gate\":\"stream\",\"sf\":\"" + sfDir + "\"," +
      "\"checks\":" + results.size + ",\"pass\":" + pass + "," +
      "\"fail\":" + (results.size - pass) + ",\"results\":{" +
      results.map { case (n, c) =>
        "\"" + n + "\":{\"stream_rows\":" + c.streamRows +
          ",\"batch_rows\":" + c.batchRows + ",\"match\":" + c.ok +
          (if (c.note.nonEmpty)
            ",\"note\":\"" + c.note.replace("\"", "'") + "\"" else "") + "}"
      }.mkString(",") + "}}"
    Files.writeString(Paths.get(outJson), json + "\n")
    println(s"[streamgate] $pass/${results.size} -> $outJson")
    spark.stop()
    if (pass != results.size) sys.exit(1)
  }
}
