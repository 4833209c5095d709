package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.{DedupOps, DomainOps}
import graft.streaming.{CorpusStreamOps, EventStreamOps, VectorStreamOps}

/** Recorded streaming-parity gate: runs every
  * stateful streaming twin over the fixture as a real micro-batched file
  * stream and diffs its output against the batch oracle — the batch run
  * of the same operator, or the DECLARED batch query where one exists
  * (ohlc, interval join). [[checks]] is the one implementation of each
  * parity check: the streaming specs run every check through the same
  * code, one test per check, and this runner stamps the same checks as a
  * machine-readable artifact:
  *
  *   sbt "runMain graft.StreamGate [sfDir [outJson]]"
  *
  * writes `outJson` (default STREAMGATE.json) with one row per check:
  * stream rows, batch rows, match verdict, error. Exit code 1 on any
  * mismatch. */
object StreamGate {

  /** A check's verdict; `note` names each assertion that failed. */
  final case class Check(streamRows: Long, batchRows: Long,
      ok: Boolean, note: String)

  /** What every check reads: the session, the fixture directory, the
    * events staged as a clean µs-timestamp parquet directory (so a file
    * stream reads them without the nanos legacy path) with its schema,
    * and the events and documents frames. */
  final case class Fixture(spark: SparkSession, sfDir: String,
      staged: String, evSchema: StructType, events: DataFrame,
      docs: DataFrame) {
    def eventStream: DataFrame = fileStream(spark, staged, evSchema)

    /** Delete the staging directory; the fixture is unusable after. */
    def close(): Unit = delete(Paths.get(staged).getParent)
  }

  object Fixture {
    def stage(spark: SparkSession, sfDir: String): Fixture = {
      val events = Tables.events(spark, sfDir)
      val staged = tempDir("graft-gate").resolve("events").toString
      events.write.parquet(staged)
      Fixture(spark, sfDir, staged, spark.read.parquet(staged).schema,
        events, Tables.documents(spark, sfDir))
    }
  }

  /** Land `df` in `dir` as ONE parquet file named `name`; the name fixes
    * its place in a file stream's intake order (oldest first). */
  def land(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = tempDir("graft-gate-land")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, dir.resolve(name))
    } finally delete(tmp)
  }

  private def delete(dir: Path): Unit = FileUtil.fullyDelete(dir.toFile)

  /** Every scratch directory StreamGate has made in this JVM, newest
    * first: each is deleted by its owner (the check, [[land]] or
    * [[Fixture.close]]), and the specs check that against this list rather
    * than by listing the shared temp directory. */
  @volatile private[graft] var created: List[Path] = Nil

  private def tempDir(prefix: String): Path = synchronized {
    val dir = Files.createTempDirectory(prefix)
    created = dir :: created
    dir
  }

  /** A parquet file stream that takes one file per micro-batch: the
    * reference's chunk loop. */
  def fileStream(spark: SparkSession, dir: String,
      schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)

  /** A check's scratch space: an empty input directory, and the paths of
    * an output directory and a checkpoint. */
  private def dirs(prefix: String): (Path, String, String) = {
    val base = tempDir(prefix)
    (Files.createDirectories(base.resolve("in")),
      base.resolve("out").toString, base.resolve("cp").toString)
  }

  /** Land the docs below doc_id 250 as batch 1, the rest as batch 2. */
  private def landHalves(df: DataFrame, in: Path): Unit = {
    land(df.filter(col("doc_id") < 250), in, "001.parquet")
    land(df.filter(col("doc_id") >= 250), in, "002.parquet")
  }

  private def sink(df: Dataset[_], out: String, cp: String): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append").start()

  /** Run a memory-sink streaming query to completion and return the sink
    * table. */
  private def drain(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    df.sparkSession.table(name)
  }

  /** The batch replay of the first-arrival domain cap: each domain keeps
    * its first `CapDocs` documents in doc_id (= arrival) order. */
  private def firstArrival(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("domain")).orderBy(col("doc_id"))
    docs.select(col("doc_id"), DomainOps.domainKey.as("domain"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("domain"),
        (col("rn") <= DomainOps.CapDocs).as("keep"))
  }

  /** Per-domain kept counts of the DECLARED q_domain_caps audit. */
  private def declaredKept(f: Fixture): Map[String, Long] =
    DomainOps.domainCaps(f.spark, f.sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap

  private def signed(docs: DataFrame): DataFrame = {
    import graft.functions.TextFunctions._
    docs.filter(minhashArray(shingles(tokensLower(col("text"))), 32)
      .isNotNull)
  }

  private def typedEvents(f: Fixture) = {
    import f.spark.implicits._
    f.events.select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStreamOps.Event]
  }

  /** A check whose `ok` is the conjunction of the named assertions; the
    * note names each one that failed, after `info`. */
  private def verdict(streamRows: Long, batchRows: Long, info: String = "")(
      conjuncts: (String, Boolean)*): Check = {
    val failed = conjuncts.collect { case (name, false) => s"failed: $name" }
    Check(streamRows, batchRows, failed.isEmpty,
      (info +: failed).filter(_.nonEmpty).mkString("; "))
  }

  private def check(name: String)(body: Fixture => Check)
      : (String, Fixture => Check) =
    name -> { f =>
      // the check's scratch directories are the ones made while it runs
      val before = created.size
      try body(f) finally created.dropRight(before).foreach(delete)
    }

  /** Every parity check, in run order, under its STREAMGATE.json name. */
  val checks: Seq[(String, Fixture => Check)] = Seq(
    check("hourly_counts") { f =>
      val expected = EventStreamOps.hourlyWindowedCounts(f.events)
        .orderBy("window_start", "event_type").collect()
      val got = drain(EventStreamOps.hourlyWindowedCounts(f.eventStream),
        "g_hourly", "complete")
        .orderBy("window_start", "event_type").collect()
      verdict(got.length, expected.length)(
        "stream == batch" -> got.sameElements(expected))
    },

    check("ohlc_bars_vs_declared_q_ohlc") { f =>
      val got = drain(EventStreamOps.ohlcBars(f.eventStream),
        "g_ohlc", "complete")
        .orderBy("event_type", "window_start")
        .select("event_type", "window_start", "n_events",
          "open", "high", "low", "close").collect()
      // window(ts, 1h).start == date_trunc(hour, ts) for hour bars
      val expected = graft.operators.EventOps.ohlc(f.spark, f.sfDir)
        .select(col("event_type"), col("hr").as("window_start"),
          col("n_events"), col("open"), col("high"), col("low"),
          col("close"))
        .orderBy("event_type", "window_start").collect()
      verdict(got.length, expected.length)(
        "stream == declared q_ohlc" -> got.sameElements(expected))
    },

    check("dedup_exactly_once") { f =>
      val (in, _, _) = dirs("graft-gate-dedup")
      land(f.events, in, "f1.parquet")
      land(f.events, in, "f2.parquet") // full replay: every event twice
      val got = drain(EventStreamOps.dedupEvents(
        fileStream(f.spark, in.toString, f.evSchema)), "g_dedup", "append")
      val dups = got.groupBy(col("event_id")).count()
        .filter(col("count") > 1).count()
      verdict(got.count(), f.events.count())(
        "one row per event" -> (got.count() == f.events.count()),
        "no duplicate event_id" -> (dups == 0))
    },

    check("dedup_then_windowed_agg") { f =>
      val (in, _, _) = dirs("graft-gate-chain")
      land(f.events, in, "f1.parquet")
      land(f.events, in, "f2.parquet")
      // far-future sentinel advances the watermark so every real window
      // finalizes under append mode; its own window never finalizes
      val maxTs = f.events.agg(max(col("ts"))).head().getTimestamp(0)
      land(f.events.limit(1)
        .withColumn("ts",
          lit(new java.sql.Timestamp(maxTs.getTime + 36000000L)))
        .withColumn("event_id", lit(-1L)), in, "f3.parquet")
      val got = drain(EventStreamOps.dedupedHourlyCounts(
        fileStream(f.spark, in.toString, f.evSchema)), "g_chain", "append")
        .orderBy("window_start", "event_type").collect()
      val expected = EventStreamOps.hourlyWindowedCounts(f.events)
        .orderBy("window_start", "event_type").collect()
      verdict(got.length, expected.length)(
        "stream == batch" -> got.sameElements(expected))
    },

    check("sessionize_stateful_vs_batch") { f =>
      val ds = typedEvents(f)
      // truth stays a SEQ for the count identity (distinct sessions can
      // share a (user, n, value) triple); the set form is only for the
      // subset check
      val truth = EventStreamOps.finalSessions(ds, 30).collect()
        .map(s => (s.user_id, s.n_events, s.total_value)).toSeq
      val closed = EventStreamOps.sessionize(ds, 30).collect()
      val closedSet =
        closed.map(s => (s.user_id, s.n_events, s.total_value)).toSet
      val users = f.events.select("user_id").distinct().count()
      verdict(closed.length, truth.length, s"open_state=$users")(
        "closed sessions ⊆ truth" -> closedSet.subsetOf(truth.toSet),
        "one open session per user" ->
          (truth.length == closed.length + users))
    },

    check("session_window_counts") { f =>
      val expected = EventStreamOps.sessionWindowCounts(f.events)
        .orderBy("user_id", "sess_start").collect()
      val got = drain(EventStreamOps.sessionWindowCounts(f.eventStream),
        "g_sess", "complete")
        .orderBy("user_id", "sess_start").collect()
      verdict(got.length, expected.length)(
        "batch non-empty" -> expected.nonEmpty,
        "stream == batch" -> got.sameElements(expected))
    },

    check("interval_join_vs_batch") { f =>
      val batch = graft.operators.EventOps.viewToPurchase(f.spark, f.sfDir)
        .select("view_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def stream = f.spark.readStream.schema(f.evSchema).parquet(f.staged)
      val q = EventStreamOps.viewPurchaseJoin(
        stream.filter(col("event_type") === "view"),
        stream.filter(col("event_type") === "purchase"))
        .writeStream.outputMode("append")
        .format("memory").queryName("g_vpjoin").start()
      q.processAllAvailable(); q.stop()
      val streamed = f.spark.table("g_vpjoin")
        .select("view_id", "purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      verdict(streamed.size, batch.size)(
        "stream == batch" -> (streamed == batch))
    },

    check("anomaly_flags_stream_static") { f =>
      val baseline = EventStreamOps.anomalyBaseline(f.events)
      val expected = EventStreamOps.anomalyFlags(f.events, baseline)
        .orderBy("event_type", "window_start").collect()
      val got = drain(EventStreamOps.anomalyFlags(f.eventStream, baseline),
        "g_anom", "complete")
        .orderBy("event_type", "window_start").collect()
      // both flag iff |rounded z| > 2
      verdict(got.length, expected.length)(
        "batch non-empty" -> expected.nonEmpty,
        "stream == batch" -> got.sameElements(expected),
        "flag counts equal" ->
          (got.count(_.getBoolean(4)) == expected.count(_.getBoolean(4))))
    },

    check("debounce_keep_anchored") { f =>
      val ds = typedEvents(f)
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
      // anchored-kept is a SUPERSET of lag-kept: the anchor is never later
      // than the previous raw event, so any event the lag variant keeps
      // (gap to prev raw > 60 min) has an at-least-as-large gap to the
      // anchor and is kept too
      val lagKept = graft.operators.EventOps.debounce(f.spark, f.sfDir)
        .agg(sum("n_kept")).collect().head.getLong(0)
      verdict(kept.length, expect.size)(
        "kept == greedy anchored" -> (kept.map(_.event_id).toSet == expect),
        "kept >= lag-kept" -> (kept.length >= lagKept))
    },

    check("corpus_clean_cross_batch_dedup") { f =>
      val (in, out, cp) = dirs("graft-gate-clean")
      // batch 2: 50 exact re-sends with shifted ids — cross-batch
      // duplicates only the streaming dedup state can catch
      val resent = f.docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      land(f.docs, in, "001.parquet")
      val q = CorpusStreamOps.start(f.spark, in.toString, f.docs.schema,
        out, cp)
      q.processAllAvailable()
      land(resent, in, "002.parquet")
      q.processAllAvailable(); q.stop()
      val got = f.spark.read.parquet(out)
      val batch = CorpusStreamOps.clean(f.docs.unionByName(resent))
      verdict(got.count(), batch.count())(
        "distinct fingerprints" ->
          (got.select(col("fp")).distinct().count() == got.count()),
        "stream == batch count" -> (got.count() == batch.count()),
        "re-sends dropped" ->
          (got.filter(col("doc_id") >= 1000000L).count() == 0))
    },

    check("unigram_scoring_vs_declared_twin") { f =>
      def scores(df: DataFrame) = df
        .select("doc_id", "mean_logp", "low_quality").collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
      val (model, oov) = CorpusStreamOps.trainUnigramModel(f.docs)
      val batch = scores(CorpusStreamOps.scoreWithModel(f.docs, model, oov))
      val (in, out, cp) = dirs("graft-gate-score")
      landHalves(f.docs, in)
      val q = sink(CorpusStreamOps.scoreWithModel(
        fileStream(f.spark, in.toString, f.docs.schema), model, oov), out, cp)
      q.processAllAvailable(); q.stop()
      val streamed = scores(f.spark.read.parquet(out))
      // with topK = full vocab the bounded model matches the exact batch
      // twin, the DECLARED q_unigram_logprob
      val exact = graft.operators.TextOps.unigramLogprob(f.spark, f.sfDir)
        .select("doc_id", "mean_logp").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      verdict(streamed.size, batch.size)(
        "stream == batch" -> (streamed == batch),
        "batch == declared" ->
          batch.forall { case (id, (lp, _)) => exact.get(id).contains(lp) })
    },

    check("quality_scoring_vs_declared_twin") { f =>
      // the classifier-audit path's streaming twin (r12 verdict ask #5):
      // micro-batched docs scored with the broadcast logistic weights
      // must equal the batch scorer bitwise, and the batch scorer must
      // equal the DECLARED q_quality_logistic output — the same
      // train-offline/score-in-stream contract the unigram twin proves
      def scores(df: DataFrame) = df.collect()
        .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
      val batch = scores(CorpusStreamOps.scoreQuality(f.docs))
      val (in, out, cp) = dirs("graft-gate-quality")
      landHalves(f.docs, in)
      val q = sink(CorpusStreamOps.scoreQuality(
        fileStream(f.spark, in.toString, f.docs.schema)), out, cp)
      q.processAllAvailable(); q.stop()
      val streamed = scores(f.spark.read.parquet(out))
      val declared =
        scores(graft.operators.TextOps.qualityLogistic(f.spark, f.sfDir))
      verdict(streamed.size, declared.size)(
        "stream == batch" -> (streamed == batch),
        "batch == declared" -> (batch == declared))
    },

    check("temperature_mix_vs_declared_twin") { f =>
      // the mixing/order layer's streaming twin (r13 verdict ask #4):
      // micro-batch the corpus through the per-source token rollup
      // (complete mode, |sources| rows of state), derive the temperature
      // weights from the CUMULATIVE counts, and require bitwise equality
      // with the declared q_temperature_mix batch output — plus the
      // mid-stream convergence property: the batch-1-only mix's shares
      // are already a valid distribution (sum to 1) even though the
      // per-source weights still differ from the final mix
      val (in, _, _) = dirs("graft-gate-mix")
      def counts(name: String) = drain(CorpusStreamOps.sourceTokenCounts(
        fileStream(f.spark, in.toString, f.docs.schema)), name, "complete")
      land(f.docs.filter(col("doc_id") < 250), in, "001.parquet")
      val partialShare = CorpusStreamOps.mixFromCounts(counts("g_mix1"))
        .agg(sum(col("temp_share"))).collect()(0).getDouble(0)
      land(f.docs.filter(col("doc_id") >= 250), in, "002.parquet")
      val streamed = CorpusStreamOps.mixFromCounts(counts("g_mix2")).collect()
      val declared = graft.operators.CorpusOps
        .temperatureMix(f.spark, f.sfDir).collect()
      verdict(streamed.length, declared.length)(
        "stream == declared" -> streamed.sameElements(declared),
        "batch-1 shares sum to 1" -> (math.abs(partialShare - 1.0) < 0.001))
    },

    check("domain_caps_vs_declared_twin") { f =>
      // the curation endgame's stateful cap (r14 verdict ask #5):
      // per-domain running counts decide keep/drop in-stream. Pins
      // (a) bitwise verdict equality with the batch replay of the same
      // first-arrival policy (files land in doc_id order, so arrival
      // order = doc_id order), and (b) per-domain kept COUNTS equal to
      // the DECLARED q_domain_caps audit's n_kept — min(cap, n_docs)
      // is policy-independent, so the stream converges to the declared
      // audit on the count level across micro-batch boundaries.
      def verdicts(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      val (in, _, _) = dirs("graft-gate-domcap")
      val d2 = f.docs.select("doc_id", "source")
      landHalves(d2, in)
      val got = verdicts(drain(CorpusStreamOps.domainCapFlags(
        fileStream(f.spark, in.toString, d2.schema)).toDF(),
        "g_domcap", "append"))
      val replay = verdicts(firstArrival(d2))
      val streamKept = got.filter(_._3).groupBy(_._2)
        .map { case (d, xs) => d -> xs.length.toLong }
      verdict(got.length, replay.length)(
        "stream == first-arrival replay" -> (got.toSet == replay.toSet),
        "kept per domain == declared" -> (streamKept == declaredKept(f)),
        "drops happened" -> got.exists(!_._3))
    },

    check("domain_caps_production_sink") { f =>
      // the PRODUCTION shape of the cap (round 15): payload rides the
      // stateful operator, only survivors reach the parquet sink. Pins
      // (a) the survivor doc_id set == the batch first-arrival replay's
      // keeps, (b) payload integrity — every sunk row's (source, text)
      // is bitwise the fixture's row for that doc_id, and (c) per-domain
      // survivor counts == the DECLARED q_domain_caps audit's n_kept.
      val (in, out, cp) = dirs("graft-gate-domprod")
      val d3 = f.docs.select("doc_id", "source", "text")
      landHalves(d3, in) // the cap must count ACROSS the two drops
      val q = CorpusStreamOps.startDomainCapStream(f.spark, in.toString,
        d3.schema, out, cp)
      q.processAllAvailable(); q.stop()
      val sunk = f.spark.read.parquet(out)
      val replayKeeps = firstArrival(d3).filter(col("keep"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val sunkIds = sunk.select("doc_id").collect().map(_.getLong(0)).toSet
      val sunkPerDomain = sunk.groupBy(col("domain")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      verdict(sunkIds.size.toLong, replayKeeps.size.toLong)(
        "survivors == first-arrival replay" -> (sunkIds == replayKeeps),
        "drops happened" -> (sunkIds.size < d3.count()),
        // anti-join on ALL of (doc_id, source, text): zero rows = intact
        "payload intact" ->
          (sunk.select("doc_id", "source", "text").exceptAll(d3).count() == 0),
        "survivors per domain == declared" ->
          (sunkPerDomain == declaredKept(f)))
    },

    check("neardup_cross_batch_minhash") { f =>
      val (in, out, cp) = dirs("graft-gate-neardup")
      val d2 = f.docs.select("doc_id", "text")
      land(d2, in, "001.parquet")
      val q = sink(CorpusStreamOps.nearDupFlags(
        fileStream(f.spark, in.toString, d2.schema)), out, cp)
      q.processAllAvailable()
      // batch 2: 40 byte-identical re-sends with shifted ids — near-dups
      // only cross-batch state can catch
      land(d2.filter(col("doc_id") < 40)
        .withColumn("doc_id", col("doc_id") + 1000000L), in, "002.parquet")
      q.processAllAvailable(); q.stop()
      val resent = CorpusStreamOps.resolveNearDups(f.spark.read.parquet(out))
        .filter(col("doc_id") >= 1000000L).collect()
      val nSigned = signed(d2.filter(col("doc_id") < 40)).count()
      verdict(resent.length, nSigned)(
        "every signed re-send flagged once" -> (resent.length == nSigned),
        "all flagged" -> resent.forall(_.getBoolean(2)),
        "flagged against batch-1 docs" ->
          resent.forall(_.getLong(1) < 1000000L))
    },

    check("band_index_stream_probe_append") { f =>
      val (in, out, cp) = dirs("graft-gate-bandstream")
      val idx = in.resolveSibling("idx").toString
      // batch 1: half the corpus; batch 2: the other half PLUS 25 exact
      // re-sends of batch-1 docs under shifted ids
      val d2 = f.docs.select("doc_id", "text")
      val b1 = d2.filter(col("doc_id") < 250)
      val b2 = d2.filter(col("doc_id") >= 250).unionByName(
        d2.filter(col("doc_id") < 25)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      land(b1, in, "001.parquet")
      val q = CorpusStreamOps.startBandIndexStream(
        f.spark, in.toString, d2.schema, idx, out, cp)
      q.processAllAvailable()
      land(b2, in, "002.parquet")
      q.processAllAvailable(); q.stop()
      def byId(df: DataFrame) = df.collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getLong(2), r.getLong(3)))).toMap
      val verdicts = byId(f.spark.read.parquet(out))
      // batch-2 verdicts == a DIRECT probe of a batch-1-only index:
      // streamed and batch shapes share one kernel and one index
      val idx1 = tempDir("graft-gate-bandref").toString
      DedupOps.bandIndexAppend(b1, idx1)
      val expect = byId(DedupOps.bandIndexProbe(f.spark, idx1, b2))
      val b2Ids = b2.collect().map(_.getLong(0)).toSet
      // every exact re-send whose original SIGNS (>=1 shingle) is
      // flagged, with first_match at or below the original (fm is the
      // MIN matching corpus id — the original itself, or an even-earlier
      // near-dup of it)
      val originals = signed(d2.filter(col("doc_id") < 25))
        .collect().map(_.getLong(0))
      // the streamed index equals a batch-built one: append b2 to the
      // reference and compare the full (doc_id, band, bkey) row sets
      DedupOps.bandIndexAppend(b2, idx1)
      def bandSet(p: String) = f.spark.read.parquet(s"$p/bands")
        .select("doc_id", "band", "bkey").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val nIn = b1.count() + b2.count()
      verdict(verdicts.size, nIn)(
        "one verdict per doc" -> (verdicts.size == nIn),
        "batch 1 all novel" -> b1.collect()
          .forall(r => verdicts.get(r.getLong(0)).contains((true, 0L, -1L))),
        "batch 2 == direct probe" -> (expect.keySet == b2Ids &&
          b2Ids.forall(id => verdicts.get(id) == expect.get(id))),
        "re-sends flagged against the original" -> originals.forall { o =>
          verdicts.get(o + 1000000L)
            .exists { case (novel, n, fm) => !novel && n >= 1 && fm <= o }
        },
        "streamed index == batch-built" -> (bandSet(idx) == bandSet(idx1)))
    },

    check("ann_tag_stream_vs_knn_graph") { f =>
      // stream the corpus's own vectors in 4 micro-batches through the
      // online ANN tagger; probe-batch invariance means the union of the
      // per-batch tags must equal the one-shot batch kNN graph exactly
      val (in, out, cp) = dirs("graft-gate-anntag")
      val emb = Tables.embeddings(f.spark, f.sfDir)
      val quarter = emb.count() / 4
      (0 until 4).foreach { i =>
        land(emb.filter(col("vec_id") >= i * quarter &&
            (col("vec_id") < (i + 1) * quarter || lit(i == 3))),
          in, f"00$i.parquet")
      }
      val q = VectorStreamOps.startAnnTagStream(
        f.spark, in.toString, emb.schema, f.sfDir, out, cp)
      q.processAllAvailable(); q.stop()
      val got = annTags(f.spark, out)
      val expect = knnGraph(f)
      verdict(got.length, expect.length)(
        "tags non-empty" -> got.nonEmpty,
        "stream == batch kNN graph" -> (got == expect))
    },

    check("ann_tag_replay_exactly_once") { f =>
      // a TRUE Structured Streaming replay: run the tagger to completion,
      // delete the last micro-batch's commit marker from the checkpoint,
      // restart on the same checkpoint — the engine re-executes that
      // batch, and the epoch-partition overwrite sink must replace its
      // own partition instead of appending duplicates (round-12 fix: the
      // old append sink was at-least-once, dedup a downstream obligation)
      val (in, out, cp) = dirs("graft-gate-annreplay")
      val emb = Tables.embeddings(f.spark, f.sfDir)
      val half = emb.count() / 2
      land(emb.filter(col("vec_id") < half), in, "000.parquet")
      land(emb.filter(col("vec_id") >= half), in, "001.parquet")
      def runTagger(): Unit = {
        val q = VectorStreamOps.startAnnTagStream(
          f.spark, in.toString, emb.schema, f.sfDir, out, cp)
        q.processAllAvailable(); q.stop()
      }
      runTagger()
      val before = annTags(f.spark, out)
      val last = Files.list(Paths.get(cp, "commits"))
        .filter(p => p.getFileName.toString.forall(_.isDigit))
        .max(java.util.Comparator.comparingLong(
          (p: Path) => p.getFileName.toString.toLong))
        .get()
      Files.delete(last)
      // the local checksum FS shadows each commit file with a .N.crc
      // sibling; leaving it behind makes the replayed commit's rename
      // fail with FileAlreadyExistsException (surfaced as a misleading
      // "multiple streaming queries" error)
      Files.deleteIfExists(
        last.resolveSibling("." + last.getFileName.toString + ".crc"))
      runTagger()
      val after = annTags(f.spark, out)
      // the union of the two halves is the full corpus, so the replayed
      // output must also equal the one-shot batch kNN graph
      verdict(after.length, before.length)(
        "replay == first run" -> (after == before),
        "replay == batch kNN graph" -> (after == knnGraph(f)))
    })

  /** The ANN tagger's sink projected on the family contract columns: the
    * sink is epoch-partitioned (exactly-once layout), and the partition
    * column is bookkeeping. */
  private def annTags(spark: SparkSession, out: String): Seq[String] =
    spark.read.parquet(out).select("q_id", "rn", "cand_id", "cos_sim")
      .orderBy("q_id", "rn").collect().map(_.toString).toSeq

  private def knnGraph(f: Fixture): Seq[String] =
    graft.operators.PqOps.knnGraph(f.spark, f.sfDir)
      .collect().map(_.toString).toSeq

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outJson = if (args.length > 1) args(1) else "STREAMGATE.json"
    val spark =
      GraftSession.builder("graft-stream-gate", "local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fixture = Fixture.stage(spark, sfDir)
    val results = checks.map { case (name, check) =>
      val c =
        try check(fixture)
        catch { case e: Throwable =>
          Check(-1, -1, ok = false,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
        }
      println(s"[streamgate] ${if (c.ok) "OK  " else "FAIL"} $name " +
        s"stream=${c.streamRows} batch=${c.batchRows} ${c.note}")
      name -> c
    }

    val pass = results.count(_._2.ok)
    val json = "{\"gate\":\"stream\",\"sf\":\"" + sfDir + "\"," +
      "\"checks\":" + results.size + ",\"pass\":" + pass + "," +
      "\"fail\":" + (results.size - pass) + ",\"results\":{" +
      results.map { case (n, c) =>
        "\"" + n + "\":{\"stream_rows\":" + c.streamRows +
          ",\"batch_rows\":" + c.batchRows + ",\"match\":" + c.ok +
          (if (c.note.nonEmpty)
            ",\"note\":\"" + c.note.replace("\"", "'") + "\"" else "") + "}"
      }.mkString(",") + "}}"
    fixture.close()
    Files.writeString(Paths.get(outJson), json + "\n")
    println(s"[streamgate] $pass/${results.size} -> $outJson")
    spark.stop()
    if (pass != results.size) sys.exit(1)
  }
}
