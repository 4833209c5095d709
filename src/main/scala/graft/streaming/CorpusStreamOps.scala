package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.functions.TextFunctions

/** Streaming twin of the corpus-cleaning path (TextOps/CorpusOps ★): new
  * document files land continuously, and each micro-batch is fingerprinted,
  * quality-gated, and exact-deduped — INCLUDING against every earlier batch,
  * which the batch pipeline can only do by full re-runs. The dedup state is
  * Spark's streaming aggregation state keyed by fingerprint.
  *
  * State note: `dropDuplicates` on a stream without a watermark keeps one
  * state row per distinct fingerprint forever — that IS the semantics of
  * global exact dedup (the key set is the state, a few dozen bytes per
  * distinct doc, mergeable and checkpointed). A deployment that only needs
  * near-horizon dedup adds an event-time column + watermark to bound it;
  * the transform is a plain DataFrame function so both variants share it.
  */
object CorpusStreamOps {

  /** One (band, bucket) row of a banded MinHash signature. */
  final case class SigDoc(doc_id: Long, band: Int, bkey: Int, sig: Seq[Long])
  /** A signature retained in bucket state. */
  final case class SigEntry(doc_id: Long, sig: Seq[Long])
  /** Per-band verdict: `dup_of` = lowest earlier doc_id whose signature
    * agreed at ≥ threshold in this bucket, None if the doc is new here. */
  final case class BandVerdict(doc_id: Long, band: Int, dup_of: Option[Long])

  /** Streaming MinHash+LSH NEAR-dup — the stateful twin of the batch
    * [[graft.operators.DedupOps.dedupMinhash]] path, and the step up from
    * [[clean]]'s exact dedup: an arriving document is flagged when its
    * MinHash signature agrees with an ALREADY-SEEN document's signature on
    * ≥ `threshold` of positions, across micro-batch boundaries — the
    * continuous-crawl near-dup gate that batch pipelines can only
    * approximate with full re-runs.
    *
    * Shape: signatures are a narrow scan (scalar
    * [[graft.functions.TextFunctions.minhashArray]], no explode/agg), the
    * stream is keyed by LSH (band, band-hash) bucket, and
    * `flatMapGroupsWithState` holds per-bucket state = the signatures seen
    * in that bucket (capped at `maxPerBucket`; full buckets stop absorbing
    * new state but still match against it — the same df-cap philosophy as
    * the batch shingle cap). Per-band verdicts are emitted append-mode;
    * [[resolveNearDups]] folds them into one per-doc verdict. State per
    * bucket is `maxPerBucket` × numHashes longs, bounded and checkpointed;
    * the bucket keyspace is high-cardinality so state shards evenly.
    *
    * State-growth bound, precisely: PER-BUCKET state is capped, but the
    * NUMBER of buckets is not — on a continuous stream total state grows
    * with distinct (band, band-hash) buckets touched, worst-case
    * O(docs × bands) with `NoTimeout`. A production deployment over an
    * unbounded stream should swap in a `ProcessingTimeTimeout` and let
    * cold buckets expire (trading recall against far-apart duplicates for
    * bounded state), or periodically rebase against a batch-deduped
    * corpus via [[graft.operators.DedupOps.dedupIncremental]]'s pattern.
    * Saturation is observable: once a bucket hits `maxPerBucket`, later
    * first-seen docs are matched against but never stored, so their own
    * future near-dups go unflagged — every such uncached signature is
    * counted in the `graft.neardup.dropped_signatures` accumulator
    * (visible in the Spark UI / `sparkContext` metrics), so recall loss
    * from bucket saturation is observable instead of silent. Accumulator
    * caveat: inside a stateful operator Spark guarantees only
    * at-least-once accounting — task retries and micro-batch
    * re-executions re-add their partition's drops — so treat the counter
    * as an upper bound / saturation alarm, not an exact count.
    *
    * Determinism: micro-batch rows are processed in doc_id order and match
    * against the lowest-id qualifying signature, so replays emit identical
    * verdicts. */
  def nearDupFlags(docs: DataFrame, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxPerBucket: Int = 64): Dataset[BandVerdict] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    import spark.implicits._
    val r = numHashes / bands
    val dropped =
      spark.sparkContext.longAccumulator("graft.neardup.dropped_signatures")
    val sigs = docs.select(col("doc_id"),
        TextFunctions.minhashArray(
          TextFunctions.shingles(TextFunctions.tokensLower(col("text"))),
          numHashes).as("sig"))
      .filter(col("sig").isNotNull)
    val bandStructs = (0 until bands).map { j =>
      struct(lit(j).as("band"), hash(slice(col("sig"), j * r + 1, r)).as("bkey"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"),
        col("sig"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bkey").as("bkey"), col("sig"))
      .as[SigDoc]
      .groupByKey(d => (d.band, d.bkey))
      .flatMapGroupsWithState[List[SigEntry], BandVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Int), it: Iterator[SigDoc], state: GroupState[List[SigEntry]]) =>
          def sim(a: Seq[Long], b: Seq[Long]): Double =
            a.iterator.zip(b.iterator).count { case (x, y) => x == y }
              .toDouble / numHashes
          var seen = state.getOption.getOrElse(Nil)
          val out = List.newBuilder[BandVerdict]
          it.toList.sortBy(_.doc_id).foreach { d =>
            val hit = seen.iterator
              .filter(e => sim(e.sig, d.sig) >= threshold)
              .map(_.doc_id)
              .minOption
            if (hit.isEmpty) {
              if (seen.size < maxPerBucket)
                seen = seen :+ SigEntry(d.doc_id, d.sig)
              else dropped.add(1L) // saturated bucket: recall loss, counted
            }
            out += BandVerdict(d.doc_id, key._1, hit)
          }
          state.update(seen)
          out.result().iterator
      }
  }

  /** One streamed document with its curation domain key. */
  final case class DomainDoc(doc_id: Long, domain: String)
  /** Irrevocable keep/drop verdict of the streaming domain cap. */
  final case class DomainCapVerdict(doc_id: Long, domain: String,
      keep: Boolean)

  /** Streaming per-domain cap — the curation endgame's stateful policy
    * (round-14 verdict ask #5): per-domain RUNNING kept-counts decide
    * keep/drop irrevocably as documents arrive. This is the
    * FIRST-ARRIVAL policy (a stream cannot honor the declared batch
    * query's keep-longest rank without retractions), but the per-domain
    * kept COUNT min(cap, n_docs) is policy-independent — exactly what
    * StreamGate pins against the declared
    * [[graft.operators.DomainOps.domainCaps]] audit, alongside bitwise
    * verdict equality with the batch first-arrival replay.
    *
    * State per domain is ONE long (kept so far) — the smallest possible
    * dedup-state instance, bounded by the domain keyspace (~10⁵–10⁷
    * hosts on a real corpus; a few MB of longs), checkpointed and
    * mergeable. Micro-batch rows process in doc_id order, so replays
    * emit identical verdicts. */
  def domainCapFlags(docs: DataFrame,
      cap: Int = graft.operators.DomainOps.CapDocs)
      : Dataset[DomainCapVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"),
        graft.operators.DomainOps.domainKey.as("domain"))
      .as[DomainDoc]
      .groupByKey(_.domain)
      .flatMapGroupsWithState[Long, DomainCapVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (domain: String, it: Iterator[DomainDoc], state: GroupState[Long]) =>
          var kept = state.getOption.getOrElse(0L)
          val out = List.newBuilder[DomainCapVerdict]
          it.toList.sortBy(_.doc_id).foreach { d =>
            val keep = kept < cap
            if (keep) kept += 1
            out += DomainCapVerdict(d.doc_id, domain, keep)
          }
          state.update(kept)
          out.result().iterator
      }
  }

  /** A full-payload document flowing through the streaming domain cap. */
  final case class DomainCapDoc(doc_id: Long, domain: String, source: String,
      text: String)

  /** PRODUCTION streaming domain cap (round 15): the same
    * one-long-per-domain state as [[domainCapFlags]], but the document
    * PAYLOAD rides through the stateful operator and only KEPT documents
    * are emitted — the curation cap as an actual in-stream filter feeding
    * a sink, not an audit of verdicts. [[domainCapFlags]] stays the audit
    * shape (verdicts for every doc, including drops); this is the shape a
    * crawl pipeline deploys.
    *
    * Scale: the payload pays exactly one shuffle — to the domain key —
    * the same shuffle the batch group-by pays; a dropped document's text
    * is discarded AT the stateful operator, so the sink only ever writes
    * survivors (for a binding cap that is a small fraction of arrivals).
    * State is still one long per domain, bounded by the domain keyspace
    * and independent of payload size. A mega-domain concentrates its
    * micro-batch rows in one task, but per-batch volume is bounded by the
    * trigger (`maxFilesPerTrigger`), and once the cap is hit the
    * per-row work is a counter compare — the skew-hostile part (carrying
    * a mega-domain's full history) never exists because only the COUNT is
    * state. Micro-batch rows process in doc_id order, so replays emit
    * identical survivor sets. */
  def domainCapDocs(docs: DataFrame,
      cap: Int = graft.operators.DomainOps.CapDocs)
      : Dataset[DomainCapDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select(col("doc_id"),
        graft.operators.DomainOps.domainKey.as("domain"),
        col("source"), col("text"))
      .as[DomainCapDoc]
      .groupByKey(_.domain)
      .flatMapGroupsWithState[Long, DomainCapDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[DomainCapDoc], state: GroupState[Long]) =>
          var kept = state.getOption.getOrElse(0L)
          val out = List.newBuilder[DomainCapDoc]
          it.toList.sortBy(_.doc_id).foreach { d =>
            if (kept < cap) { kept += 1; out += d }
          }
          state.update(kept)
          out.result().iterator
      }
  }

  /** File-source document stream → [[domainCapDocs]] → append parquet
    * sink: the deployable curation-cap loop (new crawl drops land as
    * files; capped survivors land in `outDir` with full payload;
    * per-domain running counts persist in the checkpoint across
    * restarts). Sink caveat as [[startBandIndexStream]]: parquet append
    * is at-least-once under replays — dedup downstream by doc_id if the
    * consumer needs exactly-once. */
  def startDomainCapStream(spark: SparkSession, inputDir: String,
      schema: StructType, outDir: String, checkpointDir: String,
      cap: Int = graft.operators.DomainOps.CapDocs): StreamingQuery =
    domainCapDocs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inputDir), cap)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  /** Fold [[nearDupFlags]]' per-band verdicts into one per-doc verdict: a
    * doc is a near-dup iff ANY band flagged it; `dup_of` is the lowest
    * flagged partner. A plain batch aggregation, run on the sink output
    * (or as a second stage where multiple stateful operators are
    * acceptable). */
  def resolveNearDups(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("doc_id"))
      .agg(min(col("dup_of")).as("dup_of"))
      .withColumn("is_dup", col("dup_of").isNotNull)
      .orderBy(col("doc_id"))

  /** Score documents with the logistic quality classifier as a NARROW
    * map — per-row features (dupfrac via array_distinct instead of the
    * batch explode+groupBy: the same n_distinct/n_total integer ratio,
    * no aggregation) so the transform runs unchanged on a batch frame
    * and inside a streaming micro-batch (append mode, no state, no
    * watermark). `weights` = (bias, w_swr, w_len, w_dup, w_awl) is the
    * broadcast model riding the closure — the declared fixed weights of
    * q_quality_logistic by default; feed q_quality_train's learned row
    * for the trained variant. The train-offline / score-in-stream split,
    * same contract as [[scoreWithModel]]; StreamGate's
    * quality_scoring_vs_declared_twin pins bitwise parity with the
    * declared batch query. */
  def scoreQuality(docs: DataFrame,
      weights: Seq[Double] = Seq(-1.0, 8.0, 1.5, -4.0, -0.3)): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val toks = TextFunctions.tokens(col("text"))
    val toksL = TextFunctions.tokensLower(col("text"))
    // feature expressions mirror TextOps.logisticFeaturesDf term-for-term
    // (and the z chain mirrors logisticPKeepDf's association order), so
    // the 4-dp-rounded probability is bit-identical to the batch path
    val feats = docs
      .filter(size(toks) > 0)
      .select(col("doc_id"),
        size(toks).cast("double").as("n_toks"),
        (length(regexp_replace(col("text"), "\\s", "")).cast("double")
          / size(toks)).as("awl"),
        (TextFunctions.tokenMatchCount(toksL,
          graft.operators.TextOps.EnWords).cast("double")
          / size(toks)).as("swr"),
        (lit(1.0) - size(array_distinct(toksL)) / size(toksL))
          .as("dupfrac"))
    val z = lit(weights(0)) + col("swr") * weights(1) +
      least(col("n_toks") / 100.0, lit(1.0)) * weights(2) +
      col("dupfrac") * weights(3) + abs(col("awl") - 5.0) * weights(4)
    feats.select(col("doc_id"),
      stableRound4(lit(1.0) / (lit(1.0) + exp(-z))).as("p_keep"))
      .withColumn("keep", col("p_keep") >= 0.5)
  }

  /** Streaming per-source token rollup — the micro-batched input to the
    * temperature mixer (complete output mode): state is ONE running sum
    * per source, bounded by the source domain, so an unbounded corpus
    * stream carries |sources| rows of state. The mixing weights
    * themselves are a post-aggregation transform ([[mixFromCounts]])
    * because shares are a function of ALL sources' totals — recomputing
    * them per micro-batch from the cumulative counts is exactly the
    * "cumulative mix converges to the batch mix" contract. */
  def sourceTokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"),
        size(TextFunctions.tokens(col("text"))).as("n_toks"))
      .groupBy(col("source"))
      .agg(sum(col("n_toks")).cast("bigint").as("n_tokens"))

  /** Temperature-smoothed mixing weights from a (source, n_tokens)
    * counts frame — written term-for-term as the declared
    * [[graft.operators.CorpusOps.temperatureMix]] expression, so a
    * drained streaming rollup fed through this is bit-identical to the
    * declared batch query's output. */
  def mixFromCounts(counts: DataFrame, tau: Double = 0.7): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val totals = counts.agg(
      sum(col("n_tokens")).cast("double").as("tot_tokens"),
      sum(pow(col("n_tokens").cast("double"), tau)).as("tot_pow"))
    counts.crossJoin(broadcast(totals))
      .select(
        col("source"), col("n_tokens"),
        stableRound4(col("n_tokens") / col("tot_tokens")).as("raw_share"),
        stableRound4(pow(col("n_tokens").cast("double"), tau)
          / col("tot_pow")).as("temp_share"),
        stableRound4(pow(col("n_tokens").cast("double"), tau)
          / col("tot_pow") / (col("n_tokens") / col("tot_tokens")))
          .as("boost"))
      .orderBy(col("source"))
  }

  /** Batch/stream-shared cleaning transform: fingerprint, length gate,
    * first-seen-wins exact dedup on the fingerprint. */
  def clean(docs: DataFrame, minTokens: Int = 5): DataFrame =
    docs
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withColumn("n_tokens", size(TextFunctions.tokens(col("text"))))
      .filter(col("n_tokens") >= minTokens)
      .dropDuplicates("fp")

  /** Train a BOUNDED unigram quality model on a batch corpus: the `topK`
    * most frequent tokens with their corpus log10 probability, plus an OOV
    * floor (the log-prob of a once-seen token). Bounded so the model can be
    * broadcast into a streaming scorer — the standard train-offline /
    * score-in-stream split; the full-corpus batch twin is
    * [[graft.operators.TextOps.unigramLogprob]]. */
  def trainUnigramModel(docs: DataFrame, topK: Int = 65536)
      : (Map[String, Double], Double) = {
    val counts = docs
      .select(explode(TextFunctions.tokensLower(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n"))).head().getLong(0).toDouble
    val top = counts.orderBy(col("n").desc, col("token")).limit(topK)
      .collect().map(r => r.getString(0) -> math.log10(r.getLong(1) / total))
      .toMap
    (top, math.log10(1.0 / total))
  }

  /** Score documents under a bounded unigram model as a NARROW map — no
    * explode, no aggregation, no join, so it runs identically on a batch
    * frame and inside a streaming micro-batch (append mode needs no state).
    * The model rides the closure like [[graft.operators.IvfOps]]'s
    * centroids: bounded driver-held state broadcast to executors. */
  def scoreWithModel(docs: DataFrame, model: Map[String, Double],
      oovLogp: Double): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val score = udf { toks: Seq[String] =>
      if (toks.isEmpty) None
      else Some(toks.map(t => model.getOrElse(t, oovLogp)).sum / toks.size)
    }
    docs
      .withColumn("mean_logp",
        stableRound4(score(TextFunctions.tokensLower(col("text")))))
      .filter(col("mean_logp").isNotNull)
      .withColumn("low_quality", col("mean_logp") < -3.5)
  }

  /** File-source stream of document parquet → [[clean]] → append parquet
    * sink, one micro-batch per arriving file (the chunked-ingest loop with
    * cross-batch dedup state). */
  def start(spark: SparkSession, inputDir: String, schema: StructType,
      outDir: String, checkpointDir: String): StreamingQuery =
    clean(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inputDir))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  /** Streaming front door for the STANDING band index
    * ([[graft.operators.DedupOps.bandIndexAppend]]/`bandIndexProbe`): each
    * micro-batch of (doc_id, text) documents is screened against the index
    * ON STORAGE, its novelty verdicts land in `outDir`, and the batch's own
    * band/shingle rows are appended to the index — so batch N dedups
    * against batches 1..N−1 and the index grows by appends, never a
    * rebuild. This is the daily-crawl-drop loop as a `foreachBatch`
    * stream: the nightly batch shape and the streaming shape share ONE
    * index and one probe kernel (StreamGate's band-index check pins the
    * streamed verdicts to a direct `bandIndexProbe` recompute).
    *
    * State lives entirely in the index tables, not executor memory — the
    * contrast with [[nearDupFlags]], whose per-bucket signature state is
    * capped in `flatMapGroupsWithState`. Index appends are EXACTLY-ONCE
    * under replays: each micro-batch's rows land under its epoch
    * partition (`epoch=<batch id>`) with dynamic partition overwrite, so
    * a batch replayed after a crash replaces its own partitions instead
    * of duplicating them (DedupSpec pins replay == single append). The
    * PROBE is replay-idempotent too: each batch probes with
    * `maxEpochExclusive = epochId`, so a batch replayed after its own
    * append committed (crash between append and checkpoint commit) still
    * probes exactly the pre-batch index instead of matching itself at
    * Jaccard 1.0 — re-emitted verdicts are bitwise duplicates of the
    * originals (DedupSpec pins probe-after-append == fenced probe). The
    * verdict sink is plain append parquet — re-emitted verdicts are the
    * standard at-least-once file-sink caveat, deduped downstream by
    * (doc_id) if the consumer needs exactly-once. */
  def startBandIndexStream(spark: SparkSession, inputDir: String,
      schema: StructType, indexPath: String, outDir: String,
      checkpointDir: String): StreamingQuery =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inputDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        val b = batch.select(col("doc_id"), col("text"))
        val sp = batch.sparkSession
        // Hadoop FS (not java.io.File) so the first-batch check follows
        // the index path's scheme — on HDFS/S3 a local-File check is
        // always false and every batch would skip the probe
        val bandsPath = new org.apache.hadoop.fs.Path(s"$indexPath/bands")
        val bandsExist = bandsPath
          .getFileSystem(sp.sparkContext.hadoopConfiguration)
          .exists(bandsPath)
        val verdicts =
          if (bandsExist)
            graft.operators.DedupOps.bandIndexProbe(sp, indexPath, b,
              maxEpochExclusive = Some(epochId))
          else
            // first drop: nothing to probe — everything is novel
            b.select(col("doc_id"), lit(true).as("is_novel"),
              lit(0L).as("n_corpus_matches"), lit(-1L).as("first_match"))
        verdicts.write.mode("append").parquet(outDir)
        graft.operators.DedupOps.bandIndexAppend(b, indexPath,
          epoch = Some(epochId))
      }
      .start()
}
