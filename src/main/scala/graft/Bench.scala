package graft
import org.apache.spark.sql.DataFrame
/** The harness that times declared queries:
  * `runMain graft.Bench [q_a,q_b,...] [reps]`. With no arguments it times
  * every declared query, best of 2, and also writes the full line to
  * BENCH_FULL.json, the full-surface stamp. A subset (ONE comma-separated
  * token, like Verify's) runs the same warm pass, timed loop, canary
  * samples and four lines over those queries only. Every rep's time goes
  * to stderr as a `[bench]` line, so a 0.1 s delta can be judged signal
  * vs noise.
  *
  * Timed action (round 14): the query's own physical plan via
  * [[FullExec.count]] — a bare df.count() re-optimizes with all columns
  * pruned and ELIMINATES work-bearing operators outright (78/350 queries
  * lose Join/Window/Aggregate/Generate nodes; see FullExec's scaladoc for
  * the measured q_semdedup case). */
object Bench {
  /** The declared queries a run times, in name order: all of them, or the
    * named subset. Unknown names fail before any session starts. */
  def selectQueries(subset: Option[String]): Seq[String] = subset match {
    case None => SparkEntry.queries.keys.toSeq.sorted
    case Some(token) =>
      val names = token.split(",").map(_.trim).filter(_.nonEmpty)
        .distinct.sorted.toSeq
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(names.nonEmpty, s"empty query subset '$token'")
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
      names
  }

  /** Every timed rep's seconds, up to and including the first failing
    * one, and that failure's first line cut to 200 characters. */
  final case class Timing(times: Seq[Double], error: Option[String]) {
    def min: Double = times.min
  }

  /** Times `reps` runs of `query` — building the DataFrame (its eager
    * driver jobs included) and executing it through [[FullExec.count]] —
    * and stops at the first error. */
  def timeQuery(reps: Int)(query: => DataFrame): Timing = {
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    var error: Option[String] = None
    while (times.size < reps && error.isEmpty) {
      val t0 = System.nanoTime()
      error = try { FullExec.count(query); None } catch {
        case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(200))
      }
      times += (System.nanoTime() - t0) / 1e9
    }
    Timing(times.toSeq, error)
  }

  private def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) 1.0
    else {
      val s = xs.sorted.toIndexedSeq
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
  }

  /** Canary set for contention normalization (round 11): same-HEAD bench
    * totals swing 95–128 s under host contention, so raw totals keep
    * getting re-adjudicated as phantom regressions. These 10 queries are
    * mid-cost (0.28–1.0 s), plan-stable since ≤ r8, spread across operator
    * families (corpus/TPC-H/embedding/event/dedup), and were selected as
    * the lowest round-over-round deviation from the total's own trend on
    * the r8–r10 stamps. Each bench emits the canary sum and a NORMALIZED
    * total = total × (CanaryRefSeconds / canary); regressions gate on the
    * normalized number (BASELINE.md trend table). */
  val Canary: Seq[String] = Seq("q_tfidf", "q_pareto", "q_dedup_embed",
    "q_semdedup", "q_tpch_q18", "q_sparse_sim", "q_watermark_sim",
    "q_ngram_containment", "q_order_gaps", "q_dedup_survivor")

  /** Canary reference costs under the round-14 FullExec action — the
    * same-HEAD re-derivation the action change REQUIRES (a ref stamped
    * under count() does not describe the quantity the exec action
    * measures; four of the ten canaries carry work count() used to
    * skip). Stamped from the round-14 same-HEAD exec-action run
    * (best-of-2 per canary, sf0.1). FIXED from round 14 on; do not
    * re-derive from the current run. Round 13's contention-sampling
    * design is unchanged: the gate reads the MEDIAN of the ten
    * in-sweep factors, single-shot burst samples stay out-of-gate. */
  val CanaryRefSeconds: Double = 6.546
  val CanaryRef: Map[String, Double] = Map(
    "q_tfidf" -> 0.565609, "q_pareto" -> 0.435987,
    "q_dedup_embed" -> 0.223569, "q_semdedup" -> 0.603260,
    "q_tpch_q18" -> 0.478446, "q_sparse_sim" -> 0.676732,
    "q_watermark_sim" -> 0.565214, "q_ngram_containment" -> 1.497796,
    "q_order_gaps" -> 0.545769, "q_dedup_survivor" -> 0.953821)

  /** Burst-gate alarms (see the burst gate in [[main]]): a window whose
    * relative factor exceeds this flags the queries timed inside it... */
  val BurstWindowRelFactor = 2.0
  /** ...and a run whose two normalized totals disagree by more than this
    * ratio is corrupted as a whole. */
  val BurstDisagreementAlert = 1.3

  /** Burst-gate window factors, one per interleaved canary sample:
    * (position, relative factor), in position order. Each single-shot
    * sample is rebased on the SAME canary's in-sweep best-of-reps time
    * from the same run — or, for a canary the sweep did not time (a subset
    * run), on its [[CanaryRef]] — and read relative to the median of those
    * ratios. Rebasing per canary cancels each canary's own drift from its
    * round-14 ref, which differs canary by canary: read against the refs,
    * q_order_gaps samples at 1.9–2.5× while others sit below theirs, and
    * the committed sweep's relative factors span 0.47–1.42 where rebased
    * they span 0.81–1.22. Rebased, a window reads high only when the host
    * was slower while its sample ran. */
  def burstWindows(samples: Seq[(Int, String, Double)],
      inSweep: Map[String, Double]): Seq[(Int, Double)] = {
    val ratios = samples.sortBy(_._1).map { case (pos, q, sec) =>
      (pos, sec / inSweep.get(q).filter(_ > 0).getOrElse(CanaryRef(q)))
    }
    val m = median(ratios.map(_._2))
    ratios.map { case (pos, r) => (pos, if (m > 0) r / m else 1.0) }
  }

  /** Interleave cadence: one canary re-sample per this many swept
    * queries — ~20 samples across a 306-query sweep, ~8 s of untimed
    * overhead (samples never count toward the total). */
  val CanarySampleEvery: Int = 15

  def main(args: Array[String]): Unit = {
    val subset = args.headOption
    val names = selectQueries(subset)
    val reps = if (args.length > 1) args(1).toInt else 2
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-bench", s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session so timed numbers are steady-state execution, not
    // one-time JVM cost: table counts load parquet footers, then a pass of
    // every timed query at sf0.001 (~1% of the timed data) compiles each
    // plan's whole-stage codegen and JITs it. The compiled classes stay
    // cached for the sweep because the factory sizes the generated-class
    // cache to hold them (GraftSession.GeneratedClassCacheEntries);
    // steady-state is the number that scales.
    Seq("lineitem", "documents", "embeddings", "events")
      .foreach(t => Tables(spark, sfDir, t).count())
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    // Track warm failures: a missing warm dir would silently produce
    // cold-start timings that aren't comparable to warmed runs. The canaries
    // are warmed too: a subset run still samples them.
    var warmFailures = 0
    (names ++ Canary).distinct.foreach { name =>
      try FullExec.count(SparkEntry.queries(name)(spark, warmDir))
      catch { case _: Throwable => warmFailures += 1 }
    }
    // best-of-reps per query (declared as "agg":"min" in the JSON): one
    // timing is hostage to GC pauses and OS scheduling noise — full-run
    // totals swing ±25% on an otherwise idle box — while the min of two
    // runs is a stable steady-state execution-cost estimate.
    // Interleaved canary samples (see CanaryRef doc): (position, query,
    // seconds, factor), collected OUTSIDE the timed results.
    val canarySamples =
      scala.collection.mutable.ArrayBuffer[(Int, String, Double, Double)]()
    var sampleIdx = 0
    var sampleErrors = 0
    def sampleCanary(pos: Int): Unit = {
      val cq = Canary(sampleIdx % Canary.size)
      sampleIdx += 1
      val t0 = System.nanoTime()
      try {
        FullExec.count(SparkEntry.queries(cq)(spark, sfDir))
        val t = (System.nanoTime() - t0) / 1e9
        canarySamples += ((pos, cq, t, t / CanaryRef(cq)))
      } catch {
        // NonFatal only (round-13 advisor): an OOM/interrupt during a
        // sample must propagate, not vanish — a fatal error swallowed
        // here would leave the sweep running in a corrupted JVM. A
        // NonFatal sample failure is dropped from the diagnostics but
        // COUNTED (n_sample_errors in the JSON) so a sample-phase-only
        // failure mode is visible even when the in-sweep run passes.
        case scala.util.control.NonFatal(_) => sampleErrors += 1
      }
    }
    val results = names.zipWithIndex.map { case (name, pos) =>
      if (pos % CanarySampleEvery == 0) sampleCanary(pos)
      val t = timeQuery(reps)(SparkEntry.queries(name)(spark, sfDir))
      val ts = t.times
      System.err.println(f"[bench] $name reps=$reps min=${ts.min}%.3f " +
        f"median=${median(ts)}%.3f max=${ts.max}%.3f " +
        s"all=${ts.map(x => f"$x%.3f").mkString(",")}" +
        t.error.fold("")(e => s" error=$e"))
      (name, t.min, t.error)
    }
    // A crashed query must not masquerade as a timing: null in "queries",
    // message in "errors".
    val qs = results.map { case (k, v, err) =>
      "\"" + k + "\":" + (if (err.isDefined) "null" else v.toString)
    }.mkString("{", ",", "}")
    // JSON-escape including control chars (< 0x20): a tab or CR in an
    // exception message must not break the line-oriented metrics contract.
    def jsonEscape(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val errs = results.collect { case (k, _, Some(m)) =>
      "\"" + k + "\":\"" + jsonEscape(m) + "\""
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, None) => v }.sum
    val canarySet = Canary.toSet
    // n_canary guards the normalization itself (round-12 advisor fix):
    // an errored/missing canary query used to silently drop out of the
    // canary sum and INFLATE normalized_total. Now the canary count is
    // asserted in the JSON and an incomplete canary set invalidates the
    // normalized number (falls back to raw) instead of skewing it. The
    // complementary blind spot — a uniform engine-wide slowdown scales
    // the canaries too and leaves normalized_total flat — is why
    // BASELINE.md's trend gate reads BOTH columns: normalized against
    // the tight band, raw against a looser contention band.
    val inSweep = results.collect {
      case (k, v, None) if canarySet(k) => (k, v) }
    val canaryTimes = inSweep.map(_._2)
    val canary = canaryTimes.sum
    val nCanary = canaryTimes.size
    val canaryComplete = nCanary == Canary.size
    val normalized =
      if (canaryComplete && canary > 0) total * (CanaryRefSeconds / canary)
      else total
    // Median contention factor: the GATE number uses only the ten
    // in-sweep best-of-2 canary runs (alphabetically spread through the
    // sweep — ten time samples of the host), each converted to t/ref.
    // Median, not sum: one burst-hit canary dragged the r12 sum up to
    // ±20 % after normalization; the median of ten spread factors
    // ignores it. The single-shot interleaved samples are emitted as
    // BURST DIAGNOSTICS only — measured on this host (first r13 run),
    // single-shot factors read ~1.18 median while best-of-2 reads ~0.86,
    // because the refs are best-of-2 stamps; mixing the two populations
    // into one median would re-bias the gate, so they stay separate.
    val inSweepFactors = inSweep.map { case (k, v) => v / CanaryRef(k) }
    val factorMedian = median(inSweepFactors)
    val normalizedMed =
      if (inSweepFactors.nonEmpty && factorMedian > 0) total / factorMedian
      else total
    val sampleFactors = canarySamples.map(_._4).toSeq
    // ---- burst gate (round 15) ----
    // The round-14 driver run proved the median-of-ten factor gate is
    // blind to INTERMITTENT bursts: contention that lands between the
    // ten in-sweep canaries corrupts contiguous alphabetical windows
    // (361.1 s raw vs a 240.7–251.8 s same-HEAD triple) while the
    // median factor still reads idle — and the two normalization
    // columns then disagree by 1.8×. Two instruments fix the blindness
    // using data the sweep already collects:
    //  1. burst_disagreement = max/min of the two normalized columns
    //     (canary-SUM-scaled vs median-FACTOR-scaled). On clean runs
    //     they agree within ~1 % (r14 triple: 258.4 vs 260.7); a burst
    //     inflates the sum (and the raw total) but not the median, so
    //     the ratio is a run-level corruption alarm. Alert > 1.3.
    //  2. Per-WINDOW factors from the interleaved single-shot samples:
    //     sample k covers timed positions [pos_k, pos_{k+1}). Each
    //     window factor is the sample rebased on its canary's in-sweep
    //     time, relative to the run's median rebased sample
    //     ([[burstWindows]]); a window whose relative factor exceeds 2×
    //     flags every query timed inside it. burst_window_seconds prices
    //     the damage; normalized_total_windowed deflates ONLY the flagged
    //     windows (idle windows pass through — no upward rescaling).
    // trend_eligible (the bit BASELINE.md's protocol reads): true iff
    // no alarm fired. A non-eligible run is usable for correctness but
    // must not become a trend row.
    val sampleMedian = median(sampleFactors)
    val relWindows = burstWindows(
      canarySamples.map { case (pos, q, t, _) => (pos, q, t) }.toSeq,
      inSweep.toMap)
    def windowRel(p: Int): Double = {
      val covering = relWindows.takeWhile(_._1 <= p)
      if (covering.isEmpty) 1.0 else covering.last._2
    }
    val nBurstWindows = relWindows.count(_._2 > BurstWindowRelFactor)
    val timedByPos = results.zipWithIndex
    val burstWindowSeconds = timedByPos.collect {
      case ((_, v, None), p) if windowRel(p) > BurstWindowRelFactor => v
    }.sum
    val windowedTotal = timedByPos.collect { case ((_, v, None), p) =>
      val rel = windowRel(p)
      if (rel > BurstWindowRelFactor) v / rel else v
    }.sum
    val burstDisagreement =
      if (math.min(normalized, normalizedMed) > 0)
        math.max(normalized, normalizedMed) / math.min(normalized, normalizedMed)
      else 1.0
    val trendEligible =
      burstDisagreement <= BurstDisagreementAlert && nBurstWindows == 0
    def f4(x: Double) = f"$x%.4f"
    val samplesJson = canarySamples.map { case (pos, q, t, fac) =>
      s"""{"pos":$pos,"q":"$q","sec":${f4(t)},"factor":${f4(fac)}}"""
    }.mkString("[", ",", "]")
    val factorStats =
      s""""canary_factor_median":${f4(factorMedian)},"canary_factor_min":${f4(if (inSweepFactors.isEmpty) 1.0 else inSweepFactors.min)},"canary_factor_max":${f4(if (inSweepFactors.isEmpty) 1.0 else inSweepFactors.max)},"n_factor_samples":${inSweepFactors.size},"sample_factor_median":${f4(sampleMedian)},"n_burst_samples":${sampleFactors.size},"n_sample_errors":$sampleErrors,"normalized_total_med":$normalizedMed,"burst_disagreement":${f4(burstDisagreement)},"n_burst_windows":$nBurstWindows,"burst_window_seconds":${f4(burstWindowSeconds)},"normalized_total_windowed":${f4(windowedTotal)},"trend_eligible":$trendEligible"""
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"agg":"min","canary":$canary,"canary_ref":$CanaryRefSeconds,"action":"exec","n_canary":$nCanary,"canary_complete":$canaryComplete,"normalized_total":$normalized,$factorStats,"canary_samples":$samplesJson,"queries":$qs,"errors":$errs,"warm_failures":$warmFailures,"sf":"$sfDir"}"""
    println(fullLine)
    // The full line above is ~4 KB (one entry per query) and has outrun the
    // driver's captured output tail every round (BENCH_r01..r03 all record
    // "parsed": null). Emit a compact summary LAST so it always survives
    // tail truncation and the 2x-of-baseline perf gate can actually evaluate.
    val nErr = results.count(_._3.isDefined)
    println(s"""{"metric":"total_compact","value":$total,"unit":"sec","reps":$reps,"agg":"min","canary":$canary,"n_canary":$nCanary,"canary_complete":$canaryComplete,"normalized_total":$normalized,$factorStats,"n_queries":${results.size},"n_err":$nErr,"warm_failures":$warmFailures,"sf":"$sfDir"}""")
    // Third compact line: the ~20 slowest queries. The full per-query map
    // above is what regression tracking wants, but it has been truncated by
    // the driver's output tail cap every round; the slow tail is the part
    // that matters for perf triage, so give it its own always-survives line.
    val slowest = results.collect { case (k, v, None) => (k, v) }
      .sortBy(-_._2).take(20)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"slowest","n":20,"unit":"sec","reps":$reps,"agg":"min","queries":$slowest,"sf":"$sfDir"}""")
    // Fourth line (round 16, additions-only): the shared-artifact build
    // ledger. Session-shared family builds (ANN indexes, graph artifacts)
    // are paid once by the first consumer's rep 1 and then best-of-reps `min`
    // drops them from every per-query figure and the total — the round-15
    // verdict's accounting gap. SessionCache records each winning build's
    // wall-clock; "build_total_sec" (not "value", which stays the sweep
    // total's key) sums the builds keyed on the TIMED data dir (sf0.001 warm
    // keys reported, not summed): a cold sweep costs total + build_total_sec.
    val buildLog = graft.operators.SessionCache.buildLog
    val timedBuilds = buildLog.filter(_._1.contains(sfDir))
    val buildsJson = buildLog.toSeq.sortBy(-_._2).map { case (k, v) =>
      "\"" + jsonEscape(k) + "\":" + f4(v)
    }.mkString("{", ",", "}")
    println(s"""{"metric":"build_sec","build_total_sec":${f4(timedBuilds.values.sum)},"unit":"sec","n_builds_timed_dir":${timedBuilds.size},"n_builds_total":${buildLog.size},"note":"first-payer shared-artifact builds excluded from best-of-$reps minima; cold-session sweep ~= total + build_total_sec","builds":$buildsJson,"sf":"$sfDir"}""")
    // And persist the complete per-query JSON as a file so round-over-round
    // deltas never depend on how much of stdout the driver kept. The forked
    // JVM's cwd is the sbt base directory, so the default lands in-repo and
    // is committed each round. Only a full-surface run writes it.
    if (subset.isEmpty) {
      val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
      try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"bench: could not write $outPath: $e")
      }
    }
    spark.stop()
  }
}
