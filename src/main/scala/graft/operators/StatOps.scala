package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.NumericFunctions.stableRound4

/** Two-sample distribution tests, each run per source against the rest of
  * the corpus — the statistical backbone of per-source drift monitoring in
  * a training-data pipeline (is THIS crawl slice length-distributed like
  * the corpus it feeds?). Complements the parametric q_ttest (Welch) with
  * distribution-free tests: Kolmogorov-Smirnov on the full ECDF and
  * Mann-Whitney U on ranks.
  *
  * Scale shape: both tests are computed on the VALUE-COMPRESSED
  * distribution — one aggregation shuffle collapses the corpus to
  * (value → count) rows, and every window below runs over that aggregate,
  * never the raw rows. The windows are therefore bounded by the value
  * cardinality of an integer document length (≤ max doc length, ~10³–10⁶
  * distinct values at any corpus size), not by corpus row count: the same
  * trick that makes exact medians feasible on 100 TB when the domain is
  * discrete. The per-source ECDF window partitions by source (parallel
  * across sources); the global rank window is a single partition over the
  * compressed values — bounded by the domain, and documented as such.
  */
object StatOps {

  /** Shared engine/oracle Wilson-interval constants (q_wilson_ci) — the
    * oracle SQL interpolates these so both sides cannot drift. */
  val WilsonThreshold = 50.0
  val WilsonZ = 1.96

  /** (source, v=n_chars) row set plus the shared compressed marginals. */
  private def compressed(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val d = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("v"))
    val byValue = d.groupBy(col("v")).agg(count(lit(1)).as("n_v"))
    val bySourceValue = d.groupBy(col("source"), col("v"))
      .agg(count(lit(1)).as("n_sv"))
    val bySource = d.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    (byValue, bySourceValue, bySource)
  }

  /** q_ks_test: per-source two-sample Kolmogorov-Smirnov statistic of the
    * doc-length distribution, source vs rest-of-corpus:
    * D = max_v |F_src(v) − F_rest(v)|, evaluated on the full grid of
    * (source × distinct value) so jump points of EITHER sample are seen.
    * Exact integer counts until the final two divisions. */
  def ksTest(spark: SparkSession, dir: String): DataFrame = {
    val (byValue, bySourceValue, bySource) = compressed(spark, dir)
    val total = byValue.agg(sum(col("n_v")).as("n_total"))
    // grid: every source × every distinct value; sources are the small
    // side (broadcast), values the compressed distribution
    val grid = byValue
      .crossJoin(broadcast(bySource))
      .join(bySourceValue, Seq("source", "v"), "left")
      .select(col("source"), col("v"), col("n_v"), col("n_s"),
        coalesce(col("n_sv"), lit(0L)).as("n_sv"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
    grid
      .withColumn("cum_sv", sum(col("n_sv")).over(w))
      .withColumn("cum_v", sum(col("n_v")).over(w))
      .crossJoin(broadcast(total))
      .groupBy(col("source"), col("n_s"))
      .agg(max(abs(
        col("cum_sv").cast("double") / col("n_s")
          - (col("cum_v") - col("cum_sv")).cast("double")
            / (col("n_total") - col("n_s")))).as("d"))
      .select(col("source"), col("n_s").as("n_docs"),
        stableRound4(col("d")).as("ks_stat"))
      .orderBy(col("source"))
  }

  /** q_mannwhitney: per-source Mann-Whitney U (source sample vs rest of
    * corpus) with midrank tie handling and the tie-corrected normal
    * approximation z = (U − n₁n₂/2) / σ,
    * σ² = n₁n₂/12 · ((N+1) − Σ(t³−t)/(N(N−1))).
    *
    * Midranks come from ONE global cumulative over the compressed value
    * distribution (single-partition window over ≤ domain-cardinality rows —
    * see class doc), shared by every source; rank sums are then a plain
    * aggregation join, so adding sources adds no new windows. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val (byValue, bySourceValue, bySource) = compressed(spark, dir)
    // midrank r(v) = (#strictly-below) + (n_v + 1)/2, exact in halves —
    // keep it as DOUBLE (halves are exact in binary floating point)
    val wAll = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byValue
      .withColumn("below", coalesce(sum(col("n_v")).over(wAll), lit(0L)))
      .withColumn("midrank",
        col("below").cast("double") + (col("n_v") + 1).cast("double") / 2.0)
    // scalars: N and the tie correction Σ(t³−t)
    val totals = byValue.agg(
      sum(col("n_v")).as("n_total"),
      sum(col("n_v") * col("n_v") * col("n_v") - col("n_v")).as("tie_sum"))
    ranked.join(bySourceValue, "v")
      .groupBy(col("source"))
      .agg(sum(col("n_sv").cast("double") * col("midrank")).as("rank_sum"))
      .join(broadcast(bySource), "source")
      .crossJoin(broadcast(totals))
      .select(col("source"), col("n_s").as("n_docs"),
        stableRound4(col("rank_sum")
          - col("n_s").cast("double") * (col("n_s") + 1).cast("double") / 2.0)
          .as("u_stat"),
        stableRound4(
          (col("rank_sum")
            - col("n_s").cast("double") * (col("n_s") + 1).cast("double") / 2.0
            - col("n_s").cast("double") * (col("n_total") - col("n_s")).cast("double") / 2.0)
          / sqrt(
            col("n_s").cast("double") * (col("n_total") - col("n_s")).cast("double") / 12.0
              * ((col("n_total") + 1).cast("double")
                - col("tie_sum").cast("double")
                  / (col("n_total").cast("double") * (col("n_total") - 1).cast("double")))))
          .as("z_stat"))
      .orderBy(col("source"))
  }

  /** q_anova: one-way ANOVA F-test of event value across the event types —
    * the k-group generalization of the pairwise Welch t-tests (q_ttest):
    * F = (SSB/(k−1)) / (SSW/(N−k)) from the standard per-group
    * (n, Σx, Σx²) sufficient statistics. ONE partial-aggregated pass to k
    * rows, then closed-form arithmetic on the driver-sized aggregate —
    * the cheapest possible shape at any scale. */
  def anova(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("value")).as("s"),
        sum(col("value") * col("value")).as("ss"))
    g.agg(
        count(lit(1)).as("k"),
        sum(col("n")).as("n_total"),
        sum(col("s")).as("s_all"),
        sum(col("s") * col("s") / col("n")).as("sb_raw"),
        sum(col("ss") - col("s") * col("s") / col("n")).as("ssw"))
      .select(
        col("k").cast("int").as("k_groups"),
        col("n_total").cast("long").as("n_rows"),
        stableRound4(
          ((col("sb_raw") - col("s_all") * col("s_all") / col("n_total"))
            / (col("k") - 1))
          / (col("ssw") / (col("n_total") - col("k")))).as("f_stat"))
  }

  /** q_k_anonymity: privacy-audit the customer table against quasi-
    * identifier re-identification — group by the QI tuple (nation, market
    * segment, account-balance band) and report every equivalence class
    * smaller than `k`: the rows a release of this table would expose.
    * The standard k-anonymity check (Sweeney 2002) as one partial-
    * aggregated groupBy; the violating classes are by definition the
    * SMALL groups, so the report output is bounded by k × #classes. */
  def kAnonymity(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qi = Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .groupBy(col("nation"), col("segment"), col("bal_band"))
      .agg(count(lit(1)).as("class_size"))
    qi.filter(col("class_size") < k)
      .select(col("nation"), col("segment"), col("bal_band"),
        col("class_size"))
      .orderBy(col("class_size"), col("nation"), col("segment"),
        col("bal_band"))
  }

  /** q_l_diversity: the companion audit k-anonymity misses — an
    * equivalence class can be large (k-anonymous) yet still leak when
    * every member shares the SAME sensitive value (Machanavajjhala 2007's
    * homogeneity attack). Group by the QI tuple (nation, segment) and
    * report classes whose sensitive attribute (account-balance band)
    * takes fewer than `l` distinct values. Emits EVERY class with its
    * distinct-sensitive count and pass/fail flag (the auditor's full
    * report; QI-class cardinality is bounded by the QI domain, not the
    * table). Distinct-count per group is a two-level partial aggregate
    * (groupBy QI+sensitive, then QI) — both shuffles carry
    * pre-aggregated rows. */
  def lDiversity(spark: SparkSession, dir: String, l: Int = 3): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .groupBy(col("nation"), col("segment"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("bal_band")).as("n_sensitive"))
      .withColumn("diverse", col("n_sensitive") >= l)
      .orderBy(col("nation"), col("segment"))

  /** Poisson(1) inverse-CDF thresholds as 6-hex-char strings: replicate
    * weight w = k iff the doc's 6-hex md5 prefix sorts below the k-th
    * threshold (first below wins). Shared verbatim by the Spark expression
    * and the generated oracle SQL, so both engines draw IDENTICAL weights.
    * floor(cdf·16⁶) as lowercase hex; md5 output is lowercase hex, and hex
    * strings compare consistently in both engines (ASCII order). */
  val PoissonCdfHex: Seq[String] = {
    val probs = Iterator.iterate((0, math.exp(-1.0))) { case (k, p) =>
      (k + 1, p / (k + 1))
    }.map(_._2).take(7).toSeq
    probs.scanLeft(0.0)(_ + _).tail
      .map(c => f"${math.floor(c * (1 << 24)).toLong}%06x")
  }

  /** q_bootstrap: Poisson-bootstrap confidence interval for the mean doc
    * length per language — the distributed bootstrap (Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams", 2012): instead of
    * resampling n rows WITH replacement (which needs global coordination),
    * each row independently draws a Poisson(1) weight per replicate, which
    * converges to multinomial resampling and needs only a deterministic
    * per-(row, replicate) hash. `reps` replicates explode off the scan
    * (bounded ×reps, no shuffle until the aggregate); replicate means are
    * exact-integer-sum ratios, so both engines compute bit-identical
    * means, and the 2.5/97.5 interpolated percentiles over them give the
    * CI. Replicates whose total weight is zero (possible only on tiny
    * groups) are dropped identically on both sides. */
  def bootstrapMean(spark: SparkSession, dir: String,
      reps: Int = 200): DataFrame = {
    // Spread before the ×reps explode: the md5 weight draw runs reps×|docs|
    // times and must not be pinned to the 1-2 scan splits a small input
    // reads as (identity at scale — see Spread). Replicate means are
    // exact-integer ratios, so partitioning cannot move any result bit.
    val docs = Spread(Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars")))
    val u6 = substring(md5(concat(col("doc_id").cast("string"), lit(":"),
      col("b").cast("string"))), 1, 6)
    val w = PoissonCdfHex.zipWithIndex.reverse
      .foldLeft(lit(7): org.apache.spark.sql.Column) {
        case (acc, (h, k)) => when(u6 < lit(h), lit(k)).otherwise(acc)
      }
    val means = docs
      .select(col("lang"), col("doc_id"), col("n_chars"),
        explode(sequence(lit(1), lit(reps))).as("b"))
      .select(col("lang"), col("b"), col("n_chars"), w.as("w"))
      .groupBy(col("lang"), col("b"))
      .agg(sum(col("w") * col("n_chars")).as("sn"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0)
      .select(col("lang"), (col("sn").cast("double") / col("sw")).as("m"))
    val base = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        stableRound4(avg(col("n_chars"))).as("mean_len"))
    means.groupBy(col("lang"))
      .agg(
        stableRound4(expr("percentile(m, 0.025)")).as("ci_lo"),
        stableRound4(expr("percentile(m, 0.975)")).as("ci_hi"))
      .join(base, "lang")
      .select(col("lang"), col("n_docs"), col("mean_len"),
        col("ci_lo"), col("ci_hi"))
      .orderBy(col("lang"))
  }

  /** q_dp_noise: differential-privacy-style noisy release of per-source
    * document counts — Laplace mechanism with sensitivity 1 and ε = 1
    * (scale b = 1), the standard count-release recipe. The noise draw is
    * DERIVED, not sampled: u = (md5-prefix + ½)/16⁶ through the Laplace
    * inverse CDF −b·sign(u−½)·ln(1−2|u−½|), so the release is reproducible
    * across engines and runs (a real deployment would use a sampled seed
    * per release; the mechanism arithmetic is identical). One aggregation
    * to |sources| rows, noise applied post-aggregation as closed-form
    * column arithmetic. */
  def dpNoisyCounts(spark: SparkSession, dir: String): DataFrame = {
    val u = (conv(substring(md5(concat(lit("dp:"), col("source"))), 1, 6),
      16, 10).cast("double") + 0.5) / (1 << 24).toDouble
    val lap = -signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        stableRound4(col("n_docs") + lap).as("noisy_count"))
      .orderBy(col("source"))
  }

  /** q_dp_topk: differentially-private top-k vocabulary release — the
    * noisy-top-k-with-threshold recipe used to publish frequent n-grams
    * from a private corpus (each token count gets Laplace noise at scale
    * b = 2, i.e. ε = ½ per count with sensitivity 1; the top `k` by NOISY
    * count are ranked; only entries whose noisy count clears the release
    * threshold τ are marked released — the thresholding is what bounds
    * the probability of ever surfacing a rare, potentially identifying
    * token). As in [[dpNoisyCounts]], the noise draw is DERIVED from the
    * token's md5 through the Laplace inverse CDF so both engines compute
    * the identical release (a deployment would swap in a sampled seed;
    * the mechanism arithmetic is unchanged). The raw count rides along
    * for the audit (a real release would drop it). One explode + one
    * partial-aggregated count shuffle, then a top-k ordered limit —
    * vocabulary-sized, never corpus-sized, after the first agg. */
  def dpTopK(spark: SparkSession, dir: String, k: Int = 20,
      threshold: Double = 50.0): DataFrame = {
    import graft.functions.TextFunctions.tokensLower
    val counts = Tables.documents(spark, dir)
      .select(explode(tokensLower(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val u = (conv(substring(md5(concat(lit("dptopk:"), col("tok"))), 1, 6),
      16, 10).cast("double") + 0.5) / (1 << 24).toDouble
    val lap = lit(-2.0) * signum(u - 0.5) *
      log(lit(1.0) - lit(2.0) * abs(u - 0.5))
    counts
      .select(col("tok"), col("n"),
        stableRound4(col("n") + lap).as("noisy_count"))
      .withColumn("released", col("noisy_count") >= threshold)
      .orderBy(col("noisy_count").desc, col("tok"))
      .limit(k)
  }

  /** q_abtest: two-proportion z-test on a deterministic hash split — users
    * are assigned variant A/B by id parity, "conversion" is the user's
    * FIRST event (by time, tie-broken by event_id) being a purchase — the
    * landing-conversion metric; "any purchase ever" is degenerate on this
    * fixture (everyone eventually purchases, p=1 ⇒ 0/0). The pooled-
    * variance z compares the two rates, NULL when conversions are
    * all-or-nothing (z undefined). The parity split stands in for the
    * assignment column a real system logs. One aggregation to the
    * per-user level (min-struct argmin, no window), one to the per-variant
    * level, then a 2-row pivot to a single output row — nothing wide. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(struct(unix_micros(col("ts")).as("us"),
        col("event_id").as("eid"), col("event_type").as("et")))
        .as("first"))
      .select((col("user_id") % 2).as("variant"),
        (col("first.et") === "purchase").cast("int").as("converted"))
    val byVariant = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    byVariant
      .agg(
        sum(when(col("variant") === 0, col("n"))).as("n_a"),
        sum(when(col("variant") === 1, col("n"))).as("n_b"),
        sum(when(col("variant") === 0, col("conv"))).as("conv_a"),
        sum(when(col("variant") === 1, col("conv"))).as("conv_b"))
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        stableRound4(col("conv_a").cast("double") / col("n_a")).as("rate_a"),
        stableRound4(col("conv_b").cast("double") / col("n_b")).as("rate_b"),
        stableRound4(when(
          col("conv_a") + col("conv_b") > 0
            && col("conv_a") + col("conv_b") < col("n_a") + col("n_b"),
          (col("conv_a").cast("double") / col("n_a")
            - col("conv_b").cast("double") / col("n_b"))
          / sqrt(
            ((col("conv_a") + col("conv_b")).cast("double")
              / (col("n_a") + col("n_b")))
            * (lit(1.0) - (col("conv_a") + col("conv_b")).cast("double")
              / (col("n_a") + col("n_b")))
            * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))))
          .as("z_stat"))
  }

  /** q_entropy_ldiv: ENTROPY l-diversity — the strictly stronger variant
    * of [[lDiversity]] from the same Machanavajjhala 2007 paper. Distinct-
    * count l-diversity passes a group where 10 bands appear but one holds
    * 99% of members (probabilistic disclosure); entropy l-diversity
    * requires H(sensitive | group) ≥ ln l, which a skewed distribution
    * fails. Same QI tuple and sensitive band as the distinct-count audit,
    * so the two reports line up row-for-row.
    *
    * Plan: two aggregations — (qi, band) counts, then per-qi rollup with
    * an integer-weighted entropy H = ln N − (Σ n·ln n)/N (the ln applies
    * per distinct band, so the sum runs over ≤ |bands| exact integer
    * weights). Both partial-aggregate; nothing exceeds |qi-groups| rows
    * after the first shuffle. */
  def entropyLDiversity(spark: SparkSession, dir: String,
      l: Int = 3): DataFrame = {
    val banded = Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000).as("band"))
      .groupBy(col("nation"), col("segment"), col("band"))
      .agg(count(lit(1)).as("n_band"))
    banded
      .groupBy(col("nation"), col("segment"))
      .agg(
        sum(col("n_band")).as("group_n"),
        count(lit(1)).as("l_distinct"),
        // H = ln N − (Σ n·ln n)/N over exact integer counts — one pass,
        // deterministic across engines up to the final rounded division
        sum(col("n_band").cast("double") * log(col("n_band").cast("double")))
          .as("sum_nlogn"))
      .select(col("nation"), col("segment"), col("group_n"),
        col("l_distinct"),
        stableRound4(log(col("group_n").cast("double"))
          - col("sum_nlogn") / col("group_n")).as("entropy"),
        (col("l_distinct") < l).as("at_risk"))
      .orderBy(col("nation"), col("segment"))
  }

  /** q_wilson_ci: Wilson score interval per event type for the share of
    * high-value events (value > `threshold`) — the binomial CI that stays
    * inside [0,1] and behaves at small n / extreme p, which is why
    * ranking and A/B dashboards use it over the Wald interval (Wilson
    * 1927; Agresti & Coull 1998). Output: (event_type, n, x, p_hat, lo,
    * hi), round-4.
    *
    * Scale shape: ONE partial-aggregated scan (count + conditional sum
    * per type), then closed-form arithmetic on the ≤|event types| rows —
    * the cheapest possible query shape at any corpus size. The z²/2n,
    * z²/4n² terms follow the exact association order mirrored in the
    * oracle SQL (floor-sensitive IEEE lesson from the verify notes). */
  def wilsonCi(spark: SparkSession, dir: String,
      threshold: Double = WilsonThreshold, z: Double = WilsonZ): DataFrame = {
    val zz = z * z
    val agg = Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > threshold, 1L).otherwise(0L)).as("x"))
    val nD = col("n").cast("double")
    val p = col("x").cast("double") / nD
    val denom = lit(1.0) + lit(zz) / nD
    val center = (p + lit(zz) / (lit(2.0) * nD)) / denom
    val half = lit(z) *
      sqrt(p * (lit(1.0) - p) / nD + lit(zz) / (lit(4.0) * (nD * nD))) /
      denom
    agg.select(col("event_type"), col("n"), col("x"),
      stableRound4(p).as("p_hat"),
      stableRound4(center - half).as("lo"),
      stableRound4(center + half).as("hi"))
      .orderBy(col("event_type"))
  }

  /** Mid-date split shared by [[diffInDiff]] and [[cuped]]: the day
    * date_add(min_d, ⌊datediff(max_d, min_d)/2⌋) — exact integer day
    * arithmetic on both engines, no epoch-fraction ambiguity. Rows on
    * or after it are the "post" period. */
  private def withPostFlag(ev: DataFrame): DataFrame = {
    val mm = ev.agg(min(to_date(col("ts"))).as("min_d"),
      max(to_date(col("ts"))).as("max_d"))
    ev.crossJoin(broadcast(mm))
      .withColumn("post",
        when(to_date(col("ts")) >= date_add(col("min_d"),
          (datediff(col("max_d"), col("min_d")) / 2).cast("int")), 1)
          .otherwise(0))
  }

  /** q_diff_in_diff: the difference-in-differences estimator — the
    * quasi-experimental workhorse when a clean A/B split is unavailable
    * (Card & Krueger 1994 popularized it): treatment effect =
    * (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre), which
    * differences away both the group-level baseline and the common time
    * trend. Treatment is the deterministic user_id parity (q_abtest's
    * split); the pre/post boundary is the corpus's midpoint day (exact
    * integer day arithmetic). Declared output: the four (treat, post)
    * cell means plus the DiD estimate — one scan, one 4-row aggregate.
    */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val cells = withPostFlag(Tables.events(spark, dir))
      .select((col("user_id") % 2).as("treat"), col("post"), col("value"))
      .groupBy(col("treat"), col("post"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("m"))
    val grid = cells.groupBy()
      .pivot(concat(col("treat"), lit("_"), col("post")),
        Seq("0_0", "0_1", "1_0", "1_1"))
      .agg(first(col("m")))
    cells.crossJoin(broadcast(grid))
      .select(col("treat"), col("post"), col("n"),
        stableRound4(col("m")).as("mean_value"),
        stableRound4((col("1_1") - col("1_0")) - (col("0_1") - col("0_0")))
          .as("did"))
      .orderBy(col("treat"), col("post"))
  }

  /** q_cuped: CUPED variance reduction (Deng, Xu, Kohavi & Walker,
    * WSDM 2013) — the industry-standard A/B sensitivity boost: adjust
    * each user's experiment-period metric y by their PRE-period metric
    * x, ŷ = y − θ(x − x̄), θ = cov(x,y)/var(x), which strips the
    * between-user variance x explains (reduction = ρ²) without biasing
    * the treatment contrast (θ is computed pooled, pre-period data is
    * unaffected by treatment). Periods split on the midpoint day;
    * per-user x/y are value sums with absent periods as 0. Output per
    * variant: n, raw mean, CUPED-adjusted mean, plus the pooled θ and
    * measured variance-reduction ρ². Scale shape: one per-user
    * aggregation, one 5-number moment pass, one |variants|-row
    * assembly. */
  def cuped(spark: SparkSession, dir: String): DataFrame = {
    val perUser = withPostFlag(Tables.events(spark, dir))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("post") === 0, col("value")).otherwise(0.0)).as("x"),
        sum(when(col("post") === 1, col("value")).otherwise(0.0)).as("y"))
      .select((col("user_id") % 2).as("variant"), col("x"), col("y"))
    val mom = perUser.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val byV = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"), avg(col("y")).as("my"),
        avg(col("x")).as("mx"))
    byV.crossJoin(broadcast(mom))
      .select({
        val n = col("n").cast("double")
        val covxy = col("sxy") - col("sx") * col("sy") / n
        val varx = col("sxx") - col("sx") * col("sx") / n
        val vary = col("syy") - col("sy") * col("sy") / n
        val theta = covxy / varx
        Seq(col("variant"), col("n_users"),
          stableRound4(col("my")).as("mean_y"),
          stableRound4(col("my")
            - theta * (col("mx") - col("sx") / n)).as("mean_y_cuped"),
          stableRound4(theta).as("theta"),
          stableRound4(covxy * covxy / (varx * vary)).as("var_reduction"))
      }: _*)
      .orderBy(col("variant"))
  }

  /** q_em_gmm: a two-component 1-D Gaussian mixture fitted by `iters`
    * EM steps on scaled order-line prices — the density-modeling family
    * (soft clustering; cf. the HARD assignments of the Lloyd trainers in
    * [[IvfOps]]/[[PqOps]]). Each step ([[emFit]]) produces seven numbers
    * (Σr₁, Σr₁x, Σr₁x², the component-2 triple, n) that update the
    * driver-held parameter vector; responsibilities are plain per-row
    * float algebra against the current parameters. The
    * engine-reproducibility recipe is the proven unrolled-GD /
    * unrolled-Lloyd one: every M-step statistic passes the stable6
    * barrier (per-partition sum order differs between engines only at
    * ULP; the barrier absorbs it before the drift can compound through
    * the next E-step), so all `iters` rounds replay bit-identically as
    * unrolled DuckDB CTEs. Scale shape: per step ONE job, ONE stage, no
    * shuffle ([[PartitionSums]]), 6 + 1 numbers per partition to the
    * driver — a re-scan, linear in the facts, nothing cached.
    *
    * Deterministic data-dependent init (no RNG): μ₁/μ₂ = mean ∓ sd/2,
    * σ² = variance, w = 0.5 — all through the same barrier. */
  def emGmm(spark: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val p = emFit(Tables.lineitem(spark, dir)
      .select((col("l_extendedprice") / 10000.0).as("x")), iters)
    import spark.implicits._
    import graft.functions.NumericFunctions.stableRound4
    Seq((1, p._1, p._2, p._3), (2, 1.0 - p._1, p._4, p._5))
      .toDF("component", "weight", "mu", "sigma2")
      .select(col("component"), stableRound4(col("weight")).as("weight"),
        stableRound4(col("mu")).as("mu"),
        stableRound4(col("sigma2")).as("sigma2"))
      .orderBy(col("component"))
  }

  /** [[emGmm]]'s unrounded (w, μ₁, σ₁², μ₂, σ₂²) after `iters` EM steps
    * over the one-column frame `x`. */
  private[operators] def emFit(x: DataFrame,
      iters: Int): (Double, Double, Double, Double, Double) = {
    import graft.operators.IvfOps.stable6
    import PartitionSums.div
    val init = x.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx")).head()
    val n0 = init.getLong(0).toDouble
    val avgRaw = init.getDouble(1) / n0
    val s20 = stable6(init.getDouble(2) / n0 - avgRaw * avgRaw)
    val m0 = stable6(avgRaw)
    val sd0 = math.sqrt(s20)
    // params: (w, mu1, s21, mu2, s22)
    var p = (0.5, stable6(m0 - 0.5 * sd0), s20, stable6(m0 + 0.5 * sd0), s20)
    // x.agg(sum(...))'s doubles for r1 = num1 / (num1 + num2), num1 = (w *
    // exp(-((x-mu1)*(x-mu1)) / (2*s21))) / sqrt(s21) (num2: 1-w, mu2, s22)
    def num(x: Double, wk: Double, mu: Double, s2: Double) =
      div(wk * StrictMath.exp(div(-((x - mu) * (x - mu)), 2.0 * s2)), math.sqrt(s2))
    val sums = new PartitionSums(x)
    for (_ <- 1 to iters) {
      val (w, mu1, s21, mu2, s22) = p
      val (Array(sr1, sx1, sxx1, sr2, sx2, sxx2), rows) = sums.run(6) { (r, acc) =>
        if (!r.isNullAt(0)) {
          val xv = r.getDouble(0)
          val (num1, num2) = (num(xv, w, mu1, s21), num(xv, 1.0 - w, mu2, s22))
          val (r1, r2) = (div(num1, num1 + num2), div(num2, num1 + num2))
          acc(0) += r1; acc(1) += r1 * xv; acc(2) += r1 * xv * xv
          acc(3) += r2; acc(4) += r2 * xv; acc(5) += r2 * xv * xv
        }
      }
      val nmu1 = stable6(sx1 / sr1)
      val nmu2 = stable6(sx2 / sr2)
      p = (stable6(sr1 / rows.toDouble),
        nmu1, stable6(sxx1 / sr1 - nmu1 * nmu1),
        nmu2, stable6(sxx2 / sr2 - nmu2 * nmu2))
    }
    p
  }

  /** Shared engine/oracle SPRT constants (q_sprt): simple H0 p=[[SprtP0]]
    * vs H1 p=[[SprtP1]] at α=[[SprtAlpha]], β=[[SprtBeta]]; conversion is
    * value > [[SprtThreshold]]. The four derived log terms are computed
    * ONCE here on the driver and inlined as literals into BOTH engines
    * (Double.toString round-trips), so every per-step LLR is
    * k·lnLR1 + (n−k)·lnLR0 — integer×literal products, bit-identical. */
  val SprtP0 = 0.10
  val SprtP1 = 0.15
  val SprtAlpha = 0.05
  val SprtBeta = 0.20
  val SprtThreshold = 100.0
  val SprtLnLr1: Double = math.log(SprtP1 / SprtP0)
  val SprtLnLr0: Double = math.log((1.0 - SprtP1) / (1.0 - SprtP0))
  val SprtUpper: Double = math.log((1.0 - SprtBeta) / SprtAlpha)
  val SprtLower: Double = math.log(SprtBeta / (1.0 - SprtAlpha))

  /** q_sprt: Wald's Sequential Probability Ratio Test (Wald 1945) over
    * the event stream — the ALWAYS-VALID A/B monitor that, unlike the
    * fixed-horizon tests (q_abtest / q_wilson_ci), may stop the
    * experiment at the first observation where the evidence crosses a
    * boundary, with α/β guaranteed regardless of when you peek. Each
    * variant (user_id parity — the deterministic split q_abtest uses)
    * walks its cumulative log-likelihood ratio in event order; the
    * declared output is each walk's decision row: the FIRST boundary
    * crossing (accept_h1 / accept_h0), or the final state (continue).
    *
    * Scale shape: one per-variant ordered window over the conversion
    * flags — integer cumulative (n, k) prefix counts; the LLR and both
    * boundaries are literal-double algebra on those integers, and the
    * decision row is one min-struct argmin per variant. CAVEAT,
    * measured round 14 under the honest action: per-ARM partitioning is
    * only |arms|-way parallelism (two here), so half the stream sorts
    * in one task — sf1 10.4 s, index e = 1.12. Declared q_sprt has run
    * the distributed rewrite [[sprtSharded]] since round 15; this simple
    * per-arm walk is the reference the specs compare it against. */
  def sprt(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("variant"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walk = Tables.events(spark, dir)
      .select((col("user_id") % 2).as("variant"), col("ts"), col("event_id"),
        when(col("value") > SprtThreshold, 1L).otherwise(0L).as("conv"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("k", sum(col("conv")).over(w))
      .withColumn("llr",
        col("k") * lit(SprtLnLr1) + (col("n") - col("k")) * lit(SprtLnLr0))
      .withColumn("decision",
        when(col("llr") >= SprtUpper, lit("accept_h1"))
          .when(col("llr") <= SprtLower, lit("accept_h0"))
          .otherwise(lit("continue")))
    sprtDecision(walk)
  }

  /** Shared decision extraction for [[sprt]]/[[sprtSharded]]: first
    * boundary crossing per variant (min-struct argmin on the exact
    * integer (n, k) prefix), else the final state. */
  private def sprtDecision(walk: DataFrame): DataFrame = {
    val crossed = walk.filter(col("decision") =!= "continue")
      .groupBy(col("variant"))
      .agg(min(struct(col("n"), col("k"), col("llr"), col("decision")))
        .as("d"))
      .select(col("variant"), col("d.n").as("n"), col("d.k").as("k"),
        col("d.llr").as("llr"), col("d.decision").as("decision"))
    val last = walk.groupBy(col("variant"))
      .agg(max(struct(col("n"), col("k"), col("llr"), col("decision")))
        .as("d"))
      .select(col("variant"), col("d.n").as("n"), col("d.k").as("k"),
        col("d.llr").as("llr"), col("d.decision").as("decision"))
    import graft.functions.NumericFunctions.stableRound4
    last.as("l").join(crossed.as("c"), Seq("variant"), "left")
      .select(col("variant"),
        coalesce(col("c.n"), col("l.n")).as("n_at_decision"),
        coalesce(col("c.k"), col("l.k")).as("k_conversions"),
        stableRound4(coalesce(col("c.llr"), col("l.llr"))).as("llr"),
        coalesce(col("c.decision"), col("l.decision")).as("decision"))
      .orderBy(col("variant"))
  }

  /** Distributed twin of [[sprt]] — the round-14 prefix-offset rewrite
    * of the cumulative walk (classic two-phase parallel prefix sum):
    * within-DAY running (n, k) counts window on (variant, day) — the
    * widest sort task shrinks from |stream|/|arms| rows to one day of
    * one arm — plus per-day prefix OFFSETS from a |days|-bounded second
    * window, broadcast back and added. The prefix counts are exact
    * integers, so the LLR doubles (same literals, same association
    * order) are BITWISE equal to [[sprt]]'s and the decision rows
    * identical — spec-pinned in Round14OpsSpec and Round15OpsSpec.
    * Declared q_sprt serves this form since round 15 (the measured
    * before/after is in SCALE.md). */
  def sprtSharded(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.events(spark, dir)
      .select((col("user_id") % 2).as("variant"), col("ts"), col("event_id"),
        to_date(col("ts")).as("day"),
        when(col("value") > SprtThreshold, 1L).otherwise(0L).as("conv"))
    val wIn = Window.partitionBy(col("variant"), col("day"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = base
      .withColumn("n_in", count(lit(1)).over(wIn))
      .withColumn("k_in", sum(col("conv")).over(wIn))
    val wOff = Window.partitionBy(col("variant")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("variant"), col("day"))
      .agg(count(lit(1)).as("n_day"), sum(col("conv")).as("k_day"))
      .select(col("variant"), col("day"),
        coalesce(sum(col("n_day")).over(wOff), lit(0L)).as("n_off"),
        coalesce(sum(col("k_day")).over(wOff), lit(0L)).as("k_off"))
    val walk = within.join(broadcast(offsets), Seq("variant", "day"))
      .withColumn("n", col("n_in") + col("n_off"))
      .withColumn("k", col("k_in") + col("k_off"))
      .withColumn("llr",
        col("k") * lit(SprtLnLr1) + (col("n") - col("k")) * lit(SprtLnLr0))
      .withColumn("decision",
        when(col("llr") >= SprtUpper, lit("accept_h1"))
          .when(col("llr") <= SprtLower, lit("accept_h0"))
          .otherwise(lit("continue")))
    sprtDecision(walk)
  }

  /** q_auc: ROC AUC of a score column against a binary label via the
    * rank-sum identity AUC = (R₊ − n₊(n₊+1)/2) / (n₊·n₋) with midrank tie
    * handling — the model-eval companion to the two-sample machinery
    * above (q_mannwhitney tests a shift; this grades a ranker). Score =
    * the first embedding component, label = (label == 1): the probe a
    * quality/classifier head would ship.
    *
    * Scale shape: the same value-compression recipe as [[mannWhitney]] —
    * one aggregation collapses the corpus to (score → n, n₊) rows, one
    * single-partition cumulative window over that compressed domain
    * (bounded by score cardinality, not corpus rows) yields midranks,
    * then a one-row rank-sum aggregate. Every rank term is a half-integer
    * (exact in binary floating point), so the rank sum is exact and the
    * only rounding is the final 4-dp AUC. */
  def rocAuc(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.embeddings(spark, dir)
      .select(element_at(col("embedding"), 1).cast("double").as("v"),
        when(col("label") === 1, 1L).otherwise(0L).as("pos"))
    val byValue = s.groupBy(col("v"))
      .agg(count(lit(1)).as("n_v"), sum(col("pos")).as("n_pv"))
    val wAll = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byValue
      .withColumn("below", coalesce(sum(col("n_v")).over(wAll), lit(0L)))
      .withColumn("midrank",
        col("below").cast("double") + (col("n_v") + 1).cast("double") / 2.0)
    val totals = s.agg(sum(col("pos")).as("n_pos"),
      (count(lit(1)) - sum(col("pos"))).as("n_neg"))
    ranked
      .agg(sum(col("n_pv").cast("double") * col("midrank")).as("rank_sum"))
      .crossJoin(broadcast(totals))
      .select(col("n_pos"), col("n_neg"),
        // single-class guard: all-pos or all-neg input has no ranking to
        // score — NULL AUC, not an ANSI divide-by-zero (sibling
        // degenerate-denominator convention: kendallTau, mcnemar)
        stableRound4(when(col("n_pos") > 0 && col("n_neg") > 0,
          (col("rank_sum")
            - col("n_pos").cast("double") * (col("n_pos") + 1).cast("double") / 2.0)
          / (col("n_pos").cast("double") * col("n_neg").cast("double"))))
          .as("auc"))
  }

  /** q_levene: Brown–Forsythe variance-homogeneity test across the
    * document sources — the gate ANOVA's equal-variance assumption needs,
    * and a drift monitor in its own right (a crawl slice whose length
    * SPREAD explodes is as suspect as one whose mean shifts).
    * W = ((N−k)/(k−1)) · Σnᵢ(z̄ᵢ−z̄)² / ΣΣ(zᵢⱼ−z̄ᵢ)² where zᵢⱼ =
    * |xᵢⱼ − medᵢ| and medᵢ is the per-source LOWER median — an exact
    * integer picked at cumulative rank ⌈nᵢ/2⌉, so no interpolated float
    * ever crosses an engine boundary (the cross-engine argmax lesson).
    *
    * Scale shape: value compression again — (source, length) counts in
    * one aggregation, per-source medians from a source-partitioned
    * cumulative over that compressed frame (parallel across sources,
    * bounded by the length domain), then one pass of exact-integer
    * moment sums: Σn·|v−med| and Σn·(v−med)² per source. Nothing after
    * the first shuffle exceeds |sources|·|length-domain| rows. */
  def levene(spark: SparkSession, dir: String): DataFrame = {
    val bySv = Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").as("v"))
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("n_sv"))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wN = Window.partitionBy(col("source"))
    val med = bySv
      .withColumn("cum", sum(col("n_sv")).over(wSrc))
      .withColumn("n_s", sum(col("n_sv")).over(wN))
      .filter(col("cum") - col("n_sv") < ceil(col("n_s") / 2.0)
        && col("cum") >= ceil(col("n_s") / 2.0))
      .select(col("source"), col("v").as("med"))
    // exact integer z-moments per source: Σn·|v−med|, Σn·(v−med)²
    val zs = bySv.join(med, "source")
      .groupBy(col("source"))
      .agg(sum(col("n_sv")).as("n_s"),
        sum(col("n_sv") * abs(col("v") - col("med"))).as("sz"),
        sum(col("n_sv") * (col("v") - col("med")) * (col("v") - col("med")))
          .as("szz"))
    // W from the k-row aggregate: SSB/SSW on z with z̄ᵢ = szᵢ/nᵢ
    val tot = zs.agg(sum(col("n_s")).as("n_total"),
      count(lit(1)).as("k"), sum(col("sz")).as("sz_all"))
    zs.crossJoin(broadcast(tot))
      .agg(
        first(col("n_total")).as("n_total"), first(col("k")).as("k"),
        sum(col("n_s").cast("double")
          * (col("sz").cast("double") / col("n_s")
            - col("sz_all").cast("double") / col("n_total"))
          * (col("sz").cast("double") / col("n_s")
            - col("sz_all").cast("double") / col("n_total"))).as("ssb"),
        sum(col("szz").cast("double")
          - col("sz").cast("double") * col("sz") / col("n_s")).as("ssw"))
      .select(col("n_total"), col("k"),
        stableRound4(col("ssb")).as("ssb"),
        stableRound4(col("ssw")).as("ssw"),
        stableRound4(((col("n_total") - col("k")).cast("double")
          / (col("k") - 1).cast("double")) * col("ssb") / col("ssw"))
          .as("w_stat"))
  }

  /** Shared engine/oracle Box-Cox λ grid (q_boxcox). Halves only, so the
    * power transforms reduce to sqrt/reciprocal — IEEE-identical across
    * engines, unlike a general pow. */
  val BoxCoxLambdas: Seq[Double] = Seq(-1.0, -0.5, 0.0, 0.5, 1.0)

  /** q_boxcox: Box–Cox power-transform selection (Box & Cox 1964) over
    * document lengths — pick the λ whose transform makes the length
    * distribution most Gaussian, by maximizing the profile log-likelihood
    * LL(λ) = −n/2·ln σ̂²_λ + (λ−1)·Σln x. Length normalization is the
    * standard pre-step before z-scoring a heavy-tailed quality feature.
    *
    * The λ grid is pinned to halves ([[BoxCoxLambdas]]) so every
    * transform is sqrt / reciprocal / identity / ln — each IEEE-exact or
    * libm-stable across engines (a general x^λ is not). ONE scan computes
    * all ten (Σy, Σy²) sufficient statistics plus the shared Σln x as a
    * single 12-column partial aggregate; the per-λ LLs and the argmax
    * flag are literal algebra on that one row, unpivoted to 5 output
    * rows. Scale shape: one narrow scan, one 1-row aggregate — constant
    * memory at any corpus size. */
  def boxcox(spark: SparkSession, dir: String): DataFrame = {
    val x = Tables.documents(spark, dir)
      .filter(col("n_chars") > 0)
      .select(col("n_chars").cast("double").as("x"))
    def y(lam: Double): Column = lam match {
      case 0.0  => log(col("x"))
      case 1.0  => col("x") - 1.0
      case -1.0 => lit(1.0) - lit(1.0) / col("x")
      case 0.5  => (sqrt(col("x")) - 1.0) * 2.0
      case -0.5 => (lit(1.0) - lit(1.0) / sqrt(col("x"))) * 2.0
    }
    val aggs = Seq(count(lit(1)).cast("double").as("n"),
      sum(log(col("x"))).as("sum_ln")) ++
      BoxCoxLambdas.zipWithIndex.flatMap { case (lam, i) =>
        Seq(sum(y(lam)).as(s"s$i"), sum(y(lam) * y(lam)).as(s"q$i"))
      }
    val row = x.agg(aggs.head, aggs.tail: _*)
    // unpivot the 5 λs: LL(λ) = −n/2·ln((q − s²/n)/n) + (λ−1)·Σln x
    val lls = BoxCoxLambdas.zipWithIndex.map { case (lam, i) =>
      (lit(-0.5) * col("n")
        * log((col(s"q$i") - col(s"s$i") * col(s"s$i") / col("n")) / col("n"))
        + lit(lam - 1.0) * col("sum_ln")).as(s"ll$i")
    }
    val wide = row.select(col("n") +: lls: _*)
    val stacked = wide.select(col("n"), expr(
      "stack(" + BoxCoxLambdas.size + ", " +
        BoxCoxLambdas.zipWithIndex
          .map { case (lam, i) => s"CAST($lam AS DOUBLE), ll$i" }
          .mkString(", ") + ") as (lambda, ll)"))
    val best = stacked.agg(max(col("ll")).as("ll_max"))
    stacked.crossJoin(broadcast(best))
      .select(col("lambda"), col("n").cast("long").as("n"),
        stableRound4(col("ll")).as("log_likelihood"),
        (col("ll") >= col("ll_max")).as("is_best"))
      .orderBy(col("lambda"))
  }

  /** Shared engine/oracle permutation count (q_permutation_test). */
  val PermutationRounds = 20

  /** q_permutation_test: a randomization test of the English-vs-rest mean
    * document length gap, with the permutation stream derived from md5 —
    * the portable-randomness contract every sampler in this engine uses
    * (q_sample_hash, q_weighted_sample), so both engines replay the SAME
    * [[PermutationRounds]] pseudo-random relabelings bit-for-bit.
    * Permutation r reassigns each doc to "en" iff u(doc,r) < p̂_en where
    * u = the first 6 md5 hex digits of "doc_id:r" scaled to [0,1) and
    * p̂_en is the observed English fraction (one integer÷integer — IEEE-
    * identical); the p-value is the add-one estimate
    * (1 + #{|Δ_r| ≥ |Δ_obs|}) / (R+1). Group sums are exact integers and
    * each Δ is a difference of two single divisions, so every comparison
    * is bit-deterministic across engines.
    *
    * Scale shape: one bounded explode (×R) into one (r, flag) partial
    * aggregation — R·2 running cells per task, no window, no join wider
    * than the R-row aggregate. At 100 TB this is R linear passes fused
    * into one shuffle round. */
  def permutationTest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val obs = docs.agg(
      count(lit(1)).as("n"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
      sum(when(col("lang") === "en", col("n_chars"))
        .otherwise(0L)).as("sum_en"),
      sum(when(col("lang") =!= "en", col("n_chars"))
        .otherwise(0L)).as("sum_rest"))
      .select(col("n"), col("n_en"),
        (col("sum_en").cast("double") / col("n_en")
          - col("sum_rest").cast("double") / (col("n") - col("n_en")))
          .as("obs_diff"))
    val perms = docs
      .crossJoin(broadcast(obs.select(col("n"), col("n_en"))))
      .select(col("doc_id"), col("n_chars"),
        (col("n_en").cast("double") / col("n")).as("p_en"),
        explode(sequence(lit(1), lit(PermutationRounds))).as("r"))
      .select(col("r"), col("n_chars"),
        (conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("r").cast("string"))), 1, 6), 16, 10).cast("long")
          .cast("double") / lit(16777216.0) < col("p_en")).as("is_en"))
      .groupBy(col("r"))
      .agg(sum(when(col("is_en"), 1L).otherwise(0L)).as("k_en"),
        sum(when(col("is_en"), col("n_chars")).otherwise(0L)).as("s_en"),
        sum(when(!col("is_en"), col("n_chars")).otherwise(0L)).as("s_rest"),
        count(lit(1)).as("k_all"))
      .select(col("r"),
        (col("s_en").cast("double") / col("k_en")
          - col("s_rest").cast("double") / (col("k_all") - col("k_en")))
          .as("perm_diff"))
    perms.crossJoin(broadcast(obs.select(col("obs_diff"))))
      .agg(count(lit(1)).as("n_perms"),
        first(col("obs_diff")).as("od"),
        sum(when(abs(col("perm_diff")) >= abs(col("obs_diff")), 1L)
          .otherwise(0L)).as("n_extreme"))
      .select(col("n_perms"), col("n_extreme"),
        stableRound4(col("od")).as("obs_diff"),
        stableRound4((col("n_extreme") + 1).cast("double")
          / (col("n_perms") + 1).cast("double")).as("p_value"))
  }

  /** q_kruskal: Kruskal–Wallis H across the event types — the k-group
    * rank-based ANOVA ([[anova]]'s distribution-free sibling, exactly as
    * [[mannWhitney]] is [[StatOps.ksTest]]'s two-group one):
    * H = 12/(N(N+1))·ΣR_c²/n_c − 3(N+1), divided by the tie correction
    * 1 − Σ(t³−t)/(N³−N). Event values are quantized to cents through the
    * decimal barrier FIRST — that bounds the rank domain (the
    * value-compression recipe needs a discrete domain; a continuous
    * double column would make the global rank window corpus-sized) and
    * makes every midrank a shared exact half-integer.
    *
    * Scale shape: one (value-cents) compression aggregate, ONE
    * single-partition cumulative window over that bounded domain
    * (documented, same as mannWhitney), a per-(type, value) join and a
    * k-row closed form. */
  def kruskal(spark: SparkSession, dir: String): DataFrame = {
    // cents quantization (decimal barrier, 2 dp): bounds the rank domain
    // at |value range|·100 distinct values whatever the event count
    val cents = round(col("value").cast("decimal(20,8)"), 2).cast("double")
    val d = Tables.events(spark, dir)
      .select(col("event_type"), cents.as("v"))
    val byValue = d.groupBy(col("v")).agg(count(lit(1)).as("n_v"))
    val wAll = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byValue
      .withColumn("below", coalesce(sum(col("n_v")).over(wAll), lit(0L)))
      .withColumn("midrank",
        col("below").cast("double") + (col("n_v") + 1).cast("double") / 2.0)
    val byGroupValue = d.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("n_gv"))
    val groups = byGroupValue.join(ranked, "v")
      .groupBy(col("event_type"))
      .agg(sum(col("n_gv")).as("n_g"),
        sum(col("n_gv").cast("double") * col("midrank")).as("rank_sum"))
    val totals = byValue.agg(
      sum(col("n_v")).as("n_total"),
      sum(col("n_v") * col("n_v") * col("n_v") - col("n_v")).as("tie_sum"))
    groups.crossJoin(broadcast(totals))
      .agg(first(col("n_total")).as("n"), count(lit(1)).as("k"),
        sum(col("rank_sum") * col("rank_sum") / col("n_g")).as("rr"),
        first(col("tie_sum")).as("ts"))
      .select({
        val nd = col("n").cast("double")
        val hRaw = (lit(12.0) / (nd * (nd + 1.0)) * col("rr")
          - lit(3.0) * (nd + 1.0))
        val corr = lit(1.0) - col("ts").cast("double") / (nd * nd * nd - nd)
        Seq(col("n"), col("k"), stableRound4(hRaw).as("h_stat"),
          stableRound4(hRaw / corr).as("h_corrected"))
      }: _*)
  }

  /** q_t_closeness: the third rung of the anonymity-audit ladder after
    * [[kAnonymity]] (class size) and [[lDiversity]] (distinct sensitive
    * values) — Li et al. 2007's t-closeness: even a diverse class leaks
    * if its sensitive-value DISTRIBUTION diverges from the global one
    * (the skewness attack). Per QI class (nation, segment), t = total
    * variation distance ½Σᵥ|p_class(v) − p_global(v)| over the
    * account-balance bands. Every distance term is a ratio of exact
    * integer counts, so t is two divisions and a bounded sum.
    *
    * Scale shape: one (QI, sensitive) count aggregation over the table,
    * then everything runs on the |QI classes| × |bands| grid (a cross
    * join of two broadcast-sized aggregates) — class count is bounded by
    * the QI domain, never table rows. */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = {
    val cells = Materialize(Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nation"),
        col("c_mktsegment").as("segment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      .groupBy(col("nation"), col("segment"), col("bal_band"))
      .agg(count(lit(1)).as("c")))
    val g = cells.groupBy(col("nation"), col("segment"))
      .agg(sum(col("c")).cast("bigint").as("n_g"))
    val gv = cells.groupBy(col("bal_band").as("gv_band"))
      .agg(sum(col("c")).cast("bigint").as("cv"))
    val tot = cells.agg(sum(col("c")).cast("bigint").as("n"))
    g.crossJoin(gv).crossJoin(tot)
      .join(cells.select(col("nation").as("cn"), col("segment").as("cs"),
        col("bal_band"), col("c")),
        col("nation") === col("cn") && col("segment") === col("cs")
          && col("gv_band") === col("bal_band"), "left")
      .groupBy(col("nation"), col("segment"))
      .agg(max(col("n_g")).as("class_size"),
        stableRound4(
          (sum(abs(coalesce(col("c"), lit(0L)).cast("double") / col("n_g")
            - col("cv").cast("double") / col("n"))) / 2)).as("t_dist"))
      .orderBy(col("t_dist").desc, col("nation"), col("segment"))
  }

  /** q_jarque_bera: the Jarque–Bera normality screen per document source
    * — skewness/kurtosis moments of the length distribution and
    * JB = n/6·(S² + ¼(K−3)²), the cheap "is this slice even roughly
    * Gaussian" gate run before any parametric drift test ([[ksTest]] is
    * the expensive distribution-free follow-up). Moments run over the
    * VALUE-COMPRESSED (source, length) counts — the module's standard
    * domain-compression recipe — so the power sums are bounded by the
    * length domain, not corpus rows; the m₂>0 guard follows the module's
    * degenerate-denominator convention. */
  def jarqueBera(spark: SparkSession, dir: String): DataFrame = {
    val vc = Tables.documents(spark, dir)
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val m = vc.groupBy(col("source"))
      .agg(sum(col("c")).cast("bigint").as("n"),
        (sum(col("v") * col("c")).cast("double") / sum(col("c"))).as("mu"))
    val mom = vc.join(m, Seq("source"))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"),
        (sum(col("c") * (col("v") - col("mu")) * (col("v") - col("mu")))
          / max(col("n"))).as("m2"),
        (sum(col("c") * (col("v") - col("mu")) * (col("v") - col("mu"))
          * (col("v") - col("mu"))) / max(col("n"))).as("m3"),
        (sum(col("c") * (col("v") - col("mu")) * (col("v") - col("mu"))
          * (col("v") - col("mu")) * (col("v") - col("mu")))
          / max(col("n"))).as("m4"))
    val skew = col("m3") / sqrt(col("m2") * col("m2") * col("m2"))
    val kurt = col("m4") / (col("m2") * col("m2"))
    mom.select(col("source"), col("n_docs"),
      stableRound4(when(col("m2") > 0, skew)).as("skewness"),
      stableRound4(when(col("m2") > 0, kurt)).as("kurtosis"),
      stableRound4(when(col("m2") > 0,
        (col("n_docs") / 6.0 * (skew * skew
          + lit(0.25) * (kurt - 3) * (kurt - 3))))).as("jb"))
      .orderBy(col("source"))
  }

  /** q_grubbs: Grubbs' maximum-studentized-deviate outlier test on order
    * totals — G = max|x − x̄|/s, the classic "is the single most extreme
    * record a data error" audit. The argmax is taken on the EXACT integer
    * |cents·n − Σcents| (the cross-engine integer-argmax rule: a float
    * |x − mean| ranking can flip on mean ULPs; scaling by n keeps every
    * deviation exact), tie-broken on the order key; only the final
    * studentization touches floats. BOTH wide products ride
    * DECIMAL(38,0) (HUGEINT in the oracle): the squared-cents power sum
    * AND the argmax product cents·n — at 100 TB posture cents ≈ 5.6e7
    * and n ≈ 1.5e11 put cents·n within ~10 % of Long.MAX, so a BIGINT
    * product would overflow exactly where the audit matters most.
    * Scale shape: one scan for the three power sums, one
    * TakeOrderedAndProject for the argmax — no window, no join wider
    * than a 1-row broadcast. */
  def grubbs(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.orders(spark, dir)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("bigint").as("cents"))
    val m = Materialize(c.agg(count(lit(1)).as("n"),
      sum(col("cents")).as("s"),
      sum((col("cents") * col("cents")).cast("decimal(38,0)"))
        .cast("double").as("s2")))
    val top = c.crossJoin(m)
      .select(col("o_orderkey"), col("cents"),
        abs(col("cents").cast("decimal(38,0)") * col("n") - col("s"))
          .as("dev_n"))
      .orderBy(col("dev_n").desc, col("o_orderkey"))
      .limit(1)
    val variance = (col("s2") / col("n")
      - (col("s").cast("double") / col("n"))
        * (col("s").cast("double") / col("n")))
    top.crossJoin(m)
      .select(col("n").as("n_orders"), col("o_orderkey").as("outlier_key"),
        stableRound4(col("cents") / 100.0).as("outlier_value"),
        stableRound4(when(variance > 0,
          ((col("dev_n").cast("double") / col("n") / 100.0)
            / sqrt(variance / 10000.0)))).as("g_stat"))
  }

  /** q_partial_corr: first-order partial correlation r_xy·z over the
    * daily operational series — daily event count (x) vs daily revenue
    * (y) controlling for daily active users (z): does volume predict
    * revenue beyond what headcount explains? The three pairwise Pearsons
    * come from one pass of moment sums over the |days|-bounded daily
    * frame (domain compression — the corpus collapses to one row per
    * day before any correlation math), then
    * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) with the
    * module's degenerate-denominator guards. */
  def partialCorr(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x"),
        sum(col("value")).cast("double").as("y"),
        countDistinct(col("user_id")).cast("double").as("z"))
    val m = d.agg(count(lit(1)).as("n"),
      avg(col("x")).as("mx"), avg(col("y")).as("my"), avg(col("z")).as("mz"),
      avg(col("x") * col("y")).as("mxy"), avg(col("x") * col("z")).as("mxz"),
      avg(col("y") * col("z")).as("myz"), avg(col("x") * col("x")).as("mxx"),
      avg(col("y") * col("y")).as("myy"), avg(col("z") * col("z")).as("mzz"))
    val rxy = ((col("mxy") - col("mx") * col("my"))
      / sqrt((col("mxx") - col("mx") * col("mx"))
        * (col("myy") - col("my") * col("my"))))
    val rxz = ((col("mxz") - col("mx") * col("mz"))
      / sqrt((col("mxx") - col("mx") * col("mx"))
        * (col("mzz") - col("mz") * col("mz"))))
    val ryz = ((col("myz") - col("my") * col("mz"))
      / sqrt((col("myy") - col("my") * col("my"))
        * (col("mzz") - col("mz") * col("mz"))))
    m.select(col("n").cast("bigint").as("n_days"),
      stableRound4(rxy).as("r_xy"), stableRound4(rxz).as("r_xz"),
      stableRound4(ryz).as("r_yz"),
      stableRound4(when(
        (lit(1) - rxz * rxz) * (lit(1) - ryz * ryz) > 0,
        ((rxy - rxz * ryz)
          / sqrt((lit(1) - rxz * rxz) * (lit(1) - ryz * ryz)))))
        .as("r_xy_z"))
  }

  /** q_chow_test: Chow structural-break F-test on the daily revenue trend
    * — does one OLS line fit the whole series, or do the two halves want
    * different lines (the regime-shift screen run before trusting any
    * single trend number like [[EventOps.theilSen]]'s)? RSS per regime
    * from centered moment sums (RSS = Syy − Sxy²/Sxx), F = ((RSS_p −
    * RSS₁ − RSS₂)/k) / ((RSS₁+RSS₂)/(n−2k)) with k = 2 line parameters.
    * Scale shape: one daily aggregation (the corpus-sized pass), one
    * \|days\|-row index window, two bounded moment rollups. */
  def chowTest(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 4).as("y"))
    val ix = d
      .withColumn("x", row_number().over(Window.orderBy(col("day")))
        .cast("double"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
    val g = ix.withColumn("regime",
      when(col("x") <= floor(col("n") / 2), 1).otherwise(2))
    def moments(df: DataFrame, keys: Seq[Column]) = df
      .groupBy(keys: _*)
      .agg(count(lit(1)).cast("double").as("nr"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    def rss = ((col("syy") - col("sy") * col("sy") / col("nr"))
      - (col("sxy") - col("sx") * col("sy") / col("nr"))
        * (col("sxy") - col("sx") * col("sy") / col("nr"))
        / (col("sxx") - col("sx") * col("sx") / col("nr")))
    val split = moments(g, Seq(col("regime")))
      .select(rss.as("r")).agg(sum(col("r")).as("rs"))
    val pooled = moments(g, Seq.empty)
      .select(col("nr").as("n"), rss.as("rp"))
    pooled.crossJoin(broadcast(split))
      .select(col("n").cast("bigint").as("n_days"),
        floor(col("n") / 2).cast("bigint").as("break_at"),
        stableRound4(col("rp")).as("rss_pooled"),
        stableRound4(col("rs")).as("rss_split"),
        stableRound4(when(col("rs") > 0 && col("n") > 4,
          (((col("rp") - col("rs")) / 2)
            / (col("rs") / (col("n") - 4))))).as("f_stat"))
  }

  /** q_tost: two-one-sided-tests equivalence between the first two
    * sources' mean document lengths — the audit that PROVES similarity
    * where a t-test can only fail to find difference (the standard
    * pre-merge check before pooling two crawl slices): both
    * t = (diff ± δ)/se must clear 1.645 at margin δ = 100 chars. Moment
    * sums are exact integers until the final divisions.
    * Scale shape: one two-group aggregation, then 1-row algebra. */
  def tost(spark: SparkSession, dir: String, margin: Double = 100.0)
      : DataFrame = {
    val m = Tables.documents(spark, dir)
      .filter(col("source").isin("src0", "src1"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("n_chars")).cast("bigint").as("s"),
        sum(col("n_chars") * col("n_chars")).cast("bigint").as("s2"))
    def pick(src: String, c: Column) =
      max(when(col("source") === src, c))
    val w = m.agg(
      pick("src0", col("s").cast("double") / col("n")).as("m1"),
      pick("src1", col("s").cast("double") / col("n")).as("m2"),
      pick("src0", ((col("s2") - col("s").cast("double") * col("s")
        / col("n")) / (col("n") - 1) / col("n"))).as("se1"),
      pick("src1", ((col("s2") - col("s").cast("double") * col("s")
        / col("n")) / (col("n") - 1) / col("n"))).as("se2"),
      pick("src0", col("n")).as("n1"), pick("src1", col("n")).as("n2"))
    val tLow = ((col("m1") - col("m2")) + margin) / sqrt(col("se1") + col("se2"))
    val tHigh = (lit(margin) - (col("m1") - col("m2"))) / sqrt(col("se1") + col("se2"))
    w.select(col("n1"), col("n2"),
      stableRound4(col("m1") - col("m2")).as("diff"),
      stableRound4(sqrt(col("se1") + col("se2"))).as("se"),
      stableRound4(when(col("se1") + col("se2") > 0, tLow)).as("t_lower"),
      stableRound4(when(col("se1") + col("se2") > 0, tHigh)).as("t_upper"),
      (when(col("se1") + col("se2") > 0, tLow) > 1.645
        && when(col("se1") + col("se2") > 0, tHigh) > 1.645)
        .as("equivalent"))
  }

  /** q_acf_pacf: autocorrelation + partial autocorrelation (lags 1–3) of
    * the global hourly event series — the ARIMA-order identification
    * table ([[EventOps.arFit]] fits the model this table chooses). ACF
    * from one lag window over the \|hours\|-bounded series; PACF by the
    * Durbin–Levinson recursion unrolled to level 3 (pure scalar algebra
    * on the three ACF values, identical association order in the
    * oracle). Output one row per lag. */
  def acfPacf(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).cast("double").as("x"))
    val mu = h.agg((sum(col("x")) / count(lit(1))).as("m"))
    val wOrd = Window.orderBy(col("hr"))
    val lagd = h.crossJoin(broadcast(mu))
      .select((col("x") - col("m")).as("d"),
        (lag(col("x"), 1).over(wOrd) - col("m")).as("d1"),
        (lag(col("x"), 2).over(wOrd) - col("m")).as("d2"),
        (lag(col("x"), 3).over(wOrd) - col("m")).as("d3"))
    val s = lagd.agg(sum(col("d") * col("d")).as("den"),
      sum(col("d") * col("d1")).as("n1"),
      sum(col("d") * col("d2")).as("n2"),
      sum(col("d") * col("d3")).as("n3"))
    val r = s.filter(col("den") > 0)
      .select((col("n1") / col("den")).as("r1"),
        (col("n2") / col("den")).as("r2"),
        (col("n3") / col("den")).as("r3"))
    val dl = r
      .withColumn("p2",
        ((col("r2") - col("r1") * col("r1"))
          / (lit(1) - col("r1") * col("r1"))))
      .withColumn("phi21", col("r1") * (lit(1) - col("p2")))
      .withColumn("p3",
        ((col("r3") - col("phi21") * col("r2") - col("p2") * col("r1"))
          / (lit(1) - col("phi21") * col("r1") - col("p2") * col("r2"))))
    dl.select(explode(array(
      struct(lit(1).as("lag"), stableRound4(col("r1")).as("acf"),
        stableRound4(col("r1")).as("pacf")),
      struct(lit(2).as("lag"), stableRound4(col("r2")).as("acf"),
        stableRound4(col("p2")).as("pacf")),
      struct(lit(3).as("lag"), stableRound4(col("r3")).as("acf"),
        stableRound4(col("p3")).as("pacf")))).as("row"))
      .select(col("row.lag").as("lag"), col("row.acf").as("acf"),
        col("row.pacf").as("pacf"))
      .orderBy(col("lag"))
  }

  /** q_granger: lag-1 Granger-causality F-test — does yesterday's event
    * VOLUME predict today's revenue beyond yesterday's revenue (the
    * restricted AR(1) vs the full two-predictor OLS, both in closed form
    * from centered moment sums; the 2×2 normal equations solve by
    * Cramer's rule). The operational "is this metric leading that one"
    * question [[partialCorr]] asks contemporaneously.
    * Scale shape: one daily aggregation, one \|days\| lag window, one
    * 10-sum moment rollup, scalar algebra. */
  def granger(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x"),
        round(sum(col("value")), 4).as("y"))
    val wOrd = Window.orderBy(col("day"))
    val f = d.select(col("y"), lag(col("y"), 1).over(wOrd).as("z1"),
      lag(col("x"), 1).over(wOrd).as("z2"))
      .filter(col("z1").isNotNull)
    val s = f.agg(count(lit(1)).cast("double").as("n"),
      sum(col("y")).as("sy"), sum(col("z1")).as("s1"),
      sum(col("z2")).as("s2"), sum(col("y") * col("y")).as("syy"),
      sum(col("z1") * col("z1")).as("s11"),
      sum(col("z2") * col("z2")).as("s22"),
      sum(col("y") * col("z1")).as("s1y"),
      sum(col("y") * col("z2")).as("s2y"),
      sum(col("z1") * col("z2")).as("s12"))
    val c = s.select(col("n"),
      (col("syy") - col("sy") * col("sy") / col("n")).as("cyy"),
      (col("s11") - col("s1") * col("s1") / col("n")).as("c11"),
      (col("s22") - col("s2") * col("s2") / col("n")).as("c22"),
      (col("s1y") - col("s1") * col("sy") / col("n")).as("c1y"),
      (col("s2y") - col("s2") * col("sy") / col("n")).as("c2y"),
      (col("s12") - col("s1") * col("s2") / col("n")).as("c12"))
    val det = col("c11") * col("c22") - col("c12") * col("c12")
    val rssR = col("cyy") - col("c1y") * col("c1y") / col("c11")
    val rssF = when(det > 0,
      (col("cyy")
        - ((col("c1y") * col("c22") - col("c2y") * col("c12")) / det)
          * col("c1y")
        - ((col("c2y") * col("c11") - col("c1y") * col("c12")) / det)
          * col("c2y")))
    c.select(col("n").cast("bigint").as("n_days"),
      stableRound4(rssR).as("rss_restricted"),
      stableRound4(rssF).as("rss_full"),
      stableRound4(when(rssF > 0 && col("n") > 4,
        ((rssR - rssF) / (rssF / (col("n") - 4))))).as("f_stat"))
  }

  /** q_cohens_d: standardized effect size (Cohen's d + the small-sample
    * Hedges' g correction) of each source's mean doc length against the
    * REST of the corpus — the "how big is the difference" companion the
    * p-value queries ([[ksTest]], q_ttest) deliberately don't answer.
    * Rest-moments come from global − source totals (one pass, exact
    * integers); pooled SD uses sample variances.
    * Scale shape: one per-source aggregation plus a 1-row broadcast of
    * the global totals. */
  def cohensD(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(col("n_chars")).cast("bigint").as("s"),
        sum(col("n_chars") * col("n_chars")).cast("bigint").as("s2"))
    val g = per.agg(sum(col("n")).cast("bigint").as("gn"),
      sum(col("s")).cast("bigint").as("gs"),
      sum(col("s2")).cast("bigint").as("gs2"))
    val z = per.crossJoin(broadcast(g))
      .select(col("source"), col("n"), col("gn"),
        (col("gn") - col("n")).as("nr"),
        (col("s").cast("double") / col("n")).as("m1"),
        ((col("gs") - col("s")).cast("double") / (col("gn") - col("n")))
          .as("m2"),
        ((col("s2") - col("s").cast("double") * col("s") / col("n"))
          / (col("n") - 1)).as("v1"),
        (((col("gs2") - col("s2"))
          - (col("gs") - col("s")).cast("double") * (col("gs") - col("s"))
            / (col("gn") - col("n"))) / (col("gn") - col("n") - 1))
          .as("v2"))
    val sp = sqrt(((col("n") - 1) * col("v1") + (col("nr") - 1) * col("v2"))
      / (col("n") + col("nr") - 2))
    z.select(col("source"), col("n").as("n_docs"),
      stableRound4(col("m1")).as("mean_src"),
      stableRound4(col("m2")).as("mean_rest"),
      stableRound4(when(sp > 0, (col("m1") - col("m2")) / sp))
        .as("cohens_d"),
      stableRound4(when(sp > 0, ((col("m1") - col("m2")) / sp
        * (lit(1) - lit(3.0) / (lit(4) * col("gn") - 9)))))
        .as("hedges_g"))
      .orderBy(col("source"))
  }

  /** q_hill_tail: Hill tail-index estimator over the top-100 document
    * lengths — the heavy-tail screen a chunking/packing policy reads
    * before fixing a budget (α ≈ 10 is near-exponential; α < 2 means
    * unbounded variance and a chunker that must expect monsters):
    * H = mean(ln xᵢ − ln x₍ₖ₊₁₎) over the k largest, α = 1/H. The
    * order statistics come from ONE TakeOrderedAndProject (k+1 rows,
    * deterministic (length desc, doc_id) tie order — never a global
    * window over the corpus); all remaining math runs on k+1 rows.
    * Degenerate case (corpus smaller than k+1 docs): the x₍ₖ₊₁₎ frame
    * is empty, so the cross join empties the result — ZERO rows in both
    * engines (the oracle selects rn = k+1 as a filter, not max(CASE),
    * for exactly this reason). */
  def hillTail(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val top = Tables.documents(spark, dir)
      .select(col("n_chars"), col("doc_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .limit(k + 1)
    val ranked = top.withColumn("rn",
      row_number().over(Window.orderBy(col("n_chars").desc, col("doc_id"))))
    val xk = ranked.filter(col("rn") === k + 1)
      .select(col("n_chars").as("xk"))
    val h = (avg(log(col("n_chars").cast("double")))
      - log(col("xk").cast("double")))
    ranked.filter(col("rn") <= k)
      .crossJoin(broadcast(xk))
      .groupBy(col("xk"))
      .agg(stableRound4(h).as("hill_h"),
        stableRound4(when(h > 0, lit(1.0) / h)).as("tail_alpha"))
      .select(lit(k).as("k"), col("xk").cast("bigint").as("x_k"),
        col("hill_h"), col("tail_alpha"))
  }

  /** q_friedman: the Friedman rank test across event types blocked by day
    * — the repeated-measures companion to [[kruskalWallis]] (which
    * ignores the day blocking): do the k event types genuinely differ in
    * daily volume once each day serves as its own control? Ranks are
    * per-day midranks over the 0-filled day×type grid (rank + (ties−1)/2
    * — exact half-integers), so every rank sum and the tie-corrected
    * statistic χ² = (k−1)·Σ(Rⱼ − n(k+1)/2)² / (A − nk(k+1)²/4) are exact
    * until the final rounding; the A = C degenerate case (all-tied
    * blocks) nulls out per the module convention.
    *
    * Scale shape: one (day, type) count aggregation, a broadcast grid
    * completion, per-day rank windows (parallel across days, k rows
    * each), and two bounded rollups. */
  def friedman(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("x"))
    val days = d.select(col("day")).distinct()
    val types = d.select(col("event_type")).distinct()
    val f = days.crossJoin(broadcast(types))
      .join(d, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("x"), lit(0L)).as("x"))
    val wDay = Window.partitionBy(col("day")).orderBy(col("x"))
    val wTie = Window.partitionBy(col("day"), col("x"))
    val rk = f.withColumn("r",
      (rank().over(wDay).cast("double")
        + (count(lit(1)).over(wTie) - 1).cast("double") / 2.0))
    val pars = Materialize(f.agg(
      countDistinct(col("day")).cast("double").as("n"),
      countDistinct(col("event_type")).cast("double").as("k")))
    val rj = rk.groupBy(col("event_type")).agg(sum(col("r")).as("rsum"))
    val a = rk.agg(sum(col("r") * col("r")).as("bigA"))
    val num = rj.crossJoin(pars)
      .agg(sum((col("rsum") - col("n") * (col("k") + 1) / 2.0)
        * (col("rsum") - col("n") * (col("k") + 1) / 2.0)).as("ssq"))
    num.crossJoin(broadcast(a)).crossJoin(broadcast(pars))
      .select(col("n").cast("bigint").as("n_blocks"),
        col("k").cast("bigint").as("k_treatments"),
        stableRound4(when(
          (col("bigA") - col("n") * col("k") * (col("k") + 1)
            * (col("k") + 1) / 4.0) > 0,
          ((col("k") - 1) * col("ssq")
            / (col("bigA") - col("n") * col("k") * (col("k") + 1)
              * (col("k") + 1) / 4.0)))).as("friedman_chi2"))
  }

  /** q_xi_corr: Chatterjee's rank correlation ξ (Chatterjee 2020, JASA
    * 116:2009–2022) between daily event volume and daily revenue, BOTH
    * directions — ξ is deliberately ASYMMETRIC: ξ(x→y) ≈ 1 when y is
    * any measurable function of x (not just monotone, where
    * [[spearman]]/Kendall saturate) and ≈ 0 under independence. The
    * general ties formula: order the pairs by (x, day) — day is the
    * deterministic tie-break the paper's random ordering becomes under
    * a fixed seedless contract — with r_i = #{j: y_j ≤ y_i},
    * l_i = #{j: y_j ≥ y_i}; ξ = 1 − n·Σ_{i<n}|r_{i+1} − r_i| /
    * (2·Σ l_i(n − l_i)). Every term is an integer count (RANGE-frame
    * windows over the rounded daily values), so ξ is exact rational
    * arithmetic until the final division — bit-identical across
    * engines. Scale shape: one daily aggregation, then rank/lag
    * windows on the |days|-bounded frame. */
  def xiCorr(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x"),
        round(sum(col("value")), 4).as("y"))
    def xiOf(xc: String, yc: String, label: String): DataFrame = {
      val wLe = Window.orderBy(col("yv"))
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val wGe = Window.orderBy(col("yv").desc)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val wX = Window.orderBy(col("xv"), col("day"))
      val wAll = Window.partitionBy()
      d.select(col("day"), col(xc).as("xv"), col(yc).as("yv"))
        .withColumn("r", count(lit(1)).over(wLe).cast("double"))
        .withColumn("l", count(lit(1)).over(wGe).cast("double"))
        .withColumn("n", count(lit(1)).over(wAll).cast("double"))
        .withColumn("dr", abs(col("r") - lag(col("r"), 1).over(wX)))
        .agg(max(col("n")).as("n"),
          sum(col("dr")).as("sum_dr"),
          sum(col("l") * (col("n") - col("l"))).as("denom"))
        .select(lit(label).as("direction"),
          col("n").cast("bigint").as("n_days"),
          stableRound4(when(col("denom") > 0,
            lit(1.0) - col("n") * col("sum_dr")
              / (lit(2.0) * col("denom")))).as("xi"))
    }
    xiOf("x", "y", "volume_to_revenue")
      .unionAll(xiOf("y", "x", "revenue_to_volume"))
      .orderBy(col("direction"))
  }

  /** q_wilcoxon_signed: the Wilcoxon signed-rank test on paired daily
    * (click, view) counts — the nonparametric paired companion to
    * [[mannwhitney]]'s independent two-sample rank-sum: d_i = clicks −
    * views per day, zeros dropped (the standard Wilcoxon reduction),
    * |d| midranked (integer |d| → midranks exact halves), W⁺ = Σ ranks
    * over d > 0, and the tie-corrected normal approximation z =
    * (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48),
    * p = erfc(|z|/√2) two-sided via the shared A&S 7.1.26 chain
    * ([[InferenceOps.erfcAS]] — identical Horner literals both
    * engines). All rank arithmetic is integer-exact; only z/p ride
    * float, from identical inputs. Scale shape: one conditional daily
    * aggregation, rank + tie windows on the |days|-bounded frame. */
  def wilcoxonSigned(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicks"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("views"))
      .select((col("clicks") - col("views")).as("diff"))
      .filter(col("diff") =!= 0)
      .withColumn("ad", abs(col("diff")))
    val wRank = Window.orderBy(col("ad"))
    val wTie = Window.partitionBy(col("ad"))
    val wAll = Window.partitionBy()
    val ranked = d
      .withColumn("r_min", rank().over(wRank))
      .withColumn("t_sz", count(lit(1)).over(wTie))
      .withColumn("r",
        col("r_min") + (col("t_sz") - 1).cast("double") / 2.0)
      .withColumn("n", count(lit(1)).over(wAll).cast("double"))
    val ties = ranked.select(col("ad"), col("t_sz")).distinct()
      .agg(coalesce(sum(col("t_sz") * col("t_sz") * col("t_sz")
        - col("t_sz")), lit(0L)).cast("double").as("tie_corr"))
    val agg = ranked.agg(max(col("n")).as("n"),
      sum(when(col("diff") > 0, col("r")).otherwise(lit(0.0)))
        .as("w_plus"))
    val mu = col("n") * (col("n") + 1) / 4.0
    val sig = sqrt(col("n") * (col("n") + 1)
      * (lit(2.0) * col("n") + 1) / 24.0 - col("tie_corr") / 48.0)
    val z = (col("w_plus") - mu) / sig
    agg.crossJoin(broadcast(ties))
      .select(col("n").cast("bigint").as("n_pairs"),
        stableRound4(col("w_plus")).as("w_plus"),
        stableRound4(when(sig > 0, z)).as("z"),
        round(when(sig > 0,
          InferenceOps.erfcAS(abs(z) * InferenceOps.InvSqrt2))
          .cast("decimal(20,8)"), 6).cast("double").as("p"))
  }

  /** q_page_trend: Page's L test for an ORDERED alternative across the
    * [[friedman]] layout — same (day × event-type) within-day midranks,
    * but against the hypothesis that type intensity follows the FIXED
    * type order (alphabetical — the deterministic stand-in for a
    * domain-given dose order): L = Σ_j s_j·R_j with s_j the 1-based
    * ordinal of type j and R_j its rank sum across days. Friedman asks
    * "are the treatments different at all"; Page asks "do they trend in
    * the stated order" — strictly more powerful when an order is
    * pre-registered. z from the no-ties moments E[L] = n·k(k+1)²/4,
    * Var[L] = n·k²(k+1)²(k−1)/144 (midranks make |z| conservative under
    * ties — documented, identical both engines).
    *
    * Scale shape: identical to [[friedman]] — one (day, type) partial
    * aggregation, per-day rank windows on the bounded grid, a k-row
    * score join. */
  def pageTrend(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("x"))
    val days = d.select(col("day")).distinct()
    val types = d.select(col("event_type")).distinct()
    val f = days.crossJoin(broadcast(types))
      .join(d, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("x"), lit(0L)).as("x"))
    val wDay = Window.partitionBy(col("day")).orderBy(col("x"))
    val wTie = Window.partitionBy(col("day"), col("x"))
    val rk = f.withColumn("r",
      (rank().over(wDay).cast("double")
        + (count(lit(1)).over(wTie) - 1).cast("double") / 2.0))
    val pars = Materialize(f.agg(
      countDistinct(col("day")).cast("double").as("n"),
      countDistinct(col("event_type")).cast("double").as("k")))
    val wScore = Window.orderBy(col("event_type"))
    val scores = types.withColumn("s",
      row_number().over(wScore).cast("double"))
    val lStat = rk.groupBy(col("event_type")).agg(sum(col("r")).as("rsum"))
      .join(broadcast(scores), Seq("event_type"))
      .agg(sum(col("s") * col("rsum")).as("l"))
    val el = col("n") * col("k") * (col("k") + 1) * (col("k") + 1) / 4.0
    val vl = col("n") * col("k") * col("k") * (col("k") + 1) *
      (col("k") + 1) * (col("k") - 1) / 144.0
    lStat.crossJoin(pars)
      .filter(col("k") > 1 && col("n") > 0)
      .select(col("n").cast("bigint").as("n_days"),
        col("k").cast("bigint").as("k_types"),
        stableRound4(col("l")).as("page_l"),
        stableRound4(el).as("expected_l"),
        stableRound4(when(vl > 0, (col("l") - el) / sqrt(vl))).as("z"))
  }

  /** q_brunner_munzel: the Brunner–Munzel generalized Wilcoxon test
    * (Brunner & Munzel 2000) on per-user activity between the two
    * rollout variants (user_id mod 2, the [[abTest]] assignment) — the
    * modern replacement for Mann–Whitney when variances/shapes differ
    * (the Behrens–Fisher rank problem): tests P(X < Y) + ½P(X = Y) = ½
    * and emits that common-language effect p̂ directly.
    *
    * Everything runs on the value-compressed (variant, n_events) grid:
    * pooled and within-sample midranks are exact halves from integer
    * count windows over the bounded distinct-count domain; the rank
    * variances S²_k weight each distinct value by its count, so no
    * per-user row survives the first aggregation. Statistic in the
    * lawstat form W = n₁n₂(m₂−m₁)/(N·√(n₁S₁² + n₂S₂²)). */
  def brunnerMunzel(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("v"))
      .select((col("user_id") % 2).as("g"), col("v"))
    val byGV = perUser.groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("c"))
    val byV = byGV.groupBy(col("v")).agg(sum(col("c")).as("n_v"))
    val wAll = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pooled = byV
      .withColumn("below", coalesce(sum(col("n_v")).over(wAll), lit(0L)))
      .select(col("v"),
        (col("below").cast("double")
          + (col("n_v") + 1).cast("double") / 2.0).as("rp"))
    val wG = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cells = byGV
      .withColumn("below_g", coalesce(sum(col("c")).over(wG), lit(0L)))
      .withColumn("ri",
        col("below_g").cast("double") + (col("c") + 1).cast("double") / 2.0)
      .join(pooled, Seq("v"))
    val perG = cells.groupBy(col("g")).agg(
      sum(col("c")).cast("double").as("n_g"),
      sum(col("c").cast("double") * col("rp")).as("rp_sum"))
    val withMean = cells.join(broadcast(perG), Seq("g"))
      .withColumn("m_g", col("rp_sum") / col("n_g"))
      .withColumn("dev",
        col("rp") - col("ri") - col("m_g")
          + (col("n_g") + 1.0) / 2.0)
    val sg = withMean.groupBy(col("g")).agg(
      max(col("n_g")).as("n_g"), max(col("m_g")).as("m_g"),
      (sum(col("c").cast("double") * col("dev") * col("dev"))
        / (max(col("n_g")) - 1.0)).as("s2"))
    val wide = sg.agg(
      sum(when(col("g") === 0, col("n_g"))).as("n1"),
      sum(when(col("g") === 1, col("n_g"))).as("n2"),
      sum(when(col("g") === 0, col("m_g"))).as("m1"),
      sum(when(col("g") === 1, col("m_g"))).as("m2"),
      sum(when(col("g") === 0, col("s2"))).as("s21"),
      sum(when(col("g") === 1, col("s2"))).as("s22"))
    val nn = col("n1") + col("n2")
    val se = sqrt(col("n1") * col("s21") + col("n2") * col("s22"))
    wide.filter(col("n1") > 1 && col("n2") > 1)
      .select(col("n1").cast("bigint").as("n_a"),
        col("n2").cast("bigint").as("n_b"),
        stableRound4((col("m2") - (col("n2") + 1.0) / 2.0) / col("n1"))
          .as("p_hat"),
        stableRound4(when(se > 0,
          col("n1") * col("n2") * (col("m2") - col("m1")) / nn / se))
          .as("bm_stat"))
  }

  /** q_bartlett: Bartlett's test for homogeneity of variances of document
    * length across sources — the PARAMETRIC companion to [[levene]] (same
    * groups, same column): more powerful when lengths are near-normal,
    * fragile to heavy tails, so a variance-policy dashboard reads both.
    * χ² = [(N−k)·ln S_p² − Σ(n_i−1)·ln S_i²] / C with
    * C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1)).
    *
    * Per-source Σv and Σv² are exact integers (Σv² in DECIMAL(38,0), the
    * [[grubbs]] overflow rule — both engines round the same exact integer
    * to double, so the variance float chain starts identical); everything
    * after runs on the \|sources\|-row frame. Only the DIMENSIONLESS χ²
    * and C are emitted — raw pooled variances are fixture-scaled
    * magnitudes whose 4-dp rounding would be fragile. */
  def bartlett(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_s"),
        sum(col("n_chars")).cast("bigint").as("s"),
        sum((col("n_chars") * col("n_chars")).cast("decimal(38,0)"))
          .cast("double").as("s2"))
    val vi = (col("s2") - col("s").cast("double") * col("s") / col("n_s")) /
      (col("n_s") - 1)
    val rows = per.filter(col("n_s") > 1 && vi > 0)
      .select(col("n_s"), vi.as("v_i"))
    val m = rows.agg(count(lit(1)).cast("bigint").as("k"),
      sum(col("n_s")).cast("bigint").as("n_total"),
      sum((col("n_s") - 1).cast("double") * log(col("v_i"))).as("sln"),
      sum((col("n_s") - 1).cast("double") * col("v_i")).as("sv"),
      sum(lit(1.0) / (col("n_s") - 1).cast("double")).as("sinv"))
    val df = (col("n_total") - col("k")).cast("double")
    val pooled = col("sv") / df
    val chi2num = df * log(pooled) - col("sln")
    val corr = lit(1.0) + (col("sinv") - lit(1.0) / df) /
      (lit(3.0) * (col("k") - 1).cast("double"))
    m.filter(col("k") > 1 && col("n_total") > col("k"))
      .select(col("k").as("n_sources"), col("n_total").as("n_docs"),
        stableRound4(corr).as("correction_c"),
        stableRound4(chi2num / corr).as("chi2_stat"))
  }

  /** q_mood_median: Mood's median test of document length across
    * sources — the rank-free robust screen between [[levene]] (spread)
    * and [[kruskal]] (full ranks): split every document at the GRAND
    * median and ask whether above-median share is homogeneous across
    * sources, per-source χ² contributions against the pooled
    * expectation. Survives arbitrary outliers because only the
    * above/below bit enters.
    *
    * The grand median comes from the value-compressed (n_chars, count)
    * distribution (the [[levene]] per-source median trick, globally) —
    * the cumulative window runs on the \|distinct lengths\|-bounded
    * frame, never corpus rows; the verdict table is one exact-integer
    * aggregation over sources with the 1-row median broadcast. */
  def moodMedian(spark: SparkSession, dir: String): DataFrame = {
    val byV = Tables.documents(spark, dir)
      .groupBy(col("n_chars").as("v")).agg(count(lit(1)).as("nv"))
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot0 = byV.agg(sum(col("nv")).as("nn"))
    val med = byV.crossJoin(broadcast(tot0))
      .withColumn("cum", sum(col("nv")).over(wCum))
      .filter(col("cum") - col("nv") < ceil(col("nn") / 2.0)
        && col("cum") >= ceil(col("nn") / 2.0))
      .select(col("v").as("med"))
    val per = Tables.documents(spark, dir).crossJoin(broadcast(med))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("bigint").as("n_docs"),
        sum(when(col("n_chars") > col("med"), 1L).otherwise(0L))
          .cast("bigint").as("n_above"))
    val tot = per.agg(sum(col("n_docs")).cast("bigint").as("nn"),
      sum(col("n_above")).cast("bigint").as("aa"))
    val expAbove = col("n_docs").cast("double") * col("aa") / col("nn")
    val expBelow = col("n_docs").cast("double") * (col("nn") - col("aa")) /
      col("nn")
    val dAbove = col("n_above").cast("double") - expAbove
    val dBelow = (col("n_docs") - col("n_above")).cast("double") - expBelow
    per.crossJoin(broadcast(tot)).crossJoin(broadcast(med))
      .select(col("source"), col("n_docs"), col("n_above"), col("med"),
        stableRound4(col("n_above").cast("double") / col("n_docs"))
          .as("share_above"),
        stableRound4(when(expAbove > 0, expAbove)).as("exp_above"),
        stableRound4(when(expAbove > 0 && expBelow > 0,
          dAbove * dAbove / expAbove + dBelow * dBelow / expBelow))
          .as("chi2_term"))
      .orderBy(col("source"))
  }
}
