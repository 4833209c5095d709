package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.NumericFunctions.stableRound4

/** Second-order time-series diagnostics over the event stream — the
  * model-selection screens an operational pipeline runs after the
  * point estimates ([[EventOps.arFit]], [[StatOps.acfPacf]],
  * [[StatOps.granger]]): is the autocorrelation structure jointly
  * significant (Ljung–Box), is the series even stationary
  * (Dickey–Fuller), does it mean-revert or random-walk
  * (variance-ratio), where is its dominant cycle (periodogram), and are
  * the trend-fit residuals serially correlated (Durbin–Watson).
  *
  * Scale posture: every operator here compresses the corpus to the
  * \|days\|- or \|hours\|-bounded series with ONE aggregation, then runs
  * scalar algebra / bounded lag windows on that frame — the established
  * module recipe (domain compression first, unpartitioned windows only
  * on the bounded frame). At 100 TB the only corpus-sized work is the
  * initial partial-aggregated count/sum scan. */
object SeriesOps {

  /** The hourly count series (the [[StatOps.acfPacf]] domain), centered,
    * with a dense 0-based time index. */
  private def hourlyCentered(spark: SparkSession, dir: String): DataFrame = {
    val h = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).cast("double").as("x"))
    val mu = h.agg(avg(col("x")).as("m"), count(lit(1)).as("n"))
    val w = Window.orderBy(col("hr"))
    h.crossJoin(broadcast(mu))
      .select(col("hr"), col("x"), col("m"), col("n"),
        (col("x") - col("m")).as("d"),
        (row_number().over(w) - 1).cast("double").as("t"))
  }

  /** q_ljung_box: the Ljung–Box portmanteau test on the hourly count
    * series — Q(h) = n(n+2) Σ_{k≤h} ρ_k²/(n−k) over the first
    * [[LjungBoxLags]] autocorrelations: are the lags JOINTLY
    * significant, the one-number screen run before trusting any AR fit.
    * One lag window (all `h` lags in a single pass over the bounded
    * hourly frame), one moment rollup, scalar algebra. */
  val LjungBoxLags = 6
  def ljungBox(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("hr"))
    val lagd = (1 to LjungBoxLags).foldLeft(hourlyCentered(spark, dir)) {
      (acc, k) => acc.withColumn(s"d$k", lag(col("d"), k).over(w))
    }
    val aggs = Seq(sum(col("d") * col("d")).as("den"),
      max(col("n")).as("n")) ++
      (1 to LjungBoxLags).map(k => sum(col("d") * col(s"d$k")).as(s"n$k"))
    val s = lagd.agg(aggs.head, aggs.tail: _*)
    val qTerms = (1 to LjungBoxLags).map { k =>
      val rk = col(s"n$k") / col("den")
      rk * rk / (col("n").cast("double") - k)
    }.reduce(_ + _)
    s.filter(col("den") > 0)
      .select(col("n").cast("bigint").as("n_hours"),
        lit(LjungBoxLags).as("h"),
        stableRound4(col("n").cast("double") * (col("n") + 2) * qTerms)
          .as("q_stat"))
  }

  /** q_adf: the (non-augmented) Dickey–Fuller unit-root regression on
    * daily revenue — Δy_t = α + β·y_{t−1} + ε; a β near 0 (t-stat above
    * the DF critical values) means the series random-walks and every
    * level-based trend test upstream is suspect. β and its t-stat in
    * closed form from centered moment sums over the \|days\| frame (the
    * [[StatOps.granger]] OLS recipe, one regressor). */
  def adfTest(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("y"))
    val w = Window.orderBy(col("day"))
    val pairs = d.select((col("y") - lag(col("y"), 1).over(w)).as("dy"),
      lag(col("y"), 1).over(w).as("ylag"))
      .filter(col("ylag").isNotNull)
    val m = pairs.agg(count(lit(1)).cast("double").as("n"),
      avg(col("ylag")).as("mx"), avg(col("dy")).as("my"),
      sum(col("ylag") * col("ylag")).as("sxx_raw"),
      sum(col("ylag") * col("dy")).as("sxy_raw"),
      sum(col("dy") * col("dy")).as("syy_raw"))
    val sxx = col("sxx_raw") - col("n") * col("mx") * col("mx")
    val sxy = col("sxy_raw") - col("n") * col("mx") * col("my")
    val syy = col("syy_raw") - col("n") * col("my") * col("my")
    val beta = sxy / sxx
    val see = syy - beta * sxy
    val se = sqrt(see / (col("n") - 2) / sxx)
    m.filter(col("n") > 2)
      .select(col("n").cast("bigint").as("n_obs"),
        stableRound4(when(sxx > 0, beta)).as("beta"),
        stableRound4(when(sxx > 0 && see > 0, beta / se)).as("df_stat"))
  }

  /** q_variance_ratio: the Lo–MacKinlay variance-ratio VR(q) on daily
    * revenue — Var(y_t − y_{t−q}) / (q · Var(y_t − y_{t−1})) with
    * overlapping q-period differences: VR ≈ 1 is a random walk, < 1
    * mean reversion, > 1 trending. Two lag windows over the \|days\|
    * frame and two variance rollups. */
  val VrPeriod = 5
  def varianceRatio(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("y"))
    val w = Window.orderBy(col("day"))
    val diffs = d.select(
      (col("y") - lag(col("y"), 1).over(w)).as("d1"),
      (col("y") - lag(col("y"), VrPeriod).over(w)).as("dq"))
    val m = diffs.agg(
      count(col("d1")).cast("double").as("n1"),
      avg(col("d1")).as("m1"),
      sum(col("d1") * col("d1")).as("s1"),
      count(col("dq")).cast("double").as("nq"),
      avg(col("dq")).as("mq"),
      sum(col("dq") * col("dq")).as("sq"))
    val var1 = (col("s1") - col("n1") * col("m1") * col("m1")) /
      (col("n1") - 1)
    val varq = (col("sq") - col("nq") * col("mq") * col("mq")) /
      (col("nq") - 1)
    m.filter(col("n1") > 1 && col("nq") > 1)
      .select(col("n1").cast("bigint").as("n_diffs"),
        lit(VrPeriod).as("q"),
        stableRound4(var1).as("var_1"),
        stableRound4(varq).as("var_q"),
        stableRound4(when(var1 > 0, varq / (lit(VrPeriod) * var1)))
          .as("vr"))
  }

  /** q_periodogram: the discrete-Fourier power spectrum of the hourly
    * count series at the first [[PeriodogramK]] harmonics — P(k) =
    * (2/n)·[(Σ d·cos(2πkt/n))² + (Σ d·sin(2πkt/n))²]; the dominant-k
    * row is the series' cycle length (the spectral answer to
    * [[EventOps.weeklyProfile]]'s fixed-calendar question). The k
    * harmonics explode from one literal sequence (bounded fan-out), so
    * the whole spectrum is ONE aggregation over \|hours\|·K rows;
    * 2π·k·t/n is written with identical association order in the oracle
    * so the IEEE argument to cos/sin matches bitwise. */
  val PeriodogramK = 10
  def periodogram(spark: SparkSession, dir: String): DataFrame = {
    val base = hourlyCentered(spark, dir)
      .select(col("d"), col("t"), col("n").cast("double").as("nd"))
      .withColumn("k", explode(sequence(lit(1), lit(PeriodogramK))))
    val ang = lit(2.0) * lit(math.Pi) * col("k").cast("double")
      .multiply(col("t")).divide(col("nd"))
    base.groupBy(col("k"))
      .agg(max(col("nd")).as("nd"),
        sum(col("d") * cos(ang)).as("c"),
        sum(col("d") * sin(ang)).as("s"))
      .select(col("k"),
        stableRound4(col("nd") / col("k")).as("period_hours"),
        stableRound4((col("c") * col("c") + col("s") * col("s"))
          * lit(2.0) / col("nd")).as("power"))
      .orderBy(col("k"))
  }

  /** q_spectral_entropy: Shannon entropy of the normalized periodogram —
    * the one-number "how concentrated is the spectrum" screen read with
    * [[periodogram]]: H = −Σ p_k ln p_k over the K normalized powers
    * (low H = one dominant cycle, H near ln K = white-noise-flat), plus
    * the normalized H/ln K, the spectral flatness (geometric/arithmetic
    * power mean — the audio-DSP tonality coefficient), and the dominant
    * harmonic. Builds on the DECLARED periodogram output (powers already
    * stable-rounded, so the cross-engine float chain starts from
    * identical doubles); everything after is scalar algebra on K rows.
    * Scale: the periodogram's one |hours|·K aggregation dominates. */
  def spectralEntropy(spark: SparkSession, dir: String): DataFrame = {
    val pg = periodogram(spark, dir)
    val tot = pg.agg(sum(col("power")).as("tot"),
      count(lit(1)).cast("double").as("kk"))
    val shares = pg.crossJoin(broadcast(tot))
      .select(col("k"), col("power"), col("kk"),
        (col("power") / col("tot")).as("p"))
    val wDom = Window.orderBy(col("power").desc, col("k"))
    val dom = pg.withColumn("rn", row_number().over(wDom))
      .filter(col("rn") === 1)
      .select(col("k").as("k_dominant"),
        col("period_hours").as("dominant_period_hours"))
    val ent = shares.agg(
      max(col("kk")).as("kk"),
      sum(when(col("p") > 0, -col("p") * log(col("p")))
        .otherwise(lit(0.0))).as("h"),
      sum(when(col("p") > 0, log(col("p"))).otherwise(lit(0.0)))
        .as("sum_ln"),
      avg(col("p")).as("mean_p"))
    ent.crossJoin(dom)
      .select(col("kk").cast("int").as("n_harmonics"),
        col("k_dominant"), col("dominant_period_hours"),
        stableRound4(col("h")).as("entropy"),
        stableRound4(col("h") / log(col("kk"))).as("entropy_norm"),
        stableRound4(exp(col("sum_ln") / col("kk")) / col("mean_p"))
          .as("flatness"))
  }

  /** q_pettitt: the Pettitt change-point test on the daily-revenue
    * series — the rank-based (outlier-robust) answer to "did the level
    * shift, and WHEN", vs [[EventOps.changepoint]]'s variance-reduction
    * split: U_t = 2·Σ_{i≤t} r_i − t(n+1) with midranks (the O(n) rank
    * identity for Σ_{i≤t,j>t} sgn(x_i−x_j) with sgn-ties zeroed),
    * K = max_t |U_t| over the interior split points, and the standard
    * approximation p ≈ 2·exp(−6K²/(n³+n²)). Midranks are rationals of
    * halves (exact doubles) over the ROUNDED daily sums, so the rank
    * structure — and therefore K and the argmax day — is engine-exact;
    * only the final exp rides float, from an identical argument.
    * Scale shape: one daily aggregation, then rank + prefix windows on
    * the |days|-bounded frame. */
  def pettitt(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 4).as("y"))
    val wRank = Window.orderBy(col("y"))
    val wTies = Window.partitionBy(col("y"))
    val ranked = d
      .withColumn("r_min", rank().over(wRank))
      .withColumn("ties", count(lit(1)).over(wTies))
      .withColumn("r",
        col("r_min") + (col("ties") - 1).cast("double") / 2.0)
    val wDay = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    val u = ranked
      .withColumn("t", row_number().over(Window.orderBy(col("day"))))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("cum_r", sum(col("r")).over(wDay))
      .filter(col("t") < col("n"))
      .select(col("day"), col("n"),
        (lit(2.0) * col("cum_r")
          - col("t").cast("double") * (col("n") + 1)).as("u_t"))
    val wK = Window.orderBy(abs(col("u_t")).desc, col("day"))
    u.withColumn("rn", row_number().over(wK))
      .filter(col("rn") === 1)
      .select(col("n").cast("bigint").as("n_days"),
        abs(col("u_t")).cast("bigint").as("k_stat"),
        col("day").as("change_day"),
        round(least(lit(1.0),
          lit(2.0) * exp(lit(-6.0) * col("u_t") * col("u_t")
            / (pow(col("n").cast("double"), 3.0)
              + col("n").cast("double") * col("n"))))
          .cast("decimal(20,8)"), 6).cast("double").as("p_approx"))
  }

  /** Max lag (each direction) for [[crossCorr]] — shared with the
    * oracle SQL. */
  val CcfMaxLag = 7

  /** q_cross_corr: the sample cross-correlation function between daily
    * event volume (x) and daily revenue (y) at lags −K..K — the
    * lead/lag screen read before [[StatOps.granger]]'s single-lag F
    * test: r(k) = Σ_t (x_t − x̄)(y_{t+k} − ȳ) / √(Σ(x−x̄)² · Σ(y−ȳ)²),
    * full-series means and the lag-independent denominator (the
    * standard biased CCF estimator, so |r| comparisons across lags are
    * apples-to-apples). Negative lags answer "does y lead x".
    * Scale shape: one daily aggregation; the lag pairing is a
    * (2K+1)-fanout self-join of the |days|-bounded frame. */
  def crossCorr(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).cast("double").as("x"),
        round(sum(col("value")), 4).as("y"))
    val idx = Materialize(d
      .withColumn("t", row_number().over(Window.orderBy(col("day")))))
    val m = idx.agg(avg(col("x")).as("mx"), avg(col("y")).as("my"),
      sum(col("x") * col("x")).as("sxx"), sum(col("x")).as("sx"),
      sum(col("y") * col("y")).as("syy"), sum(col("y")).as("sy"),
      count(lit(1)).cast("double").as("n"))
    val denom = sqrt((col("sxx") - col("sx") * col("mx"))
      * (col("syy") - col("sy") * col("my")))
    val lags = idx.select(col("t").as("ta"), col("x"))
      .withColumn("lag", explode(sequence(lit(-CcfMaxLag), lit(CcfMaxLag))))
    val pairs = lags.join(
      idx.select(col("t").as("tb"), col("y")),
      col("tb") === col("ta") + col("lag"))
    pairs.crossJoin(m.select(col("mx"), col("my"), denom.as("dn")))
      .groupBy(col("lag"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        stableRound4(sum((col("x") - col("mx")) * (col("y") - col("my")))
          / max(col("dn"))).as("ccf"))
      .orderBy(col("lag"))
  }

  /** q_durbin_watson: the Durbin–Watson serial-correlation statistic on
    * the residuals of the daily-revenue linear trend fit — DW =
    * Σ(e_t − e_{t−1})² / Σe_t², the "is the trend fit hiding
    * autocorrelated errors" audit (DW ≈ 2 clean, → 0 positive serial
    * correlation). The trend OLS comes from one moment rollup
    * (broadcast back), residuals and the lag difference from one
    * \|days\| window. */
  def durbinWatson(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("y"))
    val w = Window.orderBy(col("day"))
    val idx = d.select(col("day"), col("y"),
      (row_number().over(w) - 1).cast("double").as("t"))
    val m = idx.agg(count(lit(1)).cast("double").as("n"),
      avg(col("t")).as("mt"), avg(col("y")).as("my"),
      sum(col("t") * col("t")).as("stt"),
      sum(col("t") * col("y")).as("sty"))
    val beta = (col("sty") - col("n") * col("mt") * col("my")) /
      (col("stt") - col("n") * col("mt") * col("mt"))
    val mm = Materialize(m.select(col("n"), col("mt"), col("my"),
      beta.as("b")))
    val resid = idx.crossJoin(mm)
      .select(col("day"), col("n"),
        (col("y") - (col("my") + col("b") * (col("t") - col("mt"))))
          .as("e"))
    val we = Window.orderBy(col("day"))
    resid.select(col("n"), col("e"),
      (col("e") - lag(col("e"), 1).over(we)).as("de"))
      .agg(max(col("n")).cast("bigint").as("n_days"),
        stableRound4(sum(col("de") * col("de")) / sum(col("e") * col("e")))
          .as("dw"))
  }

  /** Bartlett-kernel lag truncation for [[kpssTest]]'s long-run
    * variance — shared with the oracle SQL. */
  val KpssLags = 4

  /** q_kpss: the KPSS level-stationarity test (Kwiatkowski–Phillips–
    * Schmidt–Shin 1992) on daily revenue — the COMPLEMENT of [[adfTest]]:
    * ADF's null is a unit root, KPSS's null is stationarity, so the
    * standard screen reads both (both reject → structural break /
    * misspecification; a series can't be adjudicated from one side).
    * η = (Σ_t S_t²)/n² / σ̂²_l with S_t the running sum of the demeaned
    * series and σ̂²_l the Newey–West long-run variance under a Bartlett
    * kernel of [[KpssLags]] lags: σ̂²_l = γ̂_0 + 2·Σ_{j≤l} (1−j/(l+1))·γ̂_j.
    *
    * Emitted statistics are DIMENSIONLESS ratios (η and the long-run/
    * instantaneous variance ratio) — the raw variance magnitudes are
    * fixture-scaled floats whose 4-dp rounding would be magnitude-
    * fragile. Kernel weights are driver-computed literals inlined into
    * both engines. Plan: one \|days\| compression, one running-sum +
    * lag window on the bounded frame, one moment rollup. */
  def kpssTest(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value")).as("y"))
    val mu = d.agg(avg(col("y")).as("m"),
      count(lit(1)).cast("double").as("n"))
    val w = Window.orderBy(col("day"))
    val e = d.crossJoin(broadcast(mu))
      .select(col("day"), (col("y") - col("m")).as("e"), col("n"))
      .withColumn("s", sum(col("e"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val lagd = (1 to KpssLags).foldLeft(e) { (acc, k) =>
      acc.withColumn(s"e$k", lag(col("e"), k).over(w))
    }
    val aggs = Seq(max(col("n")).as("n"),
      sum(col("s") * col("s")).as("ss"),
      sum(col("e") * col("e")).as("g0")) ++
      (1 to KpssLags).map(k => sum(col("e") * col(s"e$k")).as(s"g$k"))
    val m = lagd.agg(aggs.head, aggs.tail: _*)
    // σ̂²_l·n = g0 + 2·Σ w_j·g_j (the common 1/n cancels in both ratios;
    // weights as driver literals, left-associated like the SQL)
    val lrvN = (1 to KpssLags).foldLeft(col("g0")) { (acc, j) =>
      acc + lit(2.0 * (1.0 - j.toDouble / (KpssLags + 1))) * col(s"g$j")
    }
    m.filter(col("n") > KpssLags + 1 && col("g0") > 0 && lrvN > 0)
      .select(col("n").cast("bigint").as("n_days"),
        lit(KpssLags).as("lags"),
        stableRound4((col("ss") / (col("n") * col("n"))) / (lrvN / col("n")))
          .as("kpss_stat"),
        stableRound4(lrvN / col("g0")).as("lrv_ratio"))
  }

  /** q_turning_points: the turning-point test of randomness on daily
    * revenue — count local peaks/troughs (strict sign CHANGE of
    * consecutive differences) and compare with the i.i.d. expectation
    * E[T] = 2(n−2)/3, Var[T] = (16n−29)/90: too few turns = trending,
    * too many = oscillation. The differencing-based complement to
    * [[EventOps.runsTest]]'s above/below-median runs.
    *
    * Sign arithmetic runs on the ×10⁴-scaled LONGS of the round-4ed
    * daily totals (the [[EventOps.stlDecompose]] determinism trick), so
    * the turn count is integer-exact cross-engine; a zero difference is
    * not a sign change (documented, identical in the oracle). One daily
    * compression, one \|days\| lag window, closed-form z. */
  def turningPoints(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum(col("value")), 4).as("y"))
      .withColumn("yl", round(col("y") * 10000).cast("long"))
    val w = Window.orderBy(col("day"))
    val diffs = d
      .withColumn("d1", col("yl") - lag(col("yl"), 1).over(w))
      .withColumn("d0", lag(col("yl"), 1).over(w)
        - lag(col("yl"), 2).over(w))
      .filter(col("d0").isNotNull)
    val m = diffs.agg(
      (count(lit(1)) + 2).cast("double").as("n"),
      sum(when((col("d0") > 0 && col("d1") < 0)
        || (col("d0") < 0 && col("d1") > 0), 1L).otherwise(0L))
        .cast("bigint").as("t"))
    val et = lit(2.0) * (col("n") - 2.0) / 3.0
    val vt = (lit(16.0) * col("n") - 29.0) / 90.0
    m.filter(col("n") > 3)
      .select(col("n").cast("bigint").as("n_days"),
        col("t").as("n_turns"),
        stableRound4(et).as("expected_turns"),
        stableRound4(when(vt > 0,
          (col("t").cast("double") - et) / sqrt(vt))).as("z"))
  }
}
