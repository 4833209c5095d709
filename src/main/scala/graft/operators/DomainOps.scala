package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.NumericFunctions.stableRound4
import graft.functions.TextFunctions._

/** Domain-granular curation — the per-domain policy layer a web-scale
  * corpus pipeline runs between language filtering and dedup (RefinedWeb
  * §3 / Gopher's per-domain caps): cap each domain's document count so a
  * handful of template-heavy hosts cannot dominate the training mix,
  * compute per-domain token shares for the mixing recipe, and apply a
  * pattern blocklist with per-rule audit counts.
  *
  * The fixture carries `source` but no `url`, so the domain key is the
  * documented stand-in pseudo-domain built from h = md5Hash60("dom:" ++
  * doc_id) — the module's portable-randomness contract
  * (engine-identical in DuckDB via the md5-60 idiom). Round 15 raises
  * it to REALISTIC cardinality with the two-tier skew a web corpus
  * actually has: [[MegaSharePct]]% of documents land on one
  * mega-domain per source (`source.big0` — the template-heavy hosts
  * the cap policy exists for), the rest spread over
  * [[SmallBuckets]] small buckets per source (`source.<h mod 29989>`;
  * 29989 is prime, coprime with the 100 of the tier gate, so every
  * bucket is reachable). That gives ~4.1k occupied domains at sf0.1,
  * ~290k at the 100× ScaleSpot posture (a real corpus has 10⁵–10⁷
  * hosts) with a power-law-ish size split: mega-domains hold ~20% of
  * the corpus so per-domain caps BIND, small domains hold 1–3 docs so
  * the rank window runs in the many-tiny-groups regime. Swapping in a
  * real `parse_url(url, 'HOST')` key changes one line.
  *
  * Scale posture: every operator is one aggregation on the domain key
  * (domain count bounded by the key domain, never corpus rows); the cap
  * survivor selection is a per-domain rank window — parallel across
  * domains, and at 100 TB a skewed mega-domain is exactly the case the
  * cap exists for: rank-then-filter only ever materializes cap+excess
  * rows per task after partial pushdown, and a two-phase
  * salt-then-take-cap rewrite slots in without changing semantics. */
object DomainOps {

  /** Percent of documents routed to the per-source mega-domain; the
    * rest spread over [[SmallBuckets]]. Shared with the oracle SQL (the
    * IvfOps.DefaultK shared-constant contract). */
  val MegaSharePct = 20

  /** Small-domain fan-out per source — prime, coprime with the tier
    * gate's 100 so h%100 and h%SmallBuckets are CRT-independent and
    * every bucket is reachable. */
  val SmallBuckets = 29989

  /** Per-domain document cap for [[domainCaps]] — sized so mega-domains
    * exceed it from sf0.01 up (both keep and drop branches exercised at
    * every oracle SF; at sf0.1 the 20 megas each hold ~47–60 docs). */
  val CapDocs = 3

  /** The two-tier pseudo-domain key on h = md5-60("dom:" ++ doc_id):
    * h%100 < [[MegaSharePct]] → `source.big0`, else
    * `source.<h mod SmallBuckets>`. */
  private[graft] def domainKey: org.apache.spark.sql.Column = {
    val h = md5Hash60(concat(lit("dom:"), col("doc_id").cast("string")))
    when(h % 100 < MegaSharePct, concat(col("source"), lit(".big0")))
      .otherwise(concat(col("source"), lit("."),
        (h % SmallBuckets).cast("string")))
  }

  private def docsWithDomain(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(tokens(col("text"))).as("n_toks"),
        domainKey.as("domain"))

  /** q_domain_caps: cap every domain at [[CapDocs]] documents, keeping the
    * LONGEST documents (deterministic survivor order: n_chars desc,
    * doc_id asc — the "prefer substantive pages over template stubs"
    * policy), and report the per-domain audit row: docs seen, docs kept,
    * docs dropped, token mass kept, and the kept-share. The rank is a
    * per-domain window (parallel across the bounded domain key space);
    * the rollup is one aggregation over the same key. */
  def domainCaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("domain"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    docsWithDomain(spark, dir)
      .withColumn("rn", row_number().over(w))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") <= CapDocs, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") > CapDocs, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("rn") <= CapDocs, col("n_toks"))
          .otherwise(0L)).cast("bigint").as("kept_tokens"),
        min(when(col("rn") <= CapDocs, col("doc_id"))).as("first_kept"))
      .withColumn("kept_share",
        stableRound4(col("n_kept").cast("double") / col("n_docs")))
      .orderBy(col("domain"))
  }

  /** q_domain_mix: per-domain token shares with the temperature-smoothed
    * mixing weight (τ = 0.7, the [[CorpusOps.temperatureMix]] policy at
    * domain granularity) — the table a domain-aware data recipe feeds on:
    * raw share, smoothed share, and the boost each domain receives.
    * One aggregation over the domain key + a 1-row broadcast total. */
  def domainMix(spark: SparkSession, dir: String, tau: Double = 0.7)
      : DataFrame = {
    val counts = docsWithDomain(spark, dir)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("bigint").as("n_tokens"))
    val totals = counts.agg(
      sum(col("n_tokens")).cast("double").as("tot_tokens"),
      sum(pow(col("n_tokens").cast("double"), tau)).as("tot_pow"))
    counts.crossJoin(broadcast(totals))
      .select(col("domain"), col("n_docs"), col("n_tokens"),
        stableRound4(col("n_tokens") / col("tot_tokens")).as("raw_share"),
        stableRound4(pow(col("n_tokens").cast("double"), tau)
          / col("tot_pow")).as("temp_share"),
        stableRound4(pow(col("n_tokens").cast("double"), tau)
          / col("tot_pow") / (col("n_tokens") / col("tot_tokens")))
          .as("boost"))
      .orderBy(col("domain"))
  }

  /** Blocklist rules for [[domainBlocklist]]: (rule_id, kind, pattern).
    * `exact` matches the whole domain, `prefix`/`suffix` match domain
    * name fragments — the three shapes a curation blocklist actually
    * ships (exact bad hosts, wildcard subdomain families, TLD suffixes).
    * Shared with the oracle SQL. */
  val BlockRules: Seq[(Int, String, String)] = Seq(
    (1, "exact", "src2.big0"),
    (2, "prefix", "src3."),
    (3, "suffix", "7"))

  /** q_domain_blocklist: apply the pattern blocklist and emit the audit a
    * curation run records — one row per rule (docs matched, token mass
    * matched, corpus share) plus the `__kept__` summary row for the
    * surviving corpus (a doc matching several rules counts in each rule's
    * row but is dropped once). The match is a broadcast-free literal
    * predicate per rule over the bounded per-domain rollup — corpus rows
    * are touched exactly once for the domain aggregation. */
  def domainBlocklist(spark: SparkSession, dir: String): DataFrame = {
    val perDomain = Materialize(docsWithDomain(spark, dir)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("bigint").as("n_tokens")))
    def matches(kind: String, pat: String) = kind match {
      case "exact"  => col("domain") === pat
      case "prefix" => col("domain").startsWith(pat)
      case _        => col("domain").endsWith(pat)
    }
    val anyBlock = BlockRules
      .map { case (_, k, p) => matches(k, p) }.reduce(_ || _)
    val tot = perDomain.agg(
      sum(col("n_docs")).cast("double").as("tot_docs"))
    val ruleRows = BlockRules.map { case (id, kind, pat) =>
      perDomain.filter(matches(kind, pat))
        .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
          coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
        .select(lit(id).as("rule_id"), lit(s"$kind:$pat").as("rule"),
          col("n_docs"), col("n_tokens"))
    }
    val kept = perDomain.filter(!anyBlock)
      .agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_docs"),
        coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
      .select(lit(99).as("rule_id"), lit("__kept__").as("rule"),
        col("n_docs"), col("n_tokens"))
    ruleRows.reduce(_.unionAll(_)).unionAll(kept)
      .crossJoin(tot)
      .select(col("rule_id"), col("rule"), col("n_docs"), col("n_tokens"),
        stableRound4(col("n_docs") / col("tot_docs")).as("doc_share"))
      .orderBy(col("rule_id"))
  }

  /** q_theil_index: Theil inequality indices of the token mass across
    * domains — the one-number "how concentrated is the corpus on few
    * hosts" screens read before tuning [[domainCaps]]/[[domainMix]]
    * (and the decomposable cousins of q_gini): with x_d = domain token
    * mass and μ the mean, Theil T = (1/N)·Σ (x/μ)·ln(x/μ) (top-heavy
    * sensitive) and Theil L = (1/N)·Σ ln(μ/x) (bottom-heavy sensitive,
    * the mean log deviation), plus the largest domain's share. Both are
    * 0 at perfect equality and grow with concentration; under the
    * two-tier key the mega-domains carry ~20% of mass over ~1/200th of
    * the domains, so the indices sit far from 0 — the realistic web
    * shape. One aggregation over the domain key (bounded), a 1-row
    * broadcast of the totals, one ln-sum rollup. */
  def theilIndex(spark: SparkSession, dir: String): DataFrame = {
    val per = docsWithDomain(spark, dir)
      .groupBy(col("domain"))
      .agg(sum(col("n_toks")).cast("bigint").as("x"))
      .filter(col("x") > 0)
    val tot = per.agg(count(lit(1)).cast("double").as("nd"),
      sum(col("x")).cast("double").as("s"),
      max(col("x")).cast("double").as("xmax"))
    val ratio = col("x").cast("double") / (col("s") / col("nd"))
    per.crossJoin(broadcast(tot))
      .agg(max(col("nd")).as("nd"), max(col("s")).as("s"),
        max(col("xmax")).as("xmax"),
        sum(ratio * log(ratio)).as("t_sum"),
        sum(-log(ratio)).as("l_sum"))
      .select(col("nd").cast("bigint").as("n_domains"),
        col("s").cast("bigint").as("total_tokens"),
        stableRound4(col("t_sum") / col("nd")).as("theil_t"),
        stableRound4(col("l_sum") / col("nd")).as("theil_l"),
        stableRound4(col("xmax") / col("s")).as("top_share"))
  }

  /** q_hoover: the Hoover (Robin Hood) index of token mass across the
    * two-tier domain key — H = ½·Σ|xᵢ/T − 1/n|, the share of the corpus
    * that would have to MOVE between domains to equalize them: the
    * plainly-interpretable companion to [[theilIndex]] (Theil weights
    * extremes logarithmically; Hoover is the L1 transfer share a
    * rebalancing cap would actually ship). Also emits the share of
    * domains above the equal split — the "how many domains are donors"
    * count a caps policy reads.
    *
    * Same shape as the Theil rollup: one per-domain aggregation (bounded
    * by the domain keyspace), a 1-row broadcast total, one scalar fold.
    * Only dimensionless shares are emitted. */
  def hoover(spark: SparkSession, dir: String): DataFrame = {
    val per = docsWithDomain(spark, dir)
      .groupBy(col("domain"))
      .agg(sum(col("n_toks")).cast("bigint").as("x"))
      .filter(col("x") > 0)
    val tot = per.agg(count(lit(1)).cast("double").as("nd"),
      sum(col("x")).cast("double").as("s"))
    val share = col("x").cast("double") / col("s")
    per.crossJoin(broadcast(tot))
      .agg(max(col("nd")).as("nd"), max(col("s")).as("s"),
        sum(abs(share - lit(1.0) / col("nd"))).as("l1"),
        sum(when(share > lit(1.0) / col("nd"), 1L).otherwise(0L))
          .cast("bigint").as("n_donors"))
      .select(col("nd").cast("bigint").as("n_domains"),
        col("s").cast("bigint").as("total_tokens"),
        stableRound4(col("l1") / 2.0).as("hoover"),
        col("n_donors"),
        stableRound4(col("n_donors").cast("double") / col("nd"))
          .as("donor_share"))
  }

  /** q_curriculum: curriculum-ordering stages — bucket the corpus into
    * four difficulty quartiles by a deterministic progress score
    * (characters per token ×1000 in exact integer arithmetic:
    * short-token/simple text first, dense text last — a float ratio
    * would tie-break differently on ULPs), and report each stage's
    * volume and score range. Stage assignment follows the
    * [[TextOps.qualityDeciles]] house pattern: exact percentile cuts on
    * one bounded aggregate, broadcast back as a 1-row frame, bucket by
    * comparison — never a global-ordered ntile window (which would move
    * the whole corpus to one partition). */
  def curriculum(spark: SparkSession, dir: String): DataFrame = {
    val scored = Materialize(Tables.documents(spark, dir)
      .select(col("doc_id"), size(tokens(col("text"))).as("n_toks"),
        col("n_chars"))
      // `div`, not `/`: Spark's `/` on integers is DOUBLE division, and
      // a double quotient cast back to bigint can land one off the exact
      // integer quotient DuckDB's `//` computes
      .withColumn("score_mil",
        expr("CAST((n_chars * 1000) div greatest(n_toks, 1) AS BIGINT)")))
    // round 16: exact quartile cuts via ExactPercentile's bounded-state
    // selection over the checkpointed scored frame (bit-identical to
    // percentile() — unchanged oracle); the old global aggregate buffered
    // every doc's score in one reducer. score_mil ≤ 1000·n_chars is
    // exactly representable in double, so the cast is order-isomorphic.
    val cutArr = ExactPercentile.computeGlobal(scored, "score_mil",
      Seq(0.25, 0.5, 0.75))
    val cuts = broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(org.apache.spark.sql.Row(cutArr.toSeq)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cuts",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))))
    scored.crossJoin(cuts)
      .select(col("doc_id"), col("n_toks"), col("score_mil"), expr(
        "1 + aggregate(cuts, 0, (acc, c) -> acc + " +
          "IF(score_mil > CAST(round(CAST(c AS DECIMAL(20,8)), 4) " +
          "AS DOUBLE), 1, 0))").as("stage"))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("bigint").as("n_tokens"),
        min(col("score_mil")).as("score_lo"),
        max(col("score_mil")).as("score_hi"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("stage"))
  }
}
