package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Corpus-preparation operators a training-data pipeline runs between raw
  * ingest and dedup: chunking, deterministic sampling, PII redaction,
  * vocabulary statistics, token-position explode. The reference pipeline
  * (ingest_data.py:29-38) stops at a row filter; these generalize that
  * "clean the batch before loading" stage to LLM-corpus semantics.
  *
  * Scale posture: every operator here is a narrow per-row transformation
  * (no join, at most one aggregation shuffle for the vocab rollup) — at
  * 100 TB they run at parquet-scan speed with whole-stage codegen, and the
  * explode-based ones grow the row count by a bounded factor chosen by the
  * caller (chunk size / position cap).
  */
object CorpusOps {

  /** Chunk size for [[chunkDocs]]: 50 whitespace tokens per training chunk. */
  val ChunkTokens = 50

  /** DoReMi (q_doremi) tuning defaults — shared with the oracle SQL in
    * [[graft.SparkEntry.oracleSql]] (interpolated there) so the engine and
    * DuckDB can never desync on the dials (the IvfOps.DefaultK pattern). */
  val DoremiEta = 100.0
  val DoremiSmooth = 0.1

  /** DSIR (q_dsir) tuning defaults — same shared-constant contract. */
  val DsirTarget = "src0"
  val DsirBuckets = 1024
  val DsirKeepFrac = 0.2

  /** Fixed-size token-window chunking: split each document into consecutive
    * `ChunkTokens`-token chunks (last chunk ragged). Output is one row per
    * chunk with a stable (doc_id, chunk_id) key and the md5 of the chunk
    * text (the full text stays out of the result to keep it narrow). */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame = {
    val nChunks = ceil(col("n_toks") / lit(ChunkTokens.toDouble)).cast("int")
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n_toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(
        col("doc_id"),
        col("chunk_id"),
        least(lit(ChunkTokens), col("n_toks") - col("chunk_id") * ChunkTokens)
          .as("n_tokens"),
        md5(array_join(
          slice(col("toks"), col("chunk_id") * ChunkTokens + 1,
            lit(ChunkTokens)),
          " ")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Overlapping (strided) chunking — the sliding-window variant of
    * [[chunkDocs]] used when downstream training or retrieval wants context
    * continuity across chunk boundaries: windows of `window` tokens start
    * every `stride` tokens (stride < window ⇒ overlap = window − stride),
    * and a ragged tail shorter than `minTail` is dropped (it is fully
    * contained in the previous window's overlap). Window 0 is always kept
    * so a document shorter than `minTail` still yields its one chunk
    * instead of silently vanishing from the corpus.
    *
    * Scale shape: same as chunkDocs — one narrow explode over a generated
    * chunk-index sequence, slice + hash per window, no shuffle before the
    * output sort. */
  def chunkDocsStrided(spark: SparkSession, dir: String, window: Int = 64,
      stride: Int = 32, minTail: Int = 16): DataFrame = {
    val nWindows = greatest(lit(1),
      ceil((col("n_toks") - lit(window - stride)) / lit(stride.toDouble))
        .cast("int"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")))
      .select(col("doc_id"), col("toks"), col("n_toks"),
        explode(sequence(lit(0), nWindows - 1)).as("win_id"))
      .withColumn("start", col("win_id") * stride)
      .withColumn("n_tokens",
        least(lit(window), col("n_toks") - col("start")))
      .filter(col("n_tokens") >= minTail || col("win_id") === 0)
      .select(col("doc_id"), col("win_id"), col("start"), col("n_tokens"),
        md5(array_join(
          slice(col("toks"), col("start") + 1, lit(window)), " "))
          .as("chunk_md5"))
      .orderBy(col("doc_id"), col("win_id"))
  }

  /** Zipf's-law fit over the vocabulary: OLS slope/intercept/R² of
    * ln(freq) against ln(rank) for the top-`topK` tokens — the
    * corpus-statistics diagnostic (natural language sits near slope −1;
    * strong deviation flags synthetic, templated, or scrambled text).
    *
    * Scale shape: vocabulary rollup (partial-aggregated), TakeOrdered to
    * the bounded top-K, then ranking + regression over only those K rows —
    * the single-partition window is bounded by construction, same pattern
    * as vocabCoverage. */
  def zipfFit(spark: SparkSession, dir: String, topK: Int = 1000): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    import org.apache.spark.sql.expressions.Window
    val top = Tables.documents(spark, dir)
      .select(explode(tokensLower(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(topK)
    // rank over the K retained rows only (bounded single partition)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy(col("n").desc, col("tok"))))
      .select(log(col("rank").cast("double")).as("lr"),
        log(col("n").cast("double")).as("lf"))
    ranked.agg(
      count(lit(1)).as("n_tokens"),
      stableRound4(regr_slope(col("lf"), col("lr"))).as("slope"),
      stableRound4(regr_intercept(col("lf"), col("lr"))).as("intercept"),
      stableRound4(regr_r2(col("lf"), col("lr"))).as("r2"))
  }

  /** Distribution drift per source: Jensen-Shannon divergence between each
    * source's token distribution and the corpus distribution, over the
    * corpus's top-`vocabK` tokens — the slice-drift detector a curator
    * runs to find sources whose language diverges from the mix (0 =
    * identical distribution, ln 2 ≈ 0.6931 = disjoint). Smoothing: tokens
    * absent from a source contribute p = 0 and drop out of that KL term
    * (0·ln 0 = 0), which is the standard JSD convention — M > 0 wherever
    * either side is.
    *
    * Scale shape: token rollups are partial-aggregated; the top-K vocab is
    * a TakeOrdered broadcast; per-source JSD aggregates ≤ |sources| × K
    * joined rows. One corpus scan. */
  def jsDivergence(spark: SparkSession, dir: String, vocabK: Int = 200)
      : DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val toks = Materialize(Tables.documents(spark, dir)
      .select(col("source"), explode(tokensLower(col("text"))).as("tok")))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("nc"))
      .orderBy(col("nc").desc, col("tok")).limit(vocabK)
    val corpusTotal = vocab.agg(sum(col("nc")).cast("double").as("ct"))
    val q = vocab.crossJoin(corpusTotal)
      .select(col("tok"), (col("nc") / col("ct")).as("q"))
    val srcCounts = toks.join(vocab.select(col("tok")), Seq("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("ns"))
    val srcTotals = srcCounts.groupBy(col("source"))
      .agg(sum(col("ns")).cast("double").as("st"))
    // right join keeps vocab tokens absent from a source out (p=0 terms
    // vanish); the q-side KL term needs all vocab tokens, so compute both
    // halves from the joined (p, q) pairs plus the missing-q mass
    val pq = srcCounts.join(srcTotals, Seq("source"))
      .select(col("source"), col("tok"), (col("ns") / col("st")).as("p"))
      .join(q, Seq("tok"))
    val kl = pq.groupBy(col("source")).agg(
      sum(col("p") * log(col("p") * 2.0 / (col("p") + col("q"))))
        .as("kl_p"),
      sum(col("q") * log(col("q") * 2.0 / (col("p") + col("q"))))
        .as("kl_q_present"),
      (lit(1.0) - sum(col("q"))).as("q_missing"))
    // vocab tokens missing from the source: p=0, so the q-side term is
    // q·ln(2q/q) = q·ln 2 summed over the missing mass
    kl.select(col("source"),
      stableRound4((col("kl_p") + col("kl_q_present")
        + col("q_missing") * math.log(2.0)) / 2.0).as("jsd"))
      .orderBy(col("source"))
  }

  /** Population stability index of each source's document-length
    * distribution against the whole corpus — the standard drift score ML
    * monitoring applies to every feature (PSI < 0.1 stable, > 0.25 shifted).
    * Lengths bucket by a fixed integer width (floor(n_chars / 50)), counts
    * are Laplace-smoothed over the corpus bucket universe so empty buckets
    * contribute finite terms: p_b = (n_sb + 1) / (n_s + B),
    * q_b = (n_b + 1) / (N + B), psi = Σ (p_b − q_b)·ln(p_b / q_b).
    *
    * Scale shape: one scan into two bounded aggregations (per-bucket,
    * per-source-bucket); the zero-fill grid is |sources| × |buckets| built
    * from two broadcast tiny sides — no window, no explode, no big join. */
  def psiSource(spark: SparkSession, dir: String, width: Int = 50)
      : DataFrame =
    psiSourceDf(Tables.documents(spark, dir), width)

  private[operators] def psiSourceDf(docs: DataFrame,
      width: Int = 50): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val d = docs
      .select(col("source"),
        floor(col("n_chars") / width).cast("long").as("bucket"))
    val corpus = d.groupBy(col("bucket")).agg(count(lit(1)).as("ncb"))
    val totals = corpus.agg(count(lit(1)).cast("double").as("nbuckets"),
      sum(col("ncb")).cast("double").as("ndocs"))
    val srcCounts = d.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("nsb"))
    val srcTotals = d.groupBy(col("source"))
      .agg(count(lit(1)).cast("double").as("ns"))
    val grid = srcTotals
      .crossJoin(broadcast(corpus))
      .join(srcCounts, Seq("source", "bucket"), "left")
      .select(col("source"), col("ns"), col("ncb"),
        coalesce(col("nsb"), lit(0L)).as("nsb"))
      .crossJoin(broadcast(totals))
    val p = (col("nsb") + 1.0) / (col("ns") + col("nbuckets"))
    val q = (col("ncb") + 1.0) / (col("ndocs") + col("nbuckets"))
    grid
      .groupBy(col("source"))
      .agg(max(col("ns")).cast("long").as("n_docs"),
        stableRound4(sum((p - q) * log(p / q))).as("psi"))
      .orderBy(col("source"))
  }

  /** Deterministic ~10% sample: keep rows whose md5(doc_id) hex prefix is
    * below a fixed threshold. Unlike `df.sample`, the choice is a pure
    * function of the key — reproducible across runs, engines, partitionings,
    * and cluster sizes, which is what makes holdout splits auditable. No
    * shuffle: the filter rides the scan. */
  def sampleByHash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < "1a")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Conservative RE2-and-Java-compatible PII patterns. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** Redact email addresses and phone numbers from `text`. */
  def redactPii(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")

  /** Declared query: redact PII from each document. The synthetic corpus
    * carries no PII, so a per-row contact line (derived from doc_id, hence
    * deterministic) is appended first — every row then exercises one email
    * and one phone replacement, and the md5 of the redacted text is the
    * compared output. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        concat(col("text"), lit(" contact: user"),
          col("doc_id").cast("string"),
          lit("@example.com call 555-123-4567 now")).as("txt"))
      .select(col("doc_id"), md5(redactPii(col("txt"))).as("redacted_md5"))
      .orderBy(col("doc_id"))

  /** Vocabulary rollup: top 50 tokens by document frequency (distinct
    * per-doc tokens → count per token). One explode + one partial-agg
    * shuffle; the top-k is a tiny ordered take after the aggregation. */
  def vocabTopK(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(array_distinct(tokensLower(col("text")))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("token"))
      .limit(50)

  /** TF-IDF: the top term per document. Term frequency and document
    * frequency are integer counts, the ranking key is (tf DESC, token) —
    * fully integer/string-deterministic, so cross-engine float drift can't
    * reorder rows; the smoothed idf weight `ln((N+1)/(df+1))` appears only
    * as a decimal-rounded output value. Two aggregation shuffles (tf per
    * (doc, token), df per token) + one broadcast of the tiny df/N sides —
    * the per-doc top term is a partial-aggregated struct argmin
    * (min over (−tf, token) = highest tf, ties to the lexicographically
    * first token), NOT a per-doc window: no sort of any doc's term list,
    * and map-side partials shrink the shuffle to one row per doc. */
  def tfidfTop(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(tokensLower(col("text"))).as("token"))
    // materialized: tf feeds both the per-doc argmin and the df rollup —
    // without it the scan+tokenize+explode+aggregate tree runs twice
    val tf = Materialize(toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_docs"))
    tf.groupBy(col("doc_id"))
      .agg(min(struct((-col("tf")).as("neg_tf"), col("token"))).as("best"))
      .select(col("doc_id"), col("best.token").as("token"),
        (-col("best.neg_tf")).as("tf"))
      .join(df, "token")
      .crossJoin(broadcast(nDocs))
      .select(
        col("doc_id"),
        col("token").as("top_token"),
        col("tf"), col("df"),
        stableRound4(col("tf") *
          log((col("n_docs") + 1.0) / (col("df") + 1.0))).as("tfidf"))
      .orderBy(col("doc_id"))
  }

  /** Cap on exploded token positions in [[explodeTokens]]. */
  val ExplodePosCap = 20

  /** Token-position explode: (doc_id, pos, token) for the first
    * `ExplodePosCap` tokens of each document — the lateral/ordinality view
    * feeding positional n-gram or prefix analyses. Bounded fan-out. */
  def explodeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(slice(tokens(col("text")), 1, ExplodePosCap))
          .as(Seq("pos", "token")))
      .orderBy(col("doc_id"), col("pos"))

  /** Corpus bigram frequencies: adjacent token pairs built with one
    * zip_with over each document's (small) token array — a narrow per-doc
    * map, NOT a pair join — then one count aggregation. The language-model
    * n-gram statistics primitive; at 100 TB this is scan + explode +
    * hash-partition count on a high-cardinality key. */
  def ngramFreq(spark: SparkSession, dir: String, k: Int = 50): DataFrame =
    Tables.documents(spark, dir)
      .select(tokensLower(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "zip_with(slice(toks, 1, size(toks) - 1), " +
          "slice(toks, 2, size(toks) - 1), (x, y) -> concat(x, ' ', y))"))
        .as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)

  /** Stratified deterministic sample: per-language keep rates applied with
    * the same md5-prefix rule as [[sampleByHash]] — here the majority
    * language (`en`) is downsampled to ~5% while every other language keeps
    * ~20%, the standard rebalancing move when one language dominates a
    * crawl. Pure function of (doc_id, lang): reproducible across engines,
    * partitionings, and cluster sizes. No shuffle — the filter rides the
    * scan. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2)
        < when(col("lang") === "en", lit("0d")).otherwise(lit("33")))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Fixed-size per-stratum sample: exactly `n` documents per language (or
    * all of them for smaller strata), chosen by md5 order — a deterministic
    * stand-in for "give me 25 random docs of each language" eval-set
    * carving. Plans as WindowGroupLimit (bounded per-group state, no global
    * sort): each task keeps at most `n` rows per language before the
    * shuffle. */
  def samplePerGroup(spark: SparkSession, dir: String, n: Int = 25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("doc_id"), col("lang"), col("rn"))
      .orderBy(col("lang"), col("rn"))
  }

  /** Quality-weighted deterministic sample: keep each document with
    * probability equal to its (rounded) [[TextOps.qualityScore]] — high
    * quality docs are kept more often, the standard way training mixes
    * up-weight clean text without a separate pass. The uniform draw is the
    * first 4 md5 hex digits of doc_id over 2¹⁶ — a pure function of the
    * key, so the sample is reproducible across engines and partitionings,
    * and the keep decision composes with the score computation as one
    * narrow scan (no shuffle, no RNG state). */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score"))
      .withColumn("u",
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("double") / lit(65536.0))
      .filter(col("u") < col("quality_score"))
      .select(col("doc_id"), col("quality_score"))
      .orderBy(col("doc_id"))

  /** Per-language duplicate-rate report: documents, distinct texts, and the
    * duplicate fraction — the before/after accounting every dedup run
    * publishes. One aggregation with a partial-aggregated exact distinct;
    * at 100 TB the same shape runs as two shuffles (count-distinct
    * expansion), or swap in approx_count_distinct for the sketched
    * variant ([[SketchOps]]). */
  def docDupeRate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct"),
        stableRound4(lit(1.0) - countDistinct(col("text"))
          / count(lit(1))).as("dup_rate"))
      .orderBy(col("lang"))
  }

  /** One packed training sequence: consecutive (by doc_id) documents of one
    * bin greedily accumulated up to the token budget. */
  final case class PackedSeq(bin: Int, seq_id: Int, n_docs: Int,
      total_tokens: Int, first_doc: Long, last_doc: Long)

  /** Sequence packing: concatenate documents into fixed-budget training
    * sequences (sample packing) without a driver-side loop. Packing is
    * inherently sequential, so the corpus is split into `bins` independent
    * streams by `doc_id % bins` — a PURE KEY FUNCTION, so the assignment
    * (and therefore the whole packing) is deterministic on any cluster
    * size or partitioning — and each bin is packed greedily in doc_id
    * order inside `mapPartitions` (the justified use: per-partition
    * imperative state no SQL window can express without a sequential
    * dependency). One repartition+sort shuffle total; bins scale the
    * parallelism, the budget bounds each task's state to ONE open
    * sequence. Docs longer than the budget are excluded ([[chunkDocs]] is
    * the upstream fix for those). */
  def packSequences(spark: SparkSession, dir: String, budget: Int = 256,
      bins: Int = 32): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(tokens(col("text"))).as("n_toks"))
      .filter(col("n_toks") > 0 && col("n_toks") <= budget)
      .withColumn("bin", (col("doc_id") % bins).cast("int"))
      .repartition(bins, col("bin"))
      .sortWithinPartitions(col("bin"), col("doc_id"))
      .select(col("bin"), col("doc_id"), col("n_toks"))
      .as[(Int, Long, Int)]
      .mapPartitions { it =>
        val out = scala.collection.mutable.ArrayBuffer.empty[PackedSeq]
        var curBin = Int.MinValue
        var seq = 0; var used = 0; var nd = 0
        var first = 0L; var last = 0L
        def flush(): Unit =
          if (nd > 0) out += PackedSeq(curBin, seq, nd, used, first, last)
        it.foreach { case (b, id, n) =>
          if (b != curBin) { flush(); curBin = b; seq = 0; used = 0; nd = 0 }
          else if (used + n > budget) { flush(); seq += 1; used = 0; nd = 0 }
          if (nd == 0) first = id
          used += n; nd += 1; last = id
        }
        flush()
        out.iterator
      }
      .toDF()
      .orderBy(col("bin"), col("seq_id"))
  }

  /** Data-mixture report: per (source, language) document counts, token
    * totals, and each cell's share of the corpus — the table a training
    * run reads to set sampling weights across sources. One partial-
    * aggregated shuffle; the grand total is a broadcast one-row aggregate
    * (same shape as [[AnalyticsOps.normalize]]'s bounds), never a window. */
  def sourceMix(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val docs = Tables.documents(spark, dir)
    val cells = docs
      .select(col("source"), col("lang"),
        size(tokens(col("text"))).as("n_toks"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"))
    val total = docs.agg(count(lit(1)).as("total_docs"))
    cells.crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        stableRound4(col("n_docs") / col("total_docs")).as("doc_share"))
      .orderBy(col("source"), col("lang"))
  }

  /** Eval-set decontamination: training documents sharing at least one
    * word n-gram with a held-out eval document — the overlap check every
    * LLM training run performs so benchmark text does not leak into the
    * training mix. The eval set here is a deterministic hash split
    * (doc_id ≡ 0 mod 13); n = 5-gram shingles on the fixture corpus
    * (production uses 8-13).
    *
    * Scale shape: the eval side is filtered BEFORE shingling (the
    * predicate pushes to the scan, so only the ~8% eval slice explodes)
    * and is broadcast — eval sets are small by construction, so the
    * training corpus never shuffles: contamination detection rides the
    * train-side scan as a broadcast hash join, at any corpus size. */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 5,
      k: Int = 100): DataFrame = {
    val docs = Tables.documents(spark, dir)
    def sh(df: DataFrame, as: String) = df
      .select(col("doc_id").as(as),
        explode(shingles(tokensLower(col("text")), n)).as("shingle"))
    val evalSh = sh(docs.filter(col("doc_id") % 13 === 0), "eval_id")
    val trainSh = sh(docs.filter(col("doc_id") % 13 =!= 0), "train_id")
    trainSh.join(broadcast(evalSh), "shingle")
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("train_id"), col("eval_id"))
      .limit(k)
  }

  /** Vocabulary coverage curve: the top-`k` corpus tokens with each one's
    * cumulative share of all token occurrences — the "how much of the
    * corpus do the top-N words cover" diagnostic. The running sum over the
    * ORDERED vocabulary runs on the aggregated (vocab-sized) table, never
    * on the raw token stream; counts are exact integers so the shares are
    * engine-exact. */
  def vocabCoverage(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    // materialized: the aggregated vocabulary feeds both the grand total
    // and the top-k take — without it the scan+tokenize+explode+agg tree
    // runs twice
    val counts = Materialize(
      Tables.documents(spark, dir)
        .select(explode(tokensLower(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n")))
    // grand total = scalar aggregate (broadcast, 1 row); top-k = ordered
    // take (TakeOrderedAndProject). The running sum over those k rows is a
    // rank-prefix self-join (sum every row ranked at-or-before mine) — k²
    // broadcast-joined rows for a top-k-sized k, and NO window at all:
    // never the single-partition global sort of the whole vocabulary that
    // an unpartitioned running-sum window plans, which at web scale is
    // 10⁸+ tokens moved to one task.
    val total = counts.agg(sum(col("n")).as("total"))
    val t = counts.orderBy(col("n").desc, col("token")).limit(k)
    t.as("a")
      .join(t.as("b"),
        col("b.n") > col("a.n")
          || (col("b.n") === col("a.n") && col("b.token") <= col("a.token")))
      .groupBy(col("a.token").as("token"), col("a.n").as("n"))
      .agg(sum(col("b.n")).as("cum"))
      .crossJoin(total)
      .select(col("token"), col("n"),
        stableRound4(col("cum").cast("double") / col("total"))
          .as("cum_share"))
      .orderBy(col("n").desc, col("token"))
  }

  /** q_dedup_report: the dedup-impact scorecard per source — how many docs
    * each source contributes, how many survive GLOBAL exact dedup (min-id
    * survivor per distinct text, so a source "loses" docs that first
    * appeared elsewhere), how many texts are distinct WITHIN the source,
    * and the resulting duplicate rate. This is the report a corpus curator
    * reads before deciding which sources to down-weight; it composes the
    * exact-dedup survivor rule the library already proves (q_dedup_exact)
    * into the per-source accounting view. Two aggregation shuffles (text
    * survivor, then source rollup). */
  def dedupReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val survivors = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    docs
      .join(survivors.withColumn("is_survivor", lit(1)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_survivor"), lit(0))).cast("long")
          .as("n_survivors"),
        countDistinct(col("text")).as("n_distinct_texts"))
      .select(col("source"), col("n_docs"), col("n_survivors"),
        col("n_distinct_texts"),
        stableRound4(lit(1.0)
          - col("n_survivors").cast("double") / col("n_docs"))
          .as("dup_rate"))
      .orderBy(col("source"))
  }

  /** q_lang_purity: per-source language-mix audit — each source's majority
    * language and its share, the "is this crawl slice monolingual" check
    * run before assigning per-language processing pipelines. Two partial-
    * aggregated hops ((source, lang) then source) plus an argmax struct —
    * no window, no join. Ties break to the lexicographically smaller
    * language via the struct ordering. */
  def langPurity(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_docs"),
        min(struct((-col("n")).as("neg_n"), col("lang").as("lang")))
          .as("top"))
      .select(col("source"), col("n_docs"),
        col("top.lang").as("major_lang"),
        stableRound4((-col("top.neg_n")).cast("double") / col("n_docs"))
          .as("major_share"))
      .orderBy(col("source"))
  }

  /** q_augment: deterministic token-dropout augmentation — the text-side
    * data-augmentation pass (EDA-style random deletion) with the
    * randomness derived from md5(doc_id:position), so every engine, run
    * and executor drops EXACTLY the same tokens. Drop probability ≈ 1/8
    * via a 2-hex-char threshold ('20' = 32/256). Reports the original and
    * surviving token counts plus a digest of the augmented text — the
    * provenance record an augmentation stage ships so downstream dedup
    * can trace synthetic docs to their source. Narrow scan + bounded
    * higher-order filter, no shuffle before the output sort. */
  def augmentDropout(spark: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val kept = filter(toks, (_, i) =>
      substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        i.cast("string"))), 1, 2) >= "20")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toks).as("n_orig"),
        size(kept).as("n_kept"),
        md5(concat_ws(" ", kept)).as("aug_hash"))
      .orderBy(col("doc_id"))
  }

  /** Segment size (whitespace tokens) for [[segmentDedup]] — the paragraph
    * stand-in on the single-line fixture corpus. */
  val SegTokens = 20

  /** Sequence-level exact dedup — the "paragraph dedup" stage of a corpus
    * pipeline (CCNet/RefinedWeb run it per paragraph; exact-substring dedup
    * finds the same repeated spans): split every document into consecutive
    * [[SegTokens]]-token segments, keep only the globally-first occurrence
    * of each distinct segment (min (doc_id, seg_id), packed into one long
    * so the survivor choice is a plain MIN), and report per-document
    * retention.
    *
    * Scale shape: segments come from the same bounded explode as
    * [[chunkDocs]]; the survivor choice is ONE aggregation shuffle keyed by
    * the segment hash (map-side partials shrink each duplicate group to one
    * row per partition), and the per-doc rollup re-aggregates only the
    * one-row-per-distinct-segment survivors. Per-doc totals are recomputed
    * arithmetically from the scan (ceil(n_toks/20)) rather than carried
    * through the explode, so no join ever touches the exploded table. */
  def segmentDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val nSegs = ceil(col("n_toks") / lit(SegTokens.toDouble)).cast("int")
    val segs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_toks", size(col("toks")))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), nSegs - 1)).as("seg_id"))
      .select(col("doc_id"), col("seg_id"),
        md5(array_join(
          slice(col("toks"), col("seg_id") * SegTokens + 1, lit(SegTokens)),
          " ")).as("seg_md5"))
    val kept = segs
      .groupBy(col("seg_md5"))
      .agg(min(col("doc_id") * 100000 + col("seg_id")).as("first_key"))
      .select(expr("first_key DIV 100000").as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        ceil(size(tokens(col("text"))) / lit(SegTokens.toDouble)).cast("int")
          .as("n_segments"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        stableRound4(coalesce(col("n_kept"), lit(0L)) / col("n_segments"))
          .as("kept_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Cross-document repeated n-gram spans: the word 5-grams appearing in at
    * least `minDocs` distinct documents, by document frequency — the
    * scalable stand-in for exact-substring duplicate detection (a suffix
    * array finds the same repeated spans; shingle counting finds them with
    * one explode and one aggregation shuffle, no global sort, no pairwise
    * join). Per-doc shingles are distinct ([[shingles]]), so the count IS
    * the distinct-document frequency without a countDistinct. */
  def repeatedNgrams(spark: SparkSession, dir: String, n: Int = 5,
      minDocs: Int = 2, k: Int = 40): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(shingles(tokensLower(col("text")), n)).as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("n_docs").desc, col("shingle"))
      .limit(k)

  /** Per-document duplicated-span fraction: the share of a document's
    * distinct word 5-grams that occur in at least `minDocs` documents — the
    * per-document form of the exact-substring duplication signal of Lee et
    * al. 2022 ("Deduplicating Training Data Makes Language Models Better");
    * [[repeatedNgrams]] ranks the spans corpus-wide, this scores every
    * document so a cleaning pipeline can filter or down-weight on it.
    * Shingles are distinct within a document ([[shingles]]), so the
    * per-shingle row count IS its document frequency.
    *
    * Scale shape: one explode, one df aggregation, one equality join back
    * on the xxhash64'd shingle key (hashed to shrink shuffle bytes — the
    * join is what moves data), one per-doc aggregation — all
    * partial-aggregated, no windows, no pairwise join. Documents shorter
    * than 5 tokens have no 5-grams and report zero shingles. */
  def dupSpanFrac(spark: SparkSession, dir: String, n: Int = 5,
      minDocs: Int = 2): DataFrame =
    dupSpanFracDocs(Tables.documents(spark, dir), n, minDocs)

  /** Core of [[dupSpanFrac]] over any (doc_id, text) frame. */
  def dupSpanFracDocs(docs: DataFrame, n: Int = 5,
      minDocs: Int = 2): DataFrame = {
    // round 16: NOT Materialize'd — the exploded (doc_id, shingle) table
    // is CORPUS-sized, and checkpointing it pins corpus-scale blocks in
    // executor storage (the r15-verdict bigram_logprob pathology;
    // Materialize's scale note allows signatures/keys, not corpus bytes).
    // The two consumers (df aggregation, join probe) recompute the
    // codegen'd explode from the scan instead — nothing is stored.
    val sh = Spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(shingles(tokensLower(col("text")), n)).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    val df = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val frac = sh.hint("shuffle_hash").join(df, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDocs, 1L).otherwise(0L)).as("n_dup"))
    docs.select(col("doc_id"))
      .join(frac, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        graft.functions.NumericFunctions.stableRound4(
          coalesce(col("n_dup") / col("n_shingles"), lit(0.0))).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Span-level duplicate REMOVAL — the acting counterpart of the
    * [[dupSpanFrac]] audit and the per-span form of Lee et al. 2022's
    * exact-substring dedup: instead of dropping whole documents, delete the
    * token positions covered by any word `n`-gram that occurs in at least
    * `minDocs` documents (boilerplate headers, license blocks, templated
    * intros), and keep the rest of the document intact. Output is the
    * cleaned text plus the removal accounting a mixture pipeline tracks
    * (tokens before / removed).
    *
    * Plan shape (all linear, no pairwise join): posexplode the n-gram
    * starts, df-aggregate the grams (distinct per doc first, so the count
    * is document frequency), semi-join the positional grams against the
    * duplicated subset on the hashed gram key, expand each surviving start
    * to its `n` covered positions (bounded explode: ≤ n rows per dup
    * gram), collect the per-doc dup-position set (bounded by the doc's own
    * token count), and rebuild the text with a codegen'd higher-order
    * `filter` over the token array. Two shuffles total (gram df, per-doc
    * position agg) on high-cardinality keys. */
  def removeDupSpans(spark: SparkSession, dir: String, n: Int = 5,
      minDocs: Int = 2): DataFrame =
    removeDupSpansDocs(Tables.documents(spark, dir), n, minDocs)

  /** Core of [[removeDupSpans]] over any (doc_id, text) frame. */
  def removeDupSpansDocs(input: DataFrame, n: Int = 5,
      minDocs: Int = 2): DataFrame = {
    val docs = Spread(input.select(col("doc_id"), col("text")))
      .select(col("doc_id"), tokensLower(col("text")).as("toks"))
    // positional grams: (doc_id, start i, hashed gram) for i in 0..m-n
    // the CASE guards short docs: sequence(0, m-n) DESCENDS when m < n
    // (negative starts), so emit an empty gram array instead.
    // round 16: NOT Materialize'd — positional grams are CORPUS-sized,
    // and checkpointing them pins corpus-scale blocks in executor
    // storage (the r15-verdict bigram_logprob pathology). The two
    // consumers (gram-df aggregation, dup-position probe) recompute the
    // codegen'd explode from the scan instead — nothing is stored.
    val grams =
      docs.select(col("doc_id"),
          posexplode(expr(
            s"CASE WHEN size(toks) >= $n THEN " +
            s"transform(sequence(0, size(toks) - $n), i -> " +
            s"array_join(slice(toks, i + 1, $n), ' ')) " +
            s"ELSE CAST(array() AS ARRAY<STRING>) END"))
            .as(Seq("start", "gram")))
        .select(col("doc_id"), col("start"), xxhash64(col("gram")).as("gh"))
    val dupGrams = grams.select(col("doc_id"), col("gh")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs).select(col("gh"))
    // hint the RIGHT side: a left-semi join builds on the right, so a
    // left-side shuffle_hash hint is unsatisfiable and falls back to
    // sort-merge (caught in the EXPLAIN audit)
    val dupPos = grams.join(dupGrams.hint("shuffle_hash"), Seq("gh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + lit(n - 1))).as("pos"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("pos")).as("dup_pos"))
    docs.join(dupPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        coalesce(size(col("dup_pos")), lit(0)).cast("long").as("n_removed"),
        array_join(filter(col("toks"),
          (t, i) => coalesce(!array_contains(col("dup_pos"), i), lit(true))),
          " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Pairwise cross-source contamination audit: for every pair of corpus
    * sources, the Jaccard overlap of their distinct word 5-gram sets — the
    * leakage check run before treating sources as independent mixture
    * components (high overlap means double-counted text or one source
    * scraping another; the same shape with an eval-benchmark side is the
    * decontamination audit). Output is the full source-pair grid with
    * zero-filled overlap so absent pairs are visible.
    *
    * Scale shape: the candidate join fans out at most C(#sources, 2) rows
    * per shingle (sources are a handful; shingles are hashed before the
    * join), the per-source set sizes are one aggregation, and the grid is
    * a crossJoin of two #sources-row aggregates — broadcast by size. */
  def sourceOverlap(spark: SparkSession, dir: String, n: Int = 5): DataFrame =
    sourceOverlapDocs(Tables.documents(spark, dir), n)

  /** Core of [[sourceOverlap]] over any (source, text) frame. */
  def sourceOverlapDocs(docs: DataFrame, n: Int = 5): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val sh = Materialize(
      docs
        .select(col("source"),
          explode(shingles(tokensLower(col("text")), n)).as("shingle"))
        .select(col("source"), xxhash64(col("shingle")).as("shingle"))
        .distinct())
    val per = sh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val shared = sh.as("a").hint("shuffle_hash")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle")
        && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("shared"))
    // explicit broadcast: |sources| rows per side, deliberate cartesian —
    // the hint pins BroadcastNestedLoopJoin (round-8 plan-determinism
    // convention)
    val grid = per.select(col("source").as("sa"), col("n_sh").as("na"))
      .crossJoin(broadcast(
        per.select(col("source").as("sb"), col("n_sh").as("nb"))))
      .filter(col("sa") < col("sb"))
    grid.join(shared, Seq("sa", "sb"), "left")
      .select(col("sa"), col("sb"), col("na"), col("nb"),
        coalesce(col("shared"), lit(0L)).as("shared"),
        stableRound4(coalesce(col("shared"), lit(0L)) /
          (col("na") + col("nb") - coalesce(col("shared"), lit(0L))))
          .as("jaccard"))
      .orderBy(col("sa"), col("sb"))
  }

  /** Deterministic output sharding: assign every document to one of 16
    * shards by the first hex digit of md5(doc_id), and report per-shard
    * volume — the write-side layout step of a training pipeline (each
    * shard is an output file a data loader streams independently). The
    * assignment is a pure function of the key: stable across runs,
    * engines, partitionings, and cluster sizes, unlike anything derived
    * from partition ids. One aggregation shuffle over 16 groups. */
  def shardAssign(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"),
        col("doc_id"), size(tokens(col("text"))).as("n_toks"))
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("bigint").as("n_tokens"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy(col("shard"))

  /** q_epoch_shuffle: seeded, reproducible GLOBAL permutation of the
    * corpus — the last step between [[packSequences]]/[[shardAssign]]/
    * [[splitReport]] and a training run: each epoch's read order must
    * look random, replay identically across reruns, and be independent
    * of cluster size or partitioning. The permutation key is
    * md5(seed ':' doc_id) — the established portable-randomness contract
    * ([[sampleByHash]], [[shardAssign]]) — so the global order is a pure
    * function of (seed, doc_id); changing the seed is a fresh epoch.
    * Output shards are the key's first hex digit: 16 range-contiguous
    * slices of the permutation, so a loader that streams shard files in
    * key order sees the full permutation with no engine re-sort. The
    * report row per shard carries counts plus an ORDER-SENSITIVE
    * checksum Σ rn·doc_id over the FIRST `headK` rows of the shard's
    * permutation — the replayability probe: any SINGLE swap (including
    * one WITHIN the head, which a plain id-sum would miss — (i−j)(b−a)
    * ≠ 0 for distinct ids), dropped doc, or seed drift moves a head
    * checksum. Compensating multi-element permutations can collide
    * (heads (1,3,2) and (2,1,3) both sum Σ rn·id to 13), so the probe
    * detects transpositions, not arbitrary reshuffles — the drift modes
    * a loader actually produces are single-swap-shaped or change the
    * row SET, both of which it catches.
    *
    * Scale shape: shard assignment is a pure key function — no global
    * sort, no single-partition window; the head probe is a per-shard
    * rank window (16-way parallel, each partition one key range); the
    * rollup is a 16-group aggregation. At 100 TB the write side is
    * partitionBy(shard) + sortWithinPartitions(key): one shuffle, and
    * the sort is per output file, never global. */
  def epochShuffle(spark: SparkSession, dir: String,
      seed: String = "epoch0", headK: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(spark, dir)
      .select(col("doc_id"), size(tokens(col("text"))).as("n_toks"),
        md5(concat_ws(":", lit(seed), col("doc_id").cast("string")))
          .as("k"))
      .withColumn("shard", substring(col("k"), 1, 1))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("k"), col("doc_id"))
    keyed
      .withColumn("rn", row_number().over(w))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("bigint").as("n_tokens"),
        sum(when(col("rn") <= headK, col("rn") * col("doc_id")))
          .as("head_checksum"))
      .orderBy(col("shard"))
  }

  /** Token co-occurrence with pointwise mutual information over the
    * top-`vocabK` vocabulary — the corpus-statistics pass behind phrase
    * mining and embedding evaluation. Restricting both sides to a small
    * broadcast vocabulary is what makes the in-document pair join tractable:
    * each document contributes at most vocabK·(vocabK−1)/2 pairs regardless
    * of its length, so the join output is bounded by docs × k², never
    * tokens². PMI uses exact integer counts; the only float is the final
    * rounded log. */
  def cooccurPmi(spark: SparkSession, dir: String, vocabK: Int = 50,
      k: Int = 50): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val docs = Tables.documents(spark, dir)
    // materialized: the distinct (doc, token) pairs feed both the vocab
    // rollup and the pair join — without it the scan+explode runs twice
    val docTok = Materialize(docs.select(col("doc_id"),
      explode(array_distinct(tokensLower(col("text")))).as("token")))
    val vocab = docTok.groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(vocabK)
    val total = docs.agg(count(lit(1)).as("n_total"))
    val vt = docTok.join(vocab.select(col("token")), "token")
      .select(col("doc_id"), col("token"))
    // self-join on doc_id, NOT a per-doc array comprehension: the
    // collect_set + nested-transform pair expansion was measured 1.8×
    // slower (1.50 s vs 0.85 s at sf0.1) — higher-order functions are
    // CodegenFallback and the struct-array explode materializes fat rows,
    // while this join shuffles only (doc_id, token) pairs through
    // codegen'd operators end to end.
    val pairs = vt.as("a")
      .join(vt.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.token") < col("b.token"))
      .groupBy(col("a.token").as("token_a"), col("b.token").as("token_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(vocab.select(col("token").as("token_a"),
        col("df").as("df_a")), "token_a")
      .join(vocab.select(col("token").as("token_b"),
        col("df").as("df_b")), "token_b")
      .crossJoin(broadcast(total))
      .select(col("token_a"), col("token_b"), col("n_ab"),
        col("df_a"), col("df_b"),
        stableRound4(log((col("n_ab") * col("n_total")).cast("double")
          / (col("df_a") * col("df_b")))).as("pmi"))
      .orderBy(col("n_ab").desc, col("token_a"), col("token_b"))
      .limit(k)
  }

  /** Quality-score threshold for [[cleanPipeline]] (corpus median ≈ 0.83,
    * so ≈ 40 % of documents fail the gate on the fixture data). */
  val CleanMinQuality = 0.75

  /** The composed corpus-cleaning funnel — the reference's
    * "clean the batch before loading" stage (ingest_data.py:29-38)
    * generalized to LLM-corpus semantics: language filter (labeled 'en'),
    * structural quality gate (the [[TextOps.qualityScore]] formula ≥
    * [[CleanMinQuality]]), then exact dedup (normalized-fingerprint
    * survivor = min doc_id), reported per source as a retention funnel.
    *
    * Scale shape: both filters are narrow predicates that ride the scan;
    * the dedup survivor is one min-aggregation shuffle on the fingerprint
    * (min_by carries the survivor's source, so nothing joins back to the
    * document table); the funnel itself is a 20-group rollup. */
  def cleanPipeline(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val nToks = size(tokens(col("text")))
    val awl = (length(regexp_replace(col("text"), "\\s", "")).cast("double")
      / nToks)
    val swr = (tokenMatchCount(tokensLower(col("text")), TextOps.EnWords)
      .cast("double") / nToks)
    val score = least(lit(1.0), nToks / lit(50.0)) * 0.5 +
      when(awl.between(3.0, 8.0), 0.3).otherwise(0.0) +
      least(lit(0.2), swr)
    val flagged = Materialize(Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        (col("lang") === "en").as("pass_lang"),
        (col("lang") === "en" && score >= CleanMinQuality).as("pass_all"),
        fingerprint(col("text")).as("fp")))
    val funnel = flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("pass_lang"), 1L).otherwise(0L)).as("n_lang"),
        sum(when(col("pass_all"), 1L).otherwise(0L)).as("n_quality"))
    val unique = flagged.filter(col("pass_all"))
      .groupBy(col("fp"))
      .agg(min_by(col("source"), col("doc_id")).as("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_unique"))
    funnel.join(unique, Seq("source"), "left")
      .select(col("source"), col("n_raw"), col("n_lang"), col("n_quality"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        stableRound4(coalesce(col("n_unique"), lit(0L)) / col("n_raw"))
          .as("retention"))
      .orderBy(col("source"))
  }

  /** One BPE merge-training step sequence over a compact word-frequency
    * table — REAL byte-pair-encoding vocabulary induction (Sennrich-style),
    * not a stand-in: start from characters plus an end-of-word marker,
    * repeatedly merge the most frequent adjacent symbol pair (ties broken
    * lexicographically so training is deterministic), rewriting the word
    * forms after each merge. Pure function, driver-side by design: BPE
    * training is inherently sequential in the merge rank, and its input is
    * the WORD-FREQUENCY table, not the corpus — the standard architecture
    * (HF tokenizers does the same) that makes tokenizer training O(vocab)
    * after one corpus-scale counting pass. */
  def bpeTrainMerges(wordFreq: Seq[(String, Long)], numMerges: Int)
      : Seq[(Int, String, String, Long)] = {
    var words: Map[Vector[String], Long] = wordFreq
      .map { case (w, f) => (w.map(_.toString).toVector :+ "</w>") -> f }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val pairCounts = scala.collection.mutable.Map.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        // max count; ties broken by ascending (left, right) for determinism
        val ((l, r), c) = pairCounts.toSeq
          .minBy { case ((a, b), n) => (-n, a, b) }
        merges += ((rank, l, r, c))
        val merged = l + r
        words = words.toSeq.map { case (syms, f) =>
          val out = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
              out += merged; i += 2
            } else { out += syms(i); i += 1 }
          }
          out.result() -> f
        }.groupMapReduce(_._1)(_._2)(_ + _)
        rank += 1
      }
    }
    merges.result()
  }

  /** Declared BPE-vocabulary query: learn `numMerges` merges from the
    * corpus's top-`topWords` word forms and emit the ranked merge table —
    * the tokenizer-induction pass of a training-data pipeline.
    *
    * Scale shape: ONE corpus-scale pass (explode + partial-aggregated
    * word count), a TakeOrderedAndProject to the bounded top-V vocabulary,
    * then driver-side training over V compact rows (BPE is sequential in
    * merge rank — distributing it buys nothing; bounding V caps driver
    * memory at any corpus size). Oracle-proven since round 9: the merge
    * recurrence unrolls in DuckDB as 30 MATERIALIZED CTE rounds
    * (SparkEntry.bpeCtes — pair counts, (count desc, left, right) argmax,
    * one literal replace per round); CorpusOpsSpec keeps the hand-computed
    * Sennrich-style ground truth as a pin. */
  def bpeVocab(spark: SparkSession, dir: String, topWords: Int = 5000,
      numMerges: Int = 30): DataFrame = {
    import spark.implicits._
    val wf = Tables.documents(spark, dir)
      .select(explode(tokensLower(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok"))
      .limit(topWords)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    bpeTrainMerges(wf, numMerges)
      .toDF("rank", "left", "right", "pair_count")
      .orderBy(col("rank"))
  }

  /** Greedy BPE segmentation of one word under a learned merge table:
    * repeatedly apply the LOWEST-RANK merge present (all non-overlapping
    * occurrences, left to right) until none applies — the standard
    * tokenizer-apply rule, so words unseen at training time still segment
    * into learned subwords. Pure function; used per-row inside
    * [[bpeSegmentTokens]]. */
  def bpeApply(word: String, ranks: Map[(String, String), Int])
      : Vector[String] = {
    var syms = word.map(_.toString).toVector :+ "</w>"
    var applying = true
    while (applying && syms.length >= 2) {
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) applying = false
      else {
        val (l, r) = {
          val e = ranks.collectFirst {
            case (p, rk) if rk == best => p
          }.get
          e
        }
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
            out += (l + r); j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  /** Tokenizer application over the corpus: learn `numMerges` BPE merges
    * ([[bpeVocab]] path), broadcast the rank table, and segment every
    * DISTINCT corpus token — emitting its pieces and the piece count, the
    * input for a compression-ratio report (chars per piece ≈ fertility).
    *
    * Scale shape: segmentation runs on the distinct-token table, not the
    * token stream (a corpus has billions of tokens but a bounded surface
    * vocabulary) — one partial-aggregated distinct, then a narrow
    * mapPartitions with the broadcast rank map; re-join to the stream only
    * if per-document fertility is needed. Oracle-proven since round 9:
    * applying the trained merges in RANK ORDER provably equals
    * [[bpeApply]]'s lowest-present-rank loop (a merge's components are
    * always products of lower-ranked merges, so a higher-rank application
    * can never create a lower-rank pair occurrence), which makes the
    * segmentation a 30-step replace chain in DuckDB. */
  def bpeSegmentTokens(spark: SparkSession, dir: String, topWords: Int = 5000,
      numMerges: Int = 30): DataFrame = {
    import spark.implicits._
    val wf = Tables.documents(spark, dir)
      .select(explode(tokensLower(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
    val top = wf.orderBy(col("n").desc, col("tok")).limit(topWords)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val ranks = bpeTrainMerges(top, numMerges)
      .map { case (rank, l, r, _) => (l, r) -> rank }.toMap
    val bc = spark.sparkContext.broadcast(ranks)
    wf.select(col("tok"), col("n")).as[(String, Long)]
      .mapPartitions { it =>
        val rk = bc.value
        it.map { case (tok, n) =>
          val pieces = bpeApply(tok, rk)
          (tok, n, pieces.mkString(" "), pieces.length)
        }
      }
      .toDF("tok", "n", "pieces", "n_pieces")
      .orderBy(col("tok"))
  }

  /** Temperature-scaled source sampling weights: w_i = n_i^τ / Σ n_j^τ over
    * per-source token counts, with τ = 0.7 — the multinomial-temperature
    * mixture used to up-sample low-resource sources when composing a
    * training mix (τ = 1 recovers proportional sampling, τ → 0 uniform).
    * `boost` = temp_share / raw_share is the effective epochs-multiplier a
    * source gets under the tempered mix.
    *
    * Scale shape: one partial-aggregated groupBy to per-source token counts
    * (a handful of rows), then a broadcast one-row total — the corpus is
    * scanned exactly once and nothing after the agg exceeds |sources| rows. */
  def temperatureMix(spark: SparkSession, dir: String, tau: Double = 0.7)
      : DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val counts = Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).as("n_toks"))
      .groupBy(col("source"))
      .agg(sum(col("n_toks")).cast("bigint").as("n_tokens"))
    val totals = counts.agg(
      sum(col("n_tokens")).cast("double").as("tot_tokens"),
      sum(pow(col("n_tokens").cast("double"), tau)).as("tot_pow"))
    counts.crossJoin(broadcast(totals))
      .select(
        col("source"), col("n_tokens"),
        stableRound4(col("n_tokens") / col("tot_tokens")).as("raw_share"),
        stableRound4(pow(col("n_tokens").cast("double"), tau) / col("tot_pow"))
          .as("temp_share"),
        stableRound4(pow(col("n_tokens").cast("double"), tau) / col("tot_pow")
          / (col("n_tokens") / col("tot_tokens"))).as("boost"))
      .orderBy(col("source"))
  }

  /** q_gram_novelty: each document's marginal novelty contribution — the
    * fraction of its distinct word 5-grams whose FIRST corpus occurrence
    * (by doc_id order) is this document. The data-valuation twin of
    * [[dupSpanFracDocs]]: dup_frac asks "how much of this doc exists
    * elsewhere", novelty asks "how much did this doc add when it
    * arrived" — the signal curriculum/selection pipelines use to rank
    * ingestion order and prune low-contribution sources. Deterministic
    * because "first" is min(doc_id), not arrival time.
    *
    * Same scale shape as the span audit: one materialized exploded
    * shingle table (hashed to 8-byte keys), a min-per-gram aggregation
    * instead of a df count, one shuffle_hash join back, per-doc rollup.
    * Everything partial-aggregates; no doc×doc work. */
  def gramNovelty(spark: SparkSession, dir: String, n: Int = 5): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val docs = Tables.documents(spark, dir)
    val sh = Materialize(
      docs
        .select(col("doc_id"),
          explode(shingles(tokensLower(col("text")), n)).as("shingle"))
        .select(col("doc_id"), xxhash64(col("shingle")).as("shingle")))
    val first = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("fd"))
    val per = sh.hint("shuffle_hash").join(first, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        stableRound4(coalesce(col("n_novel") / col("n_grams"), lit(0.0)))
          .as("novelty_frac"))
      .orderBy(col("doc_id"))
  }

  /** q_data_recipe: the acting counterpart of [[temperatureMix]] — turn
    * the tempered target shares into an executable sampling plan for a
    * total training-token budget of `budgetX` × the corpus. Per source:
    * target_tokens = budget · temp_share, epochs = target_tokens /
    * available (how many passes over that source the plan implies), and
    * sample_rate = min(1, epochs) (the per-doc keep probability when the
    * source must be DOWN-sampled; epochs > 1 means up-sampling /
    * repetition, the quantity the data-repetition literature tracks —
    * repeated epochs decay in value, so the report also flags
    * upsampled > 4 epochs as `over_repeated`). Same single-aggregation
    * shape as temperatureMix: one groupBy(source) + a broadcast totals
    * row; |sources| output rows at any corpus size. */
  def dataRecipe(spark: SparkSession, dir: String, tau: Double = 0.7,
      budgetX: Double = 2.0): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val counts = Tables.documents(spark, dir)
      .select(col("source"), size(tokens(col("text"))).as("n_toks"))
      .groupBy(col("source"))
      .agg(sum(col("n_toks")).cast("bigint").as("n_tokens"))
    val totals = counts.agg(
      sum(col("n_tokens")).cast("double").as("tot_tokens"),
      sum(pow(col("n_tokens").cast("double"), tau)).as("tot_pow"))
    val tempShare = pow(col("n_tokens").cast("double"), tau) / col("tot_pow")
    val targetToks = lit(budgetX) * col("tot_tokens") * tempShare
    val epochs = targetToks / col("n_tokens")
    counts.crossJoin(broadcast(totals))
      .select(
        col("source"), col("n_tokens"),
        stableRound4(tempShare).as("temp_share"),
        floor(targetToks).cast("bigint").as("target_tokens"),
        stableRound4(epochs).as("epochs"),
        stableRound4(least(lit(1.0), epochs)).as("sample_rate"),
        (epochs > 4.0).as("over_repeated"))
      .orderBy(col("source"))
  }

  /** Deterministic train/val/test split report: md5(doc_id) prefix buckets
    * the corpus ~80/10/10 (hex prefix < "cc" = 204/256 → train, < "e6" =
    * 230/256 → val, else test), reported per (split, lang) with each
    * language's share of its split — the reproducible split every training
    * run needs (hash-based, so membership is stable under corpus growth
    * and re-partitioning, unlike randomSplit).
    *
    * Scale shape: the split key is a narrow per-row expression riding the
    * scan; one partial-aggregated groupBy + a 3-row broadcast of split
    * totals. No shuffle of document text, ever. */
  /** q_split_leakage: cross-split contamination audit — after the
    * hash-based train/val/test assignment of [[splitReport]], how many
    * eval-side documents are near-duplicates of a TRAIN document? A val
    * set contaminated by train twins overstates model quality exactly
    * like benchmark contamination does (the decontamination literature's
    * n-gram-overlap criterion, applied between a corpus's own splits —
    * the audit every pipeline should run after splitting, because
    * doc-level hash splitting guarantees doc disjointness but NOT
    * near-dup disjointness).
    *
    * Leak criterion: an eval doc sharing ≥ `minShared` df-capped 3-gram
    * shingles with any train doc. Shape: one exploded+hashed shingle
    * table, the df≤`dfCap` anti-probe bounding every bucket (the measured
    * sub-quadratic dial, SCALE.md), then ONE train⋈eval equality join on
    * the shingle hash — train-side rows probe eval-side buckets; no
    * eval×eval or train×train pairs are ever formed. Output is the
    * two-row per-split report. */
  def splitLeakage(spark: SparkSession, dir: String,
      minShared: Int = 3, dfCap: Int = 16): DataFrame = {
    // split is a pure function of doc_id (same hash rule as splitReport),
    // so it is recomputed wherever needed instead of joined back
    val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
    val splitCol =
      when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test")
    val withSplit = Tables.documents(spark, dir).withColumn("split", splitCol)
    // same (dir, dfCap) survivor table as the capped Jaccard/containment
    // queries — served from DedupOps' session-shared cache, built once
    val surv = DedupOps.cappedSurvivorsShared(spark, dir, dfCap)
      .withColumn("split", splitCol)
    val train = surv.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), col("shingle"))
    val eval_ = surv.filter(col("split") =!= "train")
    val leaked = eval_.hint("shuffle_hash")
      .join(train, "shingle")
      .groupBy(col("split"), col("doc_id"), col("train_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("split"), col("doc_id")).distinct()
      .groupBy(col("split")).agg(count(lit(1)).as("n_leaked"))
    withSplit.filter(col("split") =!= "train")
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .join(leaked, Seq("split"), "left")
      .select(col("split"), col("n_docs"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        round(coalesce(col("n_leaked"), lit(0L)).cast("double")
          / col("n_docs"), 4).as("leak_rate"))
      .orderBy(col("split"))
  }

  def splitReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
    val cells = Tables.documents(spark, dir)
      .select(
        when(h2 < "cc", "train").when(h2 < "e6", "val").otherwise("test")
          .as("split"),
        col("lang"), size(tokens(col("text"))).as("n_toks"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).cast("bigint").as("n_tokens"))
    val splitTotals = cells.groupBy(col("split"))
      .agg(sum(col("n_docs")).cast("double").as("split_docs"))
    cells.join(broadcast(splitTotals), Seq("split"))
      .select(col("split"), col("lang"), col("n_docs"), col("n_tokens"),
        stableRound4(col("n_docs") / col("split_docs")).as("lang_share"))
      .orderBy(col("split"), col("lang"))
  }

  /** q_dataset_card: the one-row "dataset card" summary every corpus
    * release ships — doc/source/lang counts, size in chars and whitespace
    * tokens, exact duplicate rate, mean and exact-median tokens per doc,
    * and the English share. One scan + one exact-distinct on the text
    * fingerprint; at 100 TB the distinct goes over md5(text) (fingerprint
    * width, not document width) and the median comes from the same
    * two-pass exact-percentile machinery as q_stats_agg — or its
    * one-pass approx_percentile sibling when a sketch suffices
    * (q_approx_stats). */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    import graft.functions.TextFunctions.tokensLower
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).as("n_chars_exact"),
        size(tokensLower(col("text"))).as("n_toks"),
        md5(col("text")).as("fp"))
    // round 16: the exact token-count median via ExactPercentile's
    // bounded-state selection (bit-identical to percentile() — unchanged
    // oracle); the old aggregate buffered every doc's token count in one
    // reducer. Column pruning keeps the two extra passes at
    // tokenize-only cost (no md5 fingerprint work).
    val p50Toks = ExactPercentile.computeGlobal(d, "n_toks", Seq(0.5))(0)
    d.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars_exact").cast("long")).as("total_chars"),
        sum(col("n_toks").cast("long")).as("total_tokens"),
        countDistinct(col("fp")).as("n_unique_docs"),
        avg(col("n_toks")).as("mean_toks_raw"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        col("total_chars"), col("total_tokens"),
        stableRound4(lit(1.0)
          - col("n_unique_docs").cast("double") / col("n_docs"))
          .as("dup_rate"),
        stableRound4(col("mean_toks_raw")).as("mean_toks"),
        stableRound4(lit(p50Toks)).as("p50_toks"),
        stableRound4(col("n_en").cast("double") / col("n_docs"))
          .as("en_share"))
  }

  /** q_mutual_info: mutual information between the corpus's lang and
    * source labels — the dependence audit behind "is my language mix
    * confounded with my source mix?" (a stratified sampler that ignores a
    * high-MI confound shifts the language distribution when it rebalances
    * sources). I(L;S) = Σ (n_ls/N)·ln(N·n_ls / (n_l·n_s)) from the integer
    * contingency table; also H(L), H(S), and the normalized
    * NMI = I/√(H_L·H_S) (0 = independent, 1 = one determines the other).
    *
    * Plan: ONE fact-table aggregation to the |L|×|S| contingency cells;
    * marginals are rollups OF THE CELLS (never a second fact scan), joined
    * back by broadcast; every entropy/MI term is computed from exact
    * integer counts, summed over ≤ |L|×|S| values. */
  /** q_doremi: DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining") — the
    * Group-DRO exponentiated-gradient step that upweights domains where
    * the proxy model does WORSE than baseline: α_d ∝ exp(η · excess_d),
    * excess_d = max(0, loss_d − baseline), then smoothed with uniform
    * (mix = (1−s)·α + s/K). The full recipe retrains the proxy between
    * steps (out of scope for one query); this is ONE exact step with the
    * corpus-trained unigram LM as the proxy — per-domain loss = mean
    * negative per-doc mean log10-likelihood from [[TextOps
    * .unigramLogprobDocs]] (the same engine-checked values q_unigram_logprob
    * ships), baseline = the corpus mean. η defaults to 100 — scaled to
    * this proxy's small excess range (≈10⁻³ nll) so the softmax
    * differentiates; the dial a real run tunes.
    *
    * Scale shape: the per-doc scoring is the q_unigram_logprob pass (two
    * partial-aggregated hops); everything after is |domains|-row — one
    * broadcast of the 1-row corpus mean, a ≤|domains|-row softmax. Excess
    * is computed from the 4-decimal-rounded per-domain and corpus means,
    * so the softmax input is exact decimals in both engines. */
  def doremi(spark: SparkSession, dir: String, eta: Double = DoremiEta,
      smooth: Double = DoremiSmooth): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val docs = Tables.documents(spark, dir)
    // materialized: the per-doc LM scoring pass is the query's dominant
    // cost and feeds FOUR consumers (per-domain agg, corpus baseline, and
    // both re-reads via the unmaterialized excess in z and the final
    // select) — without the barrier the vocab join re-executes per branch
    val scored = Materialize(TextOps.unigramLogprobDocs(docs)
      .select(col("doc_id"), col("mean_logp"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id")))
    val perDomain = scored.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        stableRound4(avg(-col("mean_logp"))).as("mean_nll"))
    val baseline = scored.agg(
      stableRound4(avg(-col("mean_logp"))).as("corpus_nll"))
    // |domains|-row frame read by the softmax normalizer AND the final
    // select — materialized so the two consumers share one computation
    val excess = Materialize(perDomain.crossJoin(baseline)
      .select(col("source"), col("n_docs"), col("mean_nll"),
        col("corpus_nll"),
        greatest(col("mean_nll") - col("corpus_nll"), lit(0.0)).as("excess")))
    val z = excess.agg(sum(exp(lit(eta) * col("excess"))).as("z"),
      count(lit(1)).as("k"))
    excess.crossJoin(z)
      .select(col("source"), col("n_docs"), col("mean_nll"),
        stableRound4(col("excess")).as("excess_nll"),
        stableRound4(exp(lit(eta) * col("excess")) / col("z")).as("alpha"),
        stableRound4((lit(1.0) - smooth)
          * (exp(lit(eta) * col("excess")) / col("z"))
          + lit(smooth) / col("k")).as("mix_weight"))
      .orderBy(col("source"))
  }

  /** q_dsir: DSIR — Data Selection via Importance Resampling (Xie et al.
    * 2023, "Data Selection for Language Models via Importance Resampling")
    * — THE staple of modern pretraining-data curation: score every raw
    * document by how much more likely its hashed n-gram features are under
    * a TARGET domain than under the raw corpus, then resample toward the
    * target distribution.
    *
    * Faithful to the paper's recipe, each stage in its scale-native shape:
    *   1. FEATURES: word unigrams + bigrams hashed into `buckets` ids
    *      (md5-60 mod B — the engine-portable family), pre-aggregated to
    *      (doc, bucket, cnt) so everything downstream scales with distinct
    *      buckets per doc, not token occurrences.
    *   2. BAG-OF-HASHED-NGRAMS MODELS: bucket counts for the target slice
    *      (here `source = targetSource` — in production, the high-quality
    *      domain sample) and the full corpus, add-1 smoothed. The model is
    *      ≤ `buckets` rows — broadcast, never a shuffle of the corpus.
    *   3. IMPORTANCE WEIGHT: log w(x) = Σ_features [ln p̂_target(f) −
    *      ln p̂_corpus(f)], one broadcast join + one partial-aggregated
    *      sum per doc.
    *   4. GUMBEL-TOP-K RESAMPLE: the paper samples without replacement
    *      ∝ w; the Gumbel trick makes that a deterministic rank — key =
    *      log w − ln(−ln u) with u the md5-uniform of the doc id (same
    *      portable-sampling contract as q_sample_hash/q_weighted_sample).
    *      keep = key above the (1 − keepFrac) percentile cut, computed as
    *      a one-row broadcast like q_quality_deciles — no global window,
    *      no driver data.
    * Output: one row per doc (n_grams, log_weight, gumbel_key, keep) —
    * fully deterministic and oracle-checked end to end. */
  def dsir(spark: SparkSession, dir: String,
      targetSource: String = DsirTarget, buckets: Int = DsirBuckets,
      keepFrac: Double = DsirKeepFrac): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    // materialized: the ratios join + per-doc weight aggregation feeds
    // both the percentile cut and the final select — without the barrier
    // the dominant scoring stage runs twice per action
    val keyed = Materialize(dsirKeyed(spark, dir, targetSource, buckets))
    // round 16: the keep-threshold percentile via ExactPercentile's
    // bounded-state selection over the checkpointed keyed frame
    // (bit-identical to percentile() — unchanged oracle); the old global
    // aggregate buffered every doc's Gumbel key in one reducer
    val c = ExactPercentile.computeGlobal(keyed, "gumbel_key",
      Seq(1.0 - keepFrac))(0)
    keyed
      .select(col("doc_id"), col("n_grams"), col("log_weight"),
        col("gumbel_key"),
        (col("gumbel_key") > stableRound4(lit(c))).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** The DSIR scoring stage (per-doc log weight + Gumbel key), pre-
    * materialization — exposed so PlanQualitySpec can assert the
    * broadcast-model join and partial aggregation on the REAL plan (the
    * barrier in [[dsir]] collapses it to an RDD scan). */
  private[graft] def dsirKeyed(spark: SparkSession, dir: String,
      targetSource: String = DsirTarget,
      buckets: Int = DsirBuckets): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val docs = Tables.documents(spark, dir)
    // Spread before the gram explode: one md5Hash60 per token AND bigram
    // occurrence must not run fused to a 1-2 split scan (identity at scale)
    val grams = Spread(docs.select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"),
        tokensLower(col("text")).as("toks"))
      .select(col("doc_id"), col("source"),
        explode(concat(col("toks"), expr(
          "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)), " +
            "slice(toks, 2, greatest(size(toks) - 1, 0)), " +
            "(x, y) -> concat(x, ' ', y))"))).as("gram"))
      .select(col("doc_id"), col("source"),
        (md5Hash60(col("gram")) % buckets).as("b"))
    val perDoc = Materialize(
      grams.groupBy(col("doc_id"), col("source"), col("b"))
        .agg(count(lit(1)).as("cnt")))
    val corpus = perDoc.groupBy(col("b")).agg(sum(col("cnt")).as("n_q"))
    val target = perDoc.filter(col("source") === targetSource)
      .groupBy(col("b")).agg(sum(col("cnt")).as("n_t"))
    val totQ = corpus.agg(sum(col("n_q")).as("nq_tot"))
    val totT = target.agg(sum(col("n_t")).as("nt_tot"))
    val ratios = corpus.join(target, Seq("b"), "left")
      .crossJoin(totQ).crossJoin(totT)
      .select(col("b"),
        (log((coalesce(col("n_t"), lit(0L)) + 1).cast("double")
          / (col("nt_tot") + buckets))
          - log((col("n_q") + 1).cast("double")
            / (col("nq_tot") + buckets))).as("r"))
    val u = (conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":dsir"))), 1, 4), 16, 10).cast("double") + 0.5) / 65536.0
    perDoc.join(broadcast(ratios), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"),
        sum(col("cnt") * col("r")).as("logw"))
      .select(col("doc_id"), col("n_grams"),
        stableRound4(col("logw")).as("log_weight"),
        stableRound4(col("logw") - log(-log(u))).as("gumbel_key"))
  }

  def mutualInfo(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val cells = Materialize(
      Tables.documents(spark, dir)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_ls")))
    val nl = cells.groupBy(col("lang")).agg(sum(col("n_ls")).as("n_l"))
    val ns = cells.groupBy(col("source")).agg(sum(col("n_ls")).as("n_s"))
    val joined = cells
      .join(nl, "lang")
      .join(ns, "source")
    val n = col("n_total").cast("double")
    joined
      .agg(sum(col("n_ls")).as("n_total"),
        count(lit(1)).as("n_cells"),
        sum(col("n_ls").cast("double")
          * log(col("n_ls").cast("double")
            / (col("n_l").cast("double") * col("n_s").cast("double"))))
          .as("mi_raw"))
      // marginal entropies come from the marginal tables (one row each,
      // joined as broadcast scalars), not from re-walking the cells
      .join(nl.agg(
        sum(col("n_l").cast("double") * log(col("n_l").cast("double")))
          .as("sum_l_logl")))
      .join(ns.agg(
        sum(col("n_s").cast("double") * log(col("n_s").cast("double")))
          .as("sum_s_logs")))
      .select(col("n_total"), col("n_cells"),
        // I = (Σ n_ls ln n_ls/(n_l n_s))/N + ln N
        stableRound4(col("mi_raw") / n + log(n)).as("mi_nats"),
        stableRound4(log(n) - col("sum_l_logl") / n).as("h_lang"),
        stableRound4(log(n) - col("sum_s_logs") / n).as("h_source"),
        stableRound4((col("mi_raw") / n + log(n))
          / sqrt((log(n) - col("sum_l_logl") / n)
            * (log(n) - col("sum_s_logs") / n))).as("nmi"))
  }

  /** q_cdc_chunks: content-defined chunking (the rsync/LBFS rolling-hash
    * trick, Muthitacharoen et al. 2001, at token granularity) plus the
    * chunk-level duplication audit it exists for. A chunk boundary falls
    * AFTER token i when the portable 60-bit hash of the 2-gram ending at
    * i is ≡ 0 (mod `modulus`) — boundaries depend only on LOCAL content,
    * so an insertion early in a document shifts every byte offset but
    * re-synchronizes the chunking within one window (the property
    * offset-based chunking lacks, and why CDC is the dedup unit for
    * storage/corpus diffing). Chunks are hashed with the same md5-60 and
    * counted corpus-wide; the per-source report gives chunk count, mean
    * chunk length, and the duplicated-chunk fraction — the bytes CDC
    * dedup would reclaim.
    *
    * Scale shape: one narrow position explode, a per-doc ordered window
    * prefix-sum assigning chunk ids, one (doc, chunk) aggregation, one
    * corpus-wide chunk-hash count — every stage partial-aggregable or
    * partitioned by doc; nothing pairwise. Cross-engine: boundary flags,
    * prefix sums and all counts are exact integers. */
  /** The CDC chunk table shared by [[cdcChunks]] and [[dedupCdc]]:
    * (doc_id, source, chunk_id, n_tokens, chunk_hash) — see
    * [[cdcChunks]] for the boundary rule. */
  private def cdcChunkTable(spark: SparkSession, dir: String,
      modulus: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Spread before the tokenize+posexplode (per-row-heavy on a 1-2 split
    // scan; identity at scale — chunk ids/hashes are partition-independent)
    val pos = Spread(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"),
        posexplode(tokensLower(col("text"))))
      .select(col("doc_id"), col("source"), col("pos"),
        col("col").as("tok"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val flagged = pos
      .withColumn("prev", lag(col("tok"), 1).over(wDoc))
      .withColumn("boundary",
        when(col("prev").isNotNull &&
          pmod(md5Hash60(concat_ws(" ", col("prev"), col("tok"))),
            lit(modulus.toLong)) === 0L, 1L).otherwise(0L))
      // the boundary CLOSES the chunk before it: chunk id = count of
      // boundaries at positions ≤ pos, shifted so the boundary token
      // starts the next chunk
      .withColumn("chunk_id", sum(col("boundary")).over(wDoc))
    flagged.groupBy(col("doc_id"), col("source"), col("chunk_id"))
      .agg(count(lit(1)).as("n_tokens"),
        md5Hash60(concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")))).as("chunk_hash"))
  }

  def cdcChunks(spark: SparkSession, dir: String,
      modulus: Int = 16): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val chunks = cdcChunkTable(spark, dir, modulus)
    val dupHashes = chunks.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_occ"))
    chunks.join(dupHashes, "chunk_hash")
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        stableRound4(avg(col("n_tokens"))).as("avg_chunk_tokens"),
        stableRound4(sum(when(col("n_occ") > 1, 1L).otherwise(0L))
          .cast("double") / count(lit(1))).as("dup_chunk_frac"))
      .orderBy(col("source"))
  }

  /** q_dedup_cdc: document near-dup pairs by SHARED CDC CHUNKS — the
    * chunk-containment dedup the [[cdcChunks]] table exists for (the
    * rsync/storage-dedup identity applied to corpus text: two documents
    * that share most content share most content-defined chunks, even
    * when insertions shift every byte offset — the property that breaks
    * fixed-shingle positional schemes). Pairs form ONLY inside chunk-hash
    * buckets df-capped to [2, `maxDf`] occurrences (the proven
    * shingle-cap pattern: a hash in 1 doc can never pair; a hash in
    * hundreds is boilerplate whose bucket would go quadratic — its
    * EXCLUSION is the scale bound, identical to q_dedup_ngram_capped's
    * dial). Chunk-set Jaccard = shared/(nA+nB−shared) is exact integer
    * arithmetic up to one final division; pairs at ≥ `threshold` are
    * the verdicts.
    *
    * Scale shape: chunk table (narrow per-doc windows) → distinct
    * (doc, hash) → df-capped bucket self-join → integer agg; candidate
    * volume is Σ n(n−1)/2 over capped buckets, the measured-family
    * bound. */
  def dedupCdc(spark: SparkSession, dir: String, modulus: Int = 16,
      maxDf: Int = 64, threshold: Double = 0.5): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val d = Materialize(cdcChunkTable(spark, dir, modulus)
      .select(col("doc_id"), col("chunk_hash")).distinct())
    val capped = d.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
      .select(col("chunk_hash"))
    val inBucket = d.join(capped, "chunk_hash")
    val shared = inBucket.as("a").join(inBucket.as("b"),
        col("a.chunk_hash") === col("b.chunk_hash")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    val sizes = d.groupBy(col("doc_id")).agg(count(lit(1)).as("nc"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("nc").as("n_a")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("nc").as("n_b")),
        "doc_b")
      .withColumn("jaccard", stableRound4(col("n_shared").cast("double")
        / (col("n_a") + col("n_b") - col("n_shared"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_a"),
        col("n_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
