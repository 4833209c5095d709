package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Deduplication operators (north-star ★): exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup.
  *
  * Algorithms (public literature): MinHash resemblance sketches — Broder,
  * "On the resemblance and containment of documents" (1997); LSH banding —
  * Indyk & Motwani (1998) / Gionis et al., "Similarity Search in High
  * Dimensions via Hashing" (1999); SimHash — Charikar, "Similarity
  * estimation techniques from rounding algorithms" (2002), as deployed for
  * web-scale near-dup in Manku et al. (2007).
  *
  * Scale posture: every variant avoids the O(n²) all-pairs comparison by
  * generating candidates through a *selective equality join* — shingle match,
  * LSH band-bucket match, or hyperplane bucket match — so at 100 TB the work
  * is (scan + explode + hash-partition join on a high-cardinality key),
  * never a cross join. The brute-force paths exist only inside small
  * candidate buckets or as small-scale baselines.
  */
object DedupOps {

  /** Canonical-key (fuzzy-exact) dedup: normalize the text — lowercase,
    * strip non-alphanumerics, collapse whitespace — and keep the min
    * doc_id per normalized key. Catches case/punctuation/spacing variants
    * that byte-exact dedup misses, still with one hash-partition shuffle
    * on the derived key (the normalization is a narrow codegen'd map). */
  def dedupNormKey(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " ")).as("norm_key"))
      .groupBy(col("norm_key"))
      .agg(min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("n_variants"))
      .select(col("doc_id"), col("n_variants"), col("norm_key"))
      .orderBy(col("doc_id"))

  /** Incremental (batch-vs-corpus) dedup: drop new-batch documents whose
    * header fingerprint (md5 of the first 10 normalized tokens — the
    * title/lead key news dedup pipelines use) already exists in the
    * ingested corpus, and report the per-source new/duplicate funnel. The
    * batch is a ~6% md5-keyed slice of doc_id (the [[CorpusOps.sampleByHash]]
    * split style — decorrelated from every other column, unlike a doc_id
    * mod, which on this fixture correlates with `source`); the corpus is
    * everything else.
    *
    * Scale shape — the continuous-ingestion dedup a training pipeline runs
    * on every new crawl drop: the corpus side is huge and the batch small,
    * so a Bloom filter built distributed over the corpus fingerprints
    * ([[graft.functions.expressions.BloomContains]], a codegen'd probe that
    * rides the batch scan) splits the batch first. Rows the filter rules
    * out are DEFINITELY new — they skip the join entirely; only the ~fpp
    * "maybe" slice reaches the exact left-anti join that removes false
    * positives. Semantics stay exactly the plain anti join (the oracle IS
    * the plain NOT EXISTS), but at 100 TB the corpus-sized shuffle only
    * ever carries the few batch rows that might collide. */
  def dedupIncremental(spark: SparkSession, dir: String,
      bloomFpp: Double = graft.Tuning.BloomFpp): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    import graft.functions.SketchFunctions._
    val fp = md5(array_join(slice(tokensLower(col("text")), 1, 10), " "))
    // the bloom probe is integral-keyed, so the filter holds xxhash64(fp);
    // the EXACT anti join below still compares the full string fingerprint,
    // so a 64-bit hash collision can only cost a wasted join probe, never a
    // wrongly-dropped row
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), fp.as("fp"),
        xxhash64(fp).as("fph"),
        (substring(md5(col("doc_id").cast("string")), 1, 1) === "f")
          .as("is_batch"))
    val corpus = docs.filter(!col("is_batch"))
    val batch = Materialize(docs.filter(col("is_batch")))
    val bloom = corpus.stat.bloomFilter("fph",
      expectedNumItems = math.max(graft.Tuning.BloomMinItems, corpus.count()),
      fpp = bloomFpp)
    val bytes = serialize(bloom)
    val sureNew = batch.filter(!bloomMightContain(col("fph"), bytes))
    val maybeDup = batch.filter(bloomMightContain(col("fph"), bytes))
      .join(corpus.select(col("fp")), Seq("fp"), "left_anti")
    val kept = sureNew.select(col("source"))
      .unionByName(maybeDup.select(col("source")))
      .groupBy(col("source")).agg(count(lit(1)).as("n_new"))
    batch.groupBy(col("source")).agg(count(lit(1)).as("n_batch"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_batch"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        (col("n_batch") - coalesce(col("n_new"), lit(0L))).as("n_dup"),
        stableRound4((col("n_batch") - coalesce(col("n_new"), lit(0L)))
          / col("n_batch")).as("dup_rate"))
      .orderBy(col("source"))
  }

  /** Exact dedup: one surviving (min doc_id) representative per distinct
    * text. Hash-partition on `text` — the classic exact-dedup shuffle. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))

  /** (doc_id, shingle) exploded view of distinct word-3-gram shingles. */
  private def shingleSet(docs: DataFrame): DataFrame =
    Spread(docs).select(col("doc_id"),
      explode(shingles(tokensLower(col("text")))).as("shingle"))

  /** N-gram Jaccard near-dup: candidate pairs share ≥1 word-3-gram shingle;
    * Jaccard = |A∩B| / |A∪B| over the distinct shingle sets. Returns the
    * top-`k` most similar pairs (deterministic order). */
  def ngramJaccardTopPairs(docs: DataFrame, k: Int = 20): DataFrame = {
    // carry each doc's shingle count on every exploded row by computing
    // size(shingle array) BEFORE the explode — a pure narrow map, versus
    // the window-count formulation which shuffles the whole exploded set
    // by doc_id just to count it. The self-join then already holds |A|
    // and |B|, saving two join passes over the (re-computed) exploded set.
    // materialized: both sides of the self-join read this — without it the
    // scan+tokenize+explode chain executes twice. The join key is the
    // 8-byte xxhash64 of the shingle, not the ~25-byte string: narrower
    // materialized blocks, cheaper hash-table probes, less shuffle. |A|
    // and |B| stay TRUE counts (size() before hashing), so a 64-bit
    // collision could only nudge `shared` — probability ~n²/2⁶⁵, far
    // below any realistic corpus's noise floor.
    val ex = Materialize(
      Spread(docs)
        .select(col("doc_id"),
          shingles(tokensLower(col("text"))).as("sh"))
        .select(col("doc_id"), size(col("sh")).as("n"),
          explode(col("sh")).as("shingle"))
        .select(col("doc_id"), col("n"),
          xxhash64(col("shingle")).as("shingle")))
    // shuffle_hash, not sort-merge: both sides are exploded shingle rows —
    // sorting millions of ~25-byte strings costs more than building hash
    // tables, and the equality key is high-cardinality so buckets stay
    // small. Purely physical; same rows out. (A df>1 shingle pre-filter —
    // semi-joining out single-occurrence shingles before the self-join —
    // was measured ~25% SLOWER at sf0.1 and ~even at sf1: the two extra
    // shuffles outweigh the build/probe savings because unique shingles
    // already produce zero join output; don't re-add it.)
    ex.as("a").hint("shuffle_hash")
      .join(ex.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("shared"),
        max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
      .select(col("da"), col("db"),
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("da"), col("db"))
      .limit(k)
  }

  def dedupNgram(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardTopPairs(Tables.documents(spark, dir))

  /** N-gram Jaccard near-dup with a shingle DOCUMENT-FREQUENCY cap — the
    * production dial the sf10 spot gate measured (SCALE.md round-5): the
    * candidate self-join's output is Σ df(s)² over shingles s, so shared
    * boilerplate (headers, licenses, templates) with df in the thousands
    * dominates the join at large corpora even though it carries no dedup
    * signal. Dropping shingles with corpus df > `dfCap` bounds every
    * bucket at dfCap docs — candidates become ≤ dfCap · |distinct
    * shingles| instead of quadratic in the hottest bucket. Standard
    * practice in MinHash-LSH and suffix-array dedup pipelines (mask
    * ultra-frequent grams before candidate generation).
    *
    * Jaccard is computed over the SURVIVING shingle sets (|A|, |B|
    * recounted after the cap) so the score is internally consistent:
    * boilerplate stops generating candidates AND stops inflating the
    * union. Relative to [[ngramJaccardTopPairs]] this costs one df
    * aggregation (partial-aggregated on the already-exploded shingle key),
    * a broadcast anti-probe of the small heavy-shingle set riding the
    * exploded scan, and one doc-keyed recount.
    * (Distinct from the rejected df>1 LOWER-bound pre-filter documented
    * above, which saved nothing because unique shingles already join to
    * nothing — the UPPER bound removes real quadratic work.) */
  def ngramJaccardTopPairsCapped(docs: DataFrame, k: Int = 20,
      dfCap: Int = 16): DataFrame =
    jaccardFromSurvivors(cappedSurvivors(docs, dfCap), k)

  /** The shared candidate build of the capped shingle family: exploded
    * hashed 3-gram shingles with the df≤`dfCap` cap applied.
    *
    * Shingles are distinct within a doc, so COUNT(*) per shingle is its
    * document frequency. The cap is applied as a broadcast ANTI-join
    * against the HEAVY set (df > cap), not an equality join against the
    * rare set: heavy shingles are by construction the few shared
    * boilerplate grams (the df histogram's tail above the cap), so the
    * exploded fact table is filtered with a broadcast probe instead of
    * being shuffled a second time against a rare-set as large as itself.
    * At 100 TB the heavy set stays bounded by distinct-boilerplate volume,
    * not corpus size; if it outgrows the broadcast row budget,
    * capHeavyShingles automatically degrades to a shuffled anti-join. */
  private def cappedSurvivors(docs: DataFrame, dfCap: Int): DataFrame = {
    val ex = Materialize(
      Spread(docs)
        .select(col("doc_id"),
          explode(shingles(tokensLower(col("text")))).as("shingle")))
    // cap on the RAW shingle string (the oracle's HAVING key), THEN hash:
    // capping on the 60-bit key would merge the df counts of distinct
    // shingles that collide in 60 bits — invisible at test SFs, expected
    // at web scale. The md5-60 key (not xxhash64) is equally narrow
    // (8 bytes) for the downstream joins, and — because MinHash
    // signatures salt-hash the KEY's decimal string — reproducible in
    // the DuckDB oracle.
    Materialize(capHeavyShingles(ex, dfCap)
      .select(col("doc_id"),
        graft.functions.TextFunctions.md5Hash60(col("shingle"))
          .as("shingle")))
  }

  // session-scoped survivor cache: three declared queries (capped Jaccard,
  // containment, split leakage) consume the IDENTICAL capped shingle table
  // for a given (dir, dfCap) — build it once per session, like
  // GraphOps.basketsShared. Per-query bench times are therefore
  // first-payer-attributed (the first consumer pays the build), the same
  // established contract as the graph family.
  private val sharedCapped =
    new SessionCache[(SparkSession, String, Int), DataFrame]("dedup-capped")

  private[graft] def cappedSurvivorsShared(spark: SparkSession, dir: String,
      dfCap: Int = 16): DataFrame =
    sharedCapped.getOrBuild((spark, dir, dfCap))(
      cappedSurvivors(Tables.documents(spark, dir), dfCap))

  /** Pair candidates + set sizes from a (doc_id, shingle) survivor table:
    * one shuffle_hash self-join with map-side pair aggregation. */
  private def pairStats(surv: DataFrame): DataFrame = {
    val perDoc = surv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val sx = surv.join(perDoc, "doc_id")
    sx.as("a").hint("shuffle_hash")
      .join(sx.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("shared"),
        max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
  }

  private def jaccardFromSurvivors(surv: DataFrame, k: Int): DataFrame =
    pairStats(surv)
      .select(col("da"), col("db"),
        round(col("shared").cast("double")
          / (col("na") + col("nb") - col("shared")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("da"), col("db"))
      .limit(k)

  private def containmentFromSurvivors(surv: DataFrame, k: Int): DataFrame =
    pairStats(surv)
      .select(col("da"), col("db"), col("shared"),
        round(col("shared").cast("double")
          / least(col("na"), col("nb")), 4).as("containment"))
      .orderBy(col("containment").desc, col("da"), col("db"))
      .limit(k)

  /** q_ngram_containment: shingle CONTAINMENT top pairs — the asymmetric
    * companion to Jaccard. C(A,B) = |A∩B| / min(|A|,|B|) scores how fully
    * the smaller shingle set sits inside the larger one, which is the
    * right lens for quote/excerpt/superset duplication: a paragraph pasted
    * into a 100× longer page scores near 1.0 here while its Jaccard is
    * diluted to ~0.01 by the union. (Broder 1997 distinguishes resemblance
    * from containment for exactly this case.)
    *
    * Same candidate machinery as [[ngramJaccardTopPairsCapped]] — hashed
    * shingles, df≤`dfCap` broadcast anti-probe bounding every bucket, one
    * shuffle_hash self-join with map-side pair aggregation — so the scale
    * posture is the capped one (SCALE.md e≈0.55), not the uncapped
    * quadratic. Only the final scoring differs. */
  def ngramContainmentTopPairs(docs: DataFrame, k: Int = 20,
      dfCap: Int = 16): DataFrame =
    containmentFromSurvivors(cappedSurvivors(docs, dfCap), k)

  /** Declared-query wrapper on the session-shared survivor cache. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    containmentFromSurvivors(cappedSurvivorsShared(spark, dir), 20)

  /** The df-cap step of [[ngramJaccardTopPairsCapped]], exposed for the
    * plan audit: drop rows whose shingle has document frequency > `dfCap`
    * via a broadcast anti-probe of the (small) heavy set. */
  private[graft] def capHeavyShingles(ex: DataFrame, dfCap: Int,
      maxBroadcastRows: Long = 4_000_000L): DataFrame = {
    // The heavy set's size is DATA-dependent (a boilerplate-heavy corpus or
    // a low dfCap can blow it up), and a forced broadcast of an oversized
    // frame OOMs the driver instead of degrading. Materialize once (it is
    // needed for the probe anyway), count the checkpointed blocks (cheap),
    // and only hint broadcast under a row budget — beyond it the same
    // anti-join runs as a shuffled join, slower but never fatal.
    val heavy = Materialize(ex.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .select(col("shingle")))
    val probe =
      if (heavy.count() <= maxBroadcastRows) broadcast(heavy) else heavy
    ex.join(probe, Seq("shingle"), "left_anti")
  }

  /** Declared-query wrapper on the session-shared survivor cache. */
  def dedupNgramCapped(spark: SparkSession, dir: String): DataFrame =
    jaccardFromSurvivors(cappedSurvivorsShared(spark, dir), 20)

  /** Quality-aware exact dedup: group documents by whitespace-normalized
    * md5 fingerprint and keep the HIGHEST-quality copy (ties → lowest
    * doc_id) instead of [[dedupExact]]'s min-id survivor — the production
    * choice when duplicates differ in upstream cleanliness (the same text
    * scraped by two sources keeps whichever copy scores better, preserving
    * the better metadata chain). The argmax is one
    * `max(struct(score, -doc_id))` aggregation — no window over data, so
    * the per-group state is a single struct regardless of group size.
    * Quality is [[TextOps.qualityScore]]'s structural score, joined on
    * doc_id (one shuffle each side of the fingerprint agg). */
  def dedupSurvivor(spark: SparkSession, dir: String): DataFrame = {
    val fp = Tables.documents(spark, dir).select(col("doc_id"),
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"))
    val scored = TextOps.qualityScore(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    fp.join(scored, Seq("doc_id"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n_copies"),
        max(struct(col("quality_score").as("qs"),
          (-col("doc_id")).as("neg_id"))).as("best"))
      .select((-col("best.neg_id")).as("doc_id"), col("n_copies"),
        col("best.qs").as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** MinHash signatures: `numHashes` independent hash functions = the
    * salted md5-60 family; signature_i = min over the shingle set.
    * One groupBy with `numHashes` min-aggregates — map-side partial agg keeps
    * the shuffle at one row per doc. */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 32): DataFrame =
    minhashSignaturesFromShingles(shingleSet(docs), numHashes)

  /** MinHash signatures as a pure narrow map: the scalar
    * [[graft.functions.expressions.MinHashArray]] over each doc's shingle
    * array — no explode (×|shingles| rows) and no aggregation shuffle;
    * the signature stage becomes a scan. Same hash family as
    * [[minhashSignatures]], so outputs are interchangeable. */
  def minhashSignaturesScalar(docs: DataFrame, numHashes: Int = 32): DataFrame =
    Spread(docs).select(col("doc_id"),
      graft.functions.TextFunctions.minhashArray(
        shingles(tokensLower(col("text"))), numHashes).as("sig"))
      // shingle-less docs sign as NULL; drop them so the row set matches
      // the aggregate path (which never forms a group for them)
      .filter(col("sig").isNotNull)

  /** LSH banding: split the signature into `bands` bands of r rows; docs
    * agreeing on any whole band become candidate pairs. The join key
    * (band index, band values) is high-cardinality → near-linear shuffle.
    * The band key is the EXACT comma-joined value tuple, not a Murmur3
    * re-hash of the slice: candidates are then precisely the equal-band
    * pairs (no cross-engine hash-collision ambiguity), which is what lets
    * the DuckDB oracle reproduce the candidate set verbatim. ~r·20 bytes
    * per key vs 4 for a re-hash — noise next to the exploded band rows
    * themselves. */
  def minhashCandidates(sigs: DataFrame, bands: Int = 8,
      numHashes: Int = 32): DataFrame = {
    val banded = bandedSignatures(sigs, bands, numHashes)
    // shuffle_hash: high-cardinality (band, bkey) keys → small hash
    // buckets; skips sort-merge's sort of both exploded band sides
    banded.as("a").hint("shuffle_hash")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
  }

  /** Exploded LSH band table (doc_id, band, bkey) for a (doc_id, sig)
    * signature frame — the exact comma-joined value key (see
    * [[minhashCandidates]]). At scale the CORPUS side of this table IS
    * the incremental dedup index: built once, partitioned by (band,
    * bkey), probed by each new batch. */
  private def bandedSignatures(sigs: DataFrame, bands: Int,
      numHashes: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandStructs = (0 until bands).map { j =>
      struct(lit(j).as("band"),
        array_join(slice(col("sig"), j * r + 1, r).cast("array<string>"), ",")
          .as("bkey"))
    }
    sigs.select(col("doc_id"),
      explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** MinHash signatures from an already-exploded (doc_id, shingle) set —
    * lets callers that also need the raw shingles (Jaccard verification)
    * compute the explode once. */
  private def minhashSignaturesFromShingles(ex: DataFrame,
      numHashes: Int = 32): DataFrame = {
    // salted md5-60 family (MinHashFamily): same signatures as the scalar /
    // column paths on string shingles, and — the reason for md5 —
    // reproducible in DuckDB, so bandings built on these signatures are
    // oracle-checkable end to end. Hashed-long shingle keys participate
    // via their decimal string form (CAST(key AS VARCHAR) in the oracle).
    // Implemented as the [[graft.functions.expressions.MinHashSignature]]
    // TypedImperativeAggregate, NOT 32 `min(md5Salted60(...))` columns:
    // the aggregate runs one raw-digest pass per row into a primitive
    // long buffer, where the column form pays digest + hex-encode +
    // substring + conv allocations ×32 per row — the sf1 gate measured
    // that chain at 33 s on q_minhash_recall's 10× survivor table vs ~4 s
    // for the buffer path (identical results: MinHashAggSpec asserts the
    // two formulations agree bit-for-bit).
    import org.apache.spark.sql.GraftColumnBridge
    val sigCol = GraftColumnBridge.toColumn(
      graft.functions.expressions.MinHashSignature(
        GraftColumnBridge.toExpression(col("shingle").cast("string")),
        numHashes).toAggregateExpression())
    ex.groupBy(col("doc_id")).agg(sigCol.as("sig"))
  }

  /** Candidates verified with exact Jaccard over the shingle sets.
    *
    * Shape tuned for minimum shuffles: the per-doc shingle ARRAY is
    * materialized once (one narrow text pass); signatures come from the
    * shuffle-free scalar [[graft.functions.TextFunctions.minhashArray]]
    * over that array (no explode + 32-column min-aggregate); and
    * verification joins the candidate pairs back to the per-doc ARRAYS —
    * |A∩B| is a codegen'd `array_intersect` over two ~100-element distinct
    * arrays, NOT a re-explode of the corpus into |docs|·|shingles| rows
    * followed by an equality join and a counts aggregation (the round-3
    * shape: two exploded joins + one groupBy, all shuffling the exploded
    * set). Remaining shuffles: the LSH band self-join and two joins of the
    * (small) candidate list against the per-doc rows — AQE broadcasts the
    * candidate side at runtime. */
  def minhashVerifiedPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val arr = Materialize(
      Spread(docs).select(col("doc_id"),
        shingles(tokensLower(col("text"))).as("sh")))
    val sigs = arr
      .select(col("doc_id"),
        graft.functions.TextFunctions.minhashArray(col("sh"), 32).as("sig"))
      // shingle-less docs sign as NULL: no shingles → no candidates
      .filter(col("sig").isNotNull)
    val cands = minhashCandidates(sigs)
    jaccardVerifyPairs(cands, arr, arr, "da", "db", threshold)
  }

  /** Shared exact-Jaccard verification kernel for banded candidates: join
    * a candidate-pair frame (two doc-id columns) back to per-doc shingle
    * ARRAY tables (`doc_id`, `sh`) — one per side, the same frame for
    * self-join dedup, batch vs stored index for the standing-index
    * probe — and keep pairs whose exact
    * Jaccard meets the threshold. |A∩B| is a codegen'd `array_intersect`
    * over the two ~100-element distinct arrays — never a corpus
    * re-explode (see [[minhashVerifiedPairs]]'s shape note). Used by both
    * the self-join dedup path and the batch-vs-index incremental path. */
  private def jaccardVerifyPairs(cands: DataFrame, arrL: DataFrame,
      arrR: DataFrame, left: String, right: String,
      threshold: Double): DataFrame =
    cands
      .join(arrL.as("ea"), col(left) === col("ea.doc_id"))
      .join(arrR.as("eb"), col(right) === col("eb.doc_id"))
      .select(col(left), col(right),
        size(array_intersect(col("ea.sh"), col("eb.sh"))).as("shared"),
        size(col("ea.sh")).as("na"), size(col("eb.sh")).as("nb"))
      .select(col(left), col(right),
        (col("shared").cast("double")
          / (col("na") + col("nb") - col("shared"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** q_dedup_incr_near: incremental NEAR-dup — screen a new batch against
    * the EXISTING corpus with MinHash banding, the fuzzy companion of
    * [[dedupIncremental]] (which catches only first-10-token-exact
    * copies). This is the shape a production crawl pipeline actually
    * runs: the corpus's banded signature table is the standing dedup
    * INDEX (built once, `(band, bkey)`-partitioned, growing by appends),
    * and each day's batch probes it — a batch×index equality join, NEVER
    * a corpus self-join, so per-drop cost scales with the batch and the
    * matched buckets, not the corpus. Candidates verify with exact
    * Jaccard over the shingle arrays (the [[minhashVerifiedPairs]]
    * kernel, batch-vs-corpus); output is one row per batch doc: is_novel,
    * how many corpus near-dups it has, and the lowest-id match (−1 when
    * novel) — the router a curation pipeline keys on.
    *
    * Batch split is the same deterministic md5(doc_id) rule as
    * q_dedup_incr, and the whole query — salted md5-60 signatures,
    * exact-value band keys, Jaccard verify — is oracle-checked. */
  def dedupIncrNear(spark: SparkSession, dir: String,
      threshold: Double = 0.5, numHashes: Int = 32, bands: Int = 8)
      : DataFrame = {
    // Spread before the shingle+minhash stage: both are per-row-heavy
    // (32 hashes × |shingles| per doc) and would otherwise run fused to
    // the 1-2 splits a small input scans as; the checkpoint inherits the
    // fan-out, so the signature pass parallelizes too (identity at scale)
    val flagged = Spread(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        (substring(md5(col("doc_id").cast("string")), 1, 1) === "f")
          .as("is_batch"),
        shingles(tokensLower(col("text"))).as("sh"))
    val arr = Materialize(flagged)
    val sigs = arr.select(col("doc_id"), col("is_batch"),
      graft.functions.TextFunctions.minhashArray(col("sh"), numHashes)
        .as("sig"))
      .filter(col("sig").isNotNull)
    val batchBands = bandedSignatures(
      sigs.filter(col("is_batch")).select(col("doc_id"), col("sig")),
      bands, numHashes)
    val corpusBands = bandedSignatures(
      sigs.filter(!col("is_batch")).select(col("doc_id"), col("sig")),
      bands, numHashes)
    // shuffle_hash on the high-cardinality band key, batch side probing
    // the corpus index — at scale corpusBands is pre-partitioned storage
    val cand = batchBands.as("a").hint("shuffle_hash")
      .join(corpusBands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("bd"), col("b.doc_id").as("cd"))
      .distinct()
    val matches = jaccardVerifyPairs(cand, arr, arr, "bd", "cd", threshold)
      .groupBy(col("bd"))
      .agg(count(lit(1)).as("n_matches"), min(col("cd")).as("fm"))
    arr.filter(col("is_batch")).select(col("doc_id"))
      .join(matches, col("doc_id") === col("bd"), "left")
      .select(col("doc_id"),
        col("n_matches").isNull.as("is_novel"),
        coalesce(col("n_matches"), lit(0L)).as("n_corpus_matches"),
        coalesce(col("fm"), lit(-1L)).as("first_match"))
      .orderBy(col("doc_id"))
  }

  /** THE STANDING BAND INDEX on storage — the persisted form of
    * [[dedupIncrNear]]'s corpus side. [[bandIndexAppend]] signs a document
    * batch and APPENDS two parquet tables under `path`:
    *
    *   - `bands/`    (doc_id, bkey) partitioned by `band` — the LSH
    *     probe surface. Directory-partitioning on `band` (8 values) keeps
    *     the layout sane; at cluster scale the inner sort/bucketing key is
    *     `bkey` (high-cardinality), so a bucketed table on bkey makes the
    *     probe join entirely co-located — the local demo keeps plain
    *     parquet and lets the join shuffle on (band, bkey).
    *   - `shingles/` (doc_id, sh) — the exact-Jaccard verification
    *     payload, fetched only for candidate doc ids.
    *
    * [[bandIndexProbe]] then screens a new batch by signing ONLY the
    * batch, equality-joining its band rows against `bands/`, and
    * verifying candidates against `shingles/` — identical output contract
    * to [[dedupIncrNear]] (asserted equal in DedupSpec), but the corpus
    * is never re-signed: per-drop cost scales with the batch and the
    * matched buckets. Growing the corpus = appending the new batch's rows
    * (no rebuild, no compaction requirement — band partitions only gain
    * files). Probe-vs-rebuild timing at 10× is recorded in SCALE.md
    * (round 10). */
  def bandIndexAppend(docs: DataFrame, path: String,
      numHashes: Int = 32, bands: Int = 8,
      epoch: Option[Long] = None): Unit = {
    val arr = docs.select(col("doc_id"),
      shingles(tokensLower(col("text"))).as("sh"))
      // shingle-less docs sign as NULL and can never be candidates —
      // indexing them would only bloat the verification table
      .filter(size(col("sh")) > 0)
    val sigs = arr.select(col("doc_id"),
      graft.functions.TextFunctions.minhashArray(col("sh"), numHashes)
        .as("sig"))
    val bandRows = bandedSignatures(sigs, bands, numHashes)
    epoch match {
      case None =>
        // plain grow-by-appends (the nightly batch shape); an index must
        // stick to ONE mode — epoch and non-epoch layouts don't mix
        bandRows.write.mode("append").partitionBy("band")
          .parquet(s"$path/bands")
        arr.write.mode("append").parquet(s"$path/shingles")
      case Some(e) =>
        // EXACTLY-ONCE appends for streaming replays: rows land under
        // epoch=<micro-batch id>, and dynamic partition overwrite makes a
        // replayed epoch replace precisely its own partitions — the same
        // idempotence recipe as Structured Streaming's file-sink manifest,
        // expressed in the table layout so plain parquet readers see it
        val sp = docs.sparkSession
        val key = "spark.sql.sources.partitionOverwriteMode"
        val prev = sp.conf.get(key, "static")
        sp.conf.set(key, "dynamic")
        try {
          bandRows.withColumn("epoch", lit(e))
            .write.mode("overwrite").partitionBy("epoch", "band")
            .parquet(s"$path/bands")
          arr.withColumn("epoch", lit(e))
            .write.mode("overwrite").partitionBy("epoch")
            .parquet(s"$path/shingles")
        } finally sp.conf.set(key, prev)
    }
  }

  /** Probe the standing index at `path` with a (doc_id, text) batch: one
    * row per batch doc (is_novel, n_corpus_matches, first_match), the
    * exact [[dedupIncrNear]] contract.
    *
    * `maxEpochExclusive`: replay-idempotence fence for the streaming
    * front door ([[graft.streaming.CorpusStreamOps.startBandIndexStream]]).
    * A micro-batch can crash AFTER its [[bandIndexAppend]] committed but
    * BEFORE the checkpoint did; the replayed batch then probes an index
    * that already contains its own epoch partitions, every doc matches
    * itself at Jaccard 1.0, and the re-emitted verdicts contradict the
    * originals (is_novel flips, first_match points into the same batch).
    * Passing the batch's epochId here filters the epoch-partitioned
    * bands/shingles reads to `epoch < epochId`, so a replay probes
    * exactly the pre-batch index and re-emitted verdicts are bitwise
    * duplicates, dedupable by doc_id as the sink contract promises. On a
    * non-epoch (batch-mode) index the stored rows carry no epoch column
    * and are treated as epoch −1: always visible. Partition pruning makes
    * the fence free — excluded epochs are never scanned. Building the
    * probe runs one job, the batch's [[Materialize]]: the index tables are
    * read with known schemas ([[bandIndexTables]]). */
  def bandIndexProbe(spark: SparkSession, path: String, batch: DataFrame,
      threshold: Double = 0.5, numHashes: Int = 32, bands: Int = 8,
      maxEpochExclusive: Option[Long] = None): DataFrame = {
    def epochFenced(df: DataFrame): DataFrame = maxEpochExclusive match {
      case Some(e) if df.columns.contains("epoch") =>
        df.filter(col("epoch") < lit(e))
      case _ => df
    }
    val barr = Materialize(batch.select(col("doc_id"),
      shingles(tokensLower(col("text"))).as("sh")))
    val bsigs = barr.select(col("doc_id"),
      graft.functions.TextFunctions.minhashArray(col("sh"), numHashes)
        .as("sig"))
      .filter(col("sig").isNotNull)
    val bbands = bandedSignatures(bsigs, bands, numHashes)
    val (storedBands, storedShingles) = bandIndexTables(spark, path)
    val ibands = epochFenced(storedBands)
    // batch side probes the stored index; shuffle_hash for the same
    // reason as dedupIncrNear (high-cardinality equality key)
    val cand = bbands.as("a").hint("shuffle_hash")
      .join(ibands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
      .select(col("a.doc_id").as("bd"), col("b.doc_id").as("cd"))
      .distinct()
    val ish = epochFenced(storedShingles)
    val matches = jaccardVerifyPairs(cand, barr, ish, "bd", "cd", threshold)
      .groupBy(col("bd"))
      .agg(count(lit(1)).as("n_matches"), min(col("cd")).as("fm"))
    barr.select(col("doc_id"))
      .join(matches, col("doc_id") === col("bd"), "left")
      .select(col("doc_id"),
        col("n_matches").isNull.as("is_novel"),
        coalesce(col("n_matches"), lit(0L)).as("n_corpus_matches"),
        coalesce(col("fm"), lit(-1L)).as("first_match"))
      .orderBy(col("doc_id"))
  }

  /** The index's `bands` and `shingles` tables, read with their known
    * schemas: inferring them from parquet footers runs a Spark job per
    * table on every probe, since a streamed index's listing changes with
    * each append. An epoch-partitioned index is told apart by the
    * `epoch=` children of `bands/`, a listing that runs no job; partition
    * columns are typed as partition inference types them. */
  private[operators] def bandIndexTables(spark: SparkSession,
      path: String): (DataFrame, DataFrame) = {
    val bandsDir = new org.apache.hadoop.fs.Path(s"$path/bands")
    val epochs = bandsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(bandsDir)
      .exists(f => f.isDirectory && f.getPath.getName.startsWith("epoch="))
    def read(table: String, fields: StructField*) = spark.read
      .schema(StructType(
        if (epochs) fields :+ StructField("epoch", IntegerType) else fields))
      .parquet(s"$path/$table")
    (read("bands", StructField("doc_id", LongType),
        StructField("bkey", StringType), StructField("band", IntegerType)),
      read("shingles", StructField("doc_id", LongType),
        StructField("sh", ArrayType(StringType))))
  }

  /** q_minhash_recall: LSH banding calibration audit — for each banding of
    * the 32-hash signature (4×8, 8×4, 16×2), measure the candidate set
    * against the EXACT Jaccard-≥-τ pair list and report measured recall /
    * precision next to the theoretical S-curve detection probability
    * 1−(1−τ^r)^b. This is the index-health companion to q_dedup_minhash
    * (as q_ivf_balance is to q_sim_ivf): banding choice is THE
    * cost/recall dial of MinHash dedup at 100 TB, and the right setting is
    * corpus-dependent — this query turns it into a measured decision.
    *
    * Truth and signatures both come from the SAME df-capped shingle
    * survivor table (the declared primary dedup machinery, shared cache),
    * so the audit compares banding choices on identical set semantics;
    * candidate generation per banding is the q_dedup_minhash band join
    * re-run at that (b, r); everything downstream of the band joins is
    * |pairs|-sized semi-joins + 1-row count crosses. Oracle-checked since
    * the round-9 md5-60 port: the salted-md5 signature family and the
    * exact-value band keys are both reproducible in DuckDB SQL, so the
    * whole audit (truth set, three candidate sets, recall/precision)
    * hash-matches; DedupSpec additionally pins recall monotonicity in b,
    * the detected ⊆ candidates ∩ truth containment, and exact agreement
    * of the measured sets with a driver-recomputed reference on the
    * fixture. The theoretical S-curve value is computed on the driver and
    * inlined as a literal in BOTH engines, so it can never diverge by a
    * pow() ulp. */
  def minhashRecallAudit(spark: SparkSession, dir: String,
      tau: Double = 0.5, numHashes: Int = 32): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val surv = cappedSurvivorsShared(spark, dir)
    val truth = Materialize(pairStats(surv)
      .filter(col("shared").cast("double")
        / (col("na") + col("nb") - col("shared")) >= tau)
      .select(col("da"), col("db")))
    val sigs = Materialize(minhashSignaturesFromShingles(surv, numHashes))
    // round 16: ONE band-tagged self-join + ONE aggregation for all three
    // bandings, replacing three explode+join pipelines with three 1-row
    // count aggregates each (9 jobs → 2 over the same exploded volume).
    // The (bands, band, bkey) key space is the disjoint union of the
    // per-banding key spaces, so the tagged join produces exactly the
    // union of the three candidate sets; truth is |pairs|-sized and
    // broadcast, so detection folds into the same aggregation as the
    // candidate count instead of a separate semi-join per banding.
    val bandings = Seq(4, 8, 16)
    val tagged = bandings.map { b =>
        bandedSignatures(sigs, b, numHashes)
          .select(lit(b).as("bands"), col("doc_id"), col("band"), col("bkey"))
      }.reduce(_ unionAll _)
    val cands = tagged.as("a").hint("shuffle_hash")
      .join(tagged.as("b"),
        col("a.bands") === col("b.bands")
          && col("a.band") === col("b.band")
          && col("a.bkey") === col("b.bkey")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.bands").as("bands"),
        col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val stats = cands
      .join(broadcast(truth.select(col("da"), col("db"), lit(1L).as("__t"))),
        Seq("da", "db"), "left")
      .groupBy(col("bands"))
      .agg(count(lit(1)).as("n_cand"),
        sum(coalesce(col("__t"), lit(0L))).as("n_detected"))
    // a banding with ZERO candidates must still emit its row (the old
    // shape's 1-row count aggregates always did) — drive the output from
    // the static banding list and coalesce the measured counts
    import spark.implicits._
    val meta = bandings.map { b =>
      val r = numHashes / b
      (b, r, 1.0 - math.pow(1.0 - math.pow(tau, r), b))
    }.toDF("bands", "rows_per_band", "__theory")
    meta.join(stats, Seq("bands"), "left")
      .crossJoin(truth.agg(count(lit(1)).as("n_true")))
      .select(col("bands"), col("rows_per_band"),
        col("n_true"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_detected"), lit(0L)).as("n_detected"),
        stableRound4(coalesce(col("n_detected"), lit(0L)).cast("double")
          / greatest(col("n_true"), lit(1L))).as("recall"),
        stableRound4(coalesce(col("n_detected"), lit(0L)).cast("double")
          / greatest(coalesce(col("n_cand"), lit(0L)), lit(1L)))
          .as("precision"),
        stableRound4(col("__theory")).as("theory_recall"))
      .orderBy(col("bands"))
  }

  /** Distributed connected components over an undirected edge list
    * (label-propagation to the minimum reachable id). Each iteration is one
    * join + one aggregation — all distributed; the driver only checks
    * convergence. Near-dup graphs converge in a handful of iterations
    * (components are short chains), so `maxIter` is a safety bound. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
      forceDistributed: Boolean = false,
      localUnionFindMaxEdges: Long = graft.Tuning.LocalUnionFindMaxEdges)
      : DataFrame = {
    // materialize the DIRECTED edge list first, then symmetrize by reading
    // the materialized blocks twice: symmetrizing the raw plan would run
    // the full upstream edges pipeline (in dedupClusters, the whole
    // MinHash+verify DAG) once per union branch, and again every iteration
    // inside the viaNeighbors join
    val e = Materialize(edges.select(col("src"), col("dst")))
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    // Size-adaptive dispatch (the same shape as GraphFrames' CC broadcast
    // threshold): the edge list is candidate PAIRS, orders of magnitude
    // smaller than the corpus — when it fits comfortably on the driver,
    // local union-find finishes in milliseconds instead of paying 3-4
    // shuffle stages per label-propagation round. The threshold bounds
    // driver memory (see LocalUnionFindMaxEdges); genuinely large graphs
    // take the distributed loop below. The count is a local scan of the
    // materialized blocks. The local path casts node ids through Long, so
    // it is only safe for integral key types — anything else (string ids,
    // decimals) would cast to null and silently collapse unrelated nodes
    // into one component; those routes take the distributed loop, which is
    // type-agnostic.
    val integralKey = sym.schema("src").dataType match {
      case org.apache.spark.sql.types.ByteType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (!forceDistributed && integralKey
        && e.count() * 2 <= localUnionFindMaxEdges)
      return localUnionFind(sym)
    var labels = Materialize(
      sym.select(col("src").as("node")).distinct()
        .withColumn("comp", col("node")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val viaNeighbors = sym
        .join(labels, sym("dst") === labels("node"))
        .select(sym("src").as("node"), col("comp"))
      // pointer jumping (path halving) against the PREVIOUS iteration's
      // materialized labels: adopting our representative's last-known label
      // still gives O(log chain) convergence, and joining against the
      // already-materialized `labels` avoids a second materialization of a
      // self-joined plan. The previous label rides along as `prev`, so the
      // convergence check is a cheap filter-count on the materialized
      // result — not an extra join job per iteration.
      val next = Materialize(
        labels.select(col("node"), col("comp"), col("comp").as("prev"))
          .union(viaNeighbors
            .select(col("node"), col("comp"),
              lit(null).cast(labels.schema("comp").dataType).as("prev")))
          .groupBy(col("node"))
          .agg(min(col("comp")).as("comp"), max(col("prev")).as("prev"))
          .join(labels.select(col("node").as("rep"),
            col("comp").as("rep_comp")),
            col("comp") === col("rep"), "left")
          .select(col("node"),
            least(col("comp"), coalesce(col("rep_comp"), col("comp")))
              .as("comp"),
            col("prev")))
      val changed = next.filter(col("comp") =!= col("prev")).count()
      labels = next.select(col("node"), col("comp"))
      converged = changed == 0
      i += 1
    }
    // returning partially-propagated labels would be silently wrong
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge within $maxIter iterations")
    labels
  }

  // The edge-count bound for the driver-local CC path lives in
  // [[graft.Tuning.LocalUnionFindMaxEdges]] with the other scale dials
  // (measured rationale there); connectedComponents takes it as a
  // default parameter value.

  /** Driver-local union-find with path compression over a (small,
    * symmetrized) edge list. Same output contract as the distributed loop:
    * (node, comp) with comp = min node id reachable. */
  private def localUnionFind(sym: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val pairs = sym.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // union by min id keeps the min-comp contract exact
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val keyType = sym.schema("src").dataType
    parent.keys.toSeq.sorted
      .map(n => (n, find(n)))
      .toDF("node", "comp")
      // match the distributed branch's schema for non-long node ids
      .select(col("node").cast(keyType).as("node"),
        col("comp").cast(keyType).as("comp"))
  }

  /** Recall-1 verified near-dup pairs: candidates are pairs sharing ≥ 1
    * word-3-gram shingle — any pair with Jaccard > 0 shares a shingle, so
    * (unlike MinHash banding) NO true pair above any positive threshold can
    * be missed — verified with exact Jaccard over the distinct shingle
    * sets. Deterministic and engine-independent, which is what lets the
    * full clustering query carry a DuckDB oracle.
    *
    * Same plan shape as [[ngramJaccardTopPairs]] (materialized hashed
    * shingle explode + shuffle-hash equality self-join + one aggregation):
    * candidate volume is Σ_shingle df(shingle)², bounded in practice
    * because 3-gram shingles are highly selective; a corpus with
    * pathological boilerplate shingles would cap shingle document
    * frequency first (the same guard the basket cap provides in
    * [[GraphOps.copurchaseEdges]]). The MinHash-banded
    * [[minhashVerifiedPairs]] remains the tunable-cost path when even the
    * shingle join is too hot. */
  def shingleVerifiedPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val ex = Materialize(
      Spread(docs)
        .select(col("doc_id"),
          shingles(tokensLower(col("text"))).as("sh"))
        .select(col("doc_id"), size(col("sh")).as("n"),
          explode(col("sh")).as("shingle"))
        .select(col("doc_id"), col("n"),
          xxhash64(col("shingle")).as("shingle")))
    ex.as("a").hint("shuffle_hash")
      .join(ex.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("shared"),
        max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
      // one IEEE double division on both engines — bit-identical, so the
      // threshold cut needs no rounding to agree with the oracle
      .filter(col("shared").cast("double")
        / (col("na") + col("nb") - col("shared")) >= threshold)
      .select(col("da"), col("db"))
  }

  /** Declared query: full transitive near-dup clustering over the corpus.
    * One row per doc with its cluster id; survivors = rows where doc_id ==
    * cluster_id. Oracle-checked end to end: the recall-1
    * [[shingleVerifiedPairs]] edge set is plain SQL, and the min-label
    * fixpoint of [[connectedComponents]] equals the min reachable id — in
    * DuckDB, `min(r)` over the transitive closure computed by a recursive
    * CTE. The MinHash-LSH clustering ([[dedupClusters]]) stays the
    * bounded-cost variant for corpora where exact candidates run hot, with
    * its recall pinned differentially in ClusterDedupSpec. */
  def dedupClustersQuery(spark: SparkSession, dir: String): DataFrame =
    dedupClustersExact(Tables.documents(spark, dir), 0.5)
      .orderBy(col("doc_id"))

  /** [[dedupClusters]] with the recall-1 exact candidate generator —
    * identical output contract, engine-independent edge set. */
  def dedupClustersExact(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val pairs = shingleVerifiedPairs(docs, threshold)
      .select(col("da").as("src"), col("db").as("dst"))
    val comps = connectedComponents(pairs)
    docs.select(col("doc_id"))
      .join(comps, docs("doc_id") === comps("node"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
  }

  /** Full near-dup clustering: MinHash+LSH candidate pairs, exact-Jaccard
    * verification, then connected components so transitive chains (A≈B,
    * B≈C) collapse into one cluster — the complete corpus-dedup operator:
    * keep min(doc_id) per component. */
  def dedupClusters(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val pairs = minhashVerifiedPairs(docs, threshold)
      .select(col("da").as("src"), col("db").as("dst"))
    val comps = connectedComponents(pairs)
    docs.select(col("doc_id"))
      .join(comps, docs("doc_id") === comps("node"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
  }

  /** Declared MinHash query: per-doc near-dup cluster representative =
    * min(doc_id) among {self} ∪ verified neighbors (Jaccard ≥ 0.5). Docs
    * with no near-dup keep themselves — output is always |documents| rows,
    * deterministic. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = minhashVerifiedPairs(docs, 0.5)
    val edges = pairs.select(col("da").as("doc_id"), col("db").as("nbr"))
      .union(pairs.select(col("db").as("doc_id"), col("da").as("nbr")))
    docs.select(col("doc_id"))
      .join(edges, Seq("doc_id"), "left")
      .groupBy(col("doc_id"))
      .agg(
        least(min(col("nbr")), col("doc_id").cast("long")).as("cluster_rep"),
        sum(when(col("nbr").isNotNull, 1L).otherwise(0L)).as("n_near_dups"))
      .orderBy(col("doc_id"))
  }

  /** 60-bit SimHash over the token multiset: per bit j, sum +1/−1 votes from
    * each token hash's bit j; bit j of the signature = sign of the vote.
    * One groupBy with 60 small integer aggregates (all codegen'd). The
    * per-token hash is the engine-portable md5-60
    * ([[graft.functions.TextFunctions.md5Hash60]]), so the signature — and
    * everything banded on it — has an exact DuckDB oracle twin. Kept as
    * the differential baseline for [[simhashSignaturesScalar]], which is
    * bit-identical (same md5-60 family, exact integer votes) without the
    * explode or the aggregation shuffle. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    val bits = graft.functions.expressions.SimHashArray.Bits
    val toks = Spread(docs).select(col("doc_id"),
      explode(tokensLower(col("text"))).as("tok"))
      .withColumn("h", graft.functions.TextFunctions.md5Hash60(col("tok")))
    val votes = (0 until bits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1L) === 1L, 1)
        .otherwise(-1)).as(s"v_$j"))
    val sig = (0 until bits)
      .map(j => when(col(s"v_$j") > 0, shiftleft(lit(1L), j)).otherwise(0L))
      .reduce(_.bitwiseOR(_))
    toks.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash as a pure narrow map: the scalar
    * [[graft.functions.expressions.SimHashArray]] over each doc's token
    * array — no explode (×|tokens| rows) and no 64-column aggregation
    * shuffle; the signature stage becomes a scan. Same md5-60 family and
    * integer votes as [[simhashSignatures]], so outputs are bit-identical
    * (asserted in DedupSpec). */
  def simhashSignaturesScalar(docs: DataFrame): DataFrame =
    Spread(docs).select(col("doc_id"),
      graft.functions.TextFunctions
        .simhashArray(tokensLower(col("text"))).as("simhash"))
      // token-less docs sign as NULL; drop them so the row set matches the
      // aggregate path (which never forms a group for them)
      .filter(col("simhash").isNotNull)

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashSignaturesScalar(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** SimHash near-dup PAIRS via Hamming-band candidates — the second half
    * of the Manku et al. (2007) web-dedup recipe (the first half,
    * signatures, is [[simhashSignaturesScalar]]): split each 60-bit
    * signature into 4 bands of 15 bits; any pair within Hamming distance
    * ≤ 3 differs in at most 3 bits, so by pigeonhole at least one band is
    * IDENTICAL — the band-equality self-join is therefore an *exact*
    * candidate generator for the ≤ 3 threshold, not an approximation
    * (asserted against all-pairs ground truth in DedupSpec). Verification
    * is one codegen'd `bit_count(xor)` per candidate.
    *
    * Scale shape: signatures are a narrow scan; the self-join key
    * (band, 15-bit chunk) has up to 4·2¹⁵ distinct values per band set —
    * selective enough that buckets stay small on real (non-degenerate)
    * corpora; never an all-pairs compare. Note the honest web-scale limit:
    * 2¹⁵ buckets per band caps out around 10⁸ docs (E|bucket| ≈ n/2¹⁵, and
    * within-bucket work is quadratic); past that the paper's own recipe
    * applies — widen the fingerprint (128-bit SimHash) so band chunks carry
    * ≥ log₂(n)+Δ bits, which is a signature-width change here, not a join-
    * shape change. */
  def simhashHammingPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingBandPairs(Materialize(simhashSignaturesScalar(docs))
      .select(col("doc_id"), col("simhash").as("sig")), maxHamming)

  /** The Hamming-band pair kernel shared by [[simhashHammingPairs]] and
    * [[MultimodalOps.phashDedup]]: band any (doc_id, sig) 60-bit
    * fingerprint table into 4×15-bit chunks, self-join on band equality,
    * verify with one codegen'd `bit_count(xor)` per candidate. Exact for
    * Hamming ≤ 3 by the pigeonhole argument above. */
  private[operators] def hammingBandPairs(sigs: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 bands of 15 bits are exact only up to Hamming 3")
    val bandStructs = (0 until 4).map { j =>
      struct(lit(j).as("band"),
        shiftright(col("sig"), j * 15).bitwiseAND(0x7FFFL).as("bkey"))
    }
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("sig"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    // shuffle_hash: exploded band rows on both sides, high-cardinality key
    banded.as("a").hint("shuffle_hash")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig")))
          .as("hamming"))
      // a pair sharing k bands appears k times; hamming is a pure function
      // of the pair, so distinct() collapses them without an aggregation
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("hamming"), col("da"), col("db"))
  }

  /** Declared query — oracle-checked since the round-9 md5-60 port (the
    * signature family and 15-bit band keys are plain SQL); DedupSpec
    * additionally proves exact equality with all-pairs Hamming ground
    * truth on the fixture. */
  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashHammingPairs(Tables.documents(spark, dir))

  /** Head of the bounded top-`k` heaps = worst kept pair under the output
    * order (cos desc, va asc, vb asc). */
  private val pairByWorse: Ordering[(Double, Long, Long)] =
    new Ordering[(Double, Long, Long)] {
      def compare(x: (Double, Long, Long), y: (Double, Long, Long)): Int = {
        val c = java.lang.Double.compare(y._1, x._1)
        if (c != 0) c
        else {
          val a = java.lang.Long.compare(x._2, y._2)
          if (a != 0) a else java.lang.Long.compare(x._3, y._3)
        }
      }
    }

  /** Offer a candidate pair to a bounded top-`k` heap with the contract
    * arithmetic: sequential-fold doubles in, exact HALF_UP BigDecimal
    * rounding to 4 decimals (same as Spark/DuckDB `round`), and a prune
    * that skips the (expensive) BigDecimal path when the raw cosine
    * provably rounds below the worst kept value. Non-finite cosines
    * (zero-norm vectors) are skipped — matching the expression path, where
    * division by zero yields NULL and the row sorts last. */
  private def offerPair(
      pq: scala.collection.mutable.PriorityQueue[(Double, Long, Long)],
      k: Int, c: Double, ia: Long, ib: Long): Unit = {
    if (java.lang.Double.isFinite(c)
        && (pq.size < k || c >= pq.head._1 - 0.00006)) {
      val r = scala.math.BigDecimal(c)
        .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      val cand = if (ia < ib) (r, ia, ib) else (r, ib, ia)
      if (pq.size < k) pq.enqueue(cand)
      else if (pairByWorse.compare(cand, pq.head) < 0) {
        pq.dequeue(); pq.enqueue(cand)
      }
    }
  }

  /** Number of id-hash blocks in the distributed exact all-pairs loop. A
    * task holds at most two blocks (2·n/B vectors) and shuffle volume is
    * n·B replicated rows, so B ≈ sqrt(n·rowBytes / taskMemBudget) balances
    * task memory against shuffle at scale; 16 keeps a task's working set in
    * the low hundreds of MB up to ~50M vectors of dim 64 while replicating
    * the table only 16×. */
  val EmbedPairBlocks: Int = 16

  /** Embedding-cosine near-dup: the exact top-`k` most similar vector
    * pairs, as a DISTRIBUTED blocked all-pairs pass.
    *
    * Exact all-pairs top-k over unstructured vectors is inherently Ω(n²)
    * comparisons (LSH/IVF candidates can't guarantee the true top-k on
    * low-similarity corpora, and this query's oracle is the exact answer);
    * the scalable formulation is the classic block-pair decomposition:
    * hash every vector to one of B id-blocks, replicate each vector to the
    * B (block, partner-block) groups it participates in, and run the
    * primitive-float pair kernel independently inside each of the
    * B(B+1)/2 groups. No driver collect, no broadcast of the table: each
    * task's working set is two blocks (2n/B vectors) and the only shuffle
    * is the n·B-row replication — both tunable via `numBlocks`. Each group
    * keeps a bounded top-`k` heap ordered exactly like the final sort, so
    * only O(B²·k) rows reach the global TakeOrderedAndProject.
    *
    * The kernel runs the same arithmetic as the expression path
    * ([[graft.functions.expressions.VectorDotProduct]] + Spark `round`):
    * sequential left-to-right double folds and HALF_UP BigDecimal rounding,
    * so results hash-match the declared-query oracle bit-for-bit. The
    * APPROXIMATE scale paths ([[embeddingNearDupLsh]], IVF) remain the
    * right tool when the quadratic compare itself is unaffordable. */
  def embeddingTopPairs(emb: DataFrame, k: Int = 20,
      numBlocks: Int = EmbedPairBlocks): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val B = numBlocks
    val ds = emb
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
    // replicate each vector to every (lo ≤ hi) block pair it belongs to;
    // the diagonal (b, b) pair is emitted exactly once
    val replicated = ds.flatMap { case (id, v) =>
      val b = java.lang.Math.floorMod(id, B.toLong).toInt
      (0 until B).map { o =>
        val key = if (o < b) o * B + b else b * B + o
        (key, id, v)
      }
    }
    val partial = replicated
      .groupByKey(_._1)
      .flatMapGroups { (key: Int, it: Iterator[(Int, Long, Array[Float])]) =>
        val lo = key / B; val hi = key % B
        val rows = it.toArray
        def block(b: Int): (Array[Long], Array[Array[Float]], Array[Double]) = {
          val rs = rows.filter(r =>
            java.lang.Math.floorMod(r._2, B.toLong).toInt == b).sortBy(_._2)
          val ids = rs.map(_._2)
          val embs = rs.map(_._3)
          val nrms = embs.map { v =>
            var s = 0.0; var i = 0
            while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
            math.sqrt(s)
          }
          (ids, embs, nrms)
        }
        val (aIds, aEmbs, aNrms) = block(lo)
        val (bIds, bEmbs, bNrms) =
          if (lo == hi) (aIds, aEmbs, aNrms) else block(hi)
        val pq = scala.collection.mutable.PriorityQueue
          .empty[(Double, Long, Long)](pairByWorse)
        var i = 0
        while (i < aIds.length) {
          val vi = aEmbs(i); val ni = aNrms(i); val idi = aIds(i)
          var j = if (lo == hi) i + 1 else 0
          while (j < bIds.length) {
            val vj = bEmbs(j)
            var dot = 0.0; var d = 0
            while (d < vi.length) { dot += vi(d).toDouble * vj(d).toDouble; d += 1 }
            offerPair(pq, k, dot / (ni * bNrms(j)), idi, bIds(j))
            j += 1
          }
          i += 1
        }
        pq.iterator
      }
      .toDF("cos_sim", "va", "vb")
    partial
      .select(col("va"), col("vb"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("va"), col("vb"))
      .limit(k)
  }

  /** Driver-local variant of [[embeddingTopPairs]]: collect + broadcast the
    * whole table, round-robin the triangular loop over row indices. TEST
    * BASELINE ONLY — it requires every vector on the driver, so it caps out
    * where the driver heap does; the declared query runs the blocked
    * distributed pass above, and ScaleSpec proves the two agree exactly. */
  def embeddingTopPairsLocal(emb: DataFrame, k: Int = 20): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<float>"))
      .as[(Long, Array[Float])]
      .collect()
      .sortBy(_._1)
    val n = vecs.length
    val ids = vecs.map(_._1)
    val embs = vecs.map(_._2)
    val nrms = embs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val bc = spark.sparkContext.broadcast((ids, embs, nrms))
    spark.range(n.toLong)
      .repartition(spark.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions { it =>
        val (bIds, bEmbs, bNrms) = bc.value
        val m = bIds.length
        val pq = scala.collection.mutable.PriorityQueue
          .empty[(Double, Long, Long)](pairByWorse)
        it.foreach { iL =>
          val i = iL.toInt
          val vi = bEmbs(i); val ni = bNrms(i); val idi = bIds(i)
          var j = i + 1
          while (j < m) {
            val vj = bEmbs(j)
            var dot = 0.0; var d = 0
            while (d < vi.length) { dot += vi(d).toDouble * vj(d).toDouble; d += 1 }
            offerPair(pq, k, dot / (ni * bNrms(j)), idi, bIds(j))
            j += 1
          }
        }
        pq.iterator
      }
      .toDF("cos_sim", "va", "vb")
      .select(col("va"), col("vb"), col("cos_sim"))
      .orderBy(col("cos_sim").desc, col("va"), col("vb"))
      .limit(k)
  }

  def dedupEmbed(spark: SparkSession, dir: String): DataFrame =
    embeddingTopPairs(Tables.embeddings(spark, dir))

  /** Declared query for the LSH-bucketed near-dup scale path.
    * Oracle-proven since round 9: the fixed-seed hyperplanes are double
    * literals, so the bucket structure is plain SQL
    * (SparkEntry.embedBucketCtes) and the pair set hash-matches DuckDB;
    * ScaleSpec keeps the subset-of-brute-force property as a quality pin.
    * Threshold/planes tuned so the near-random test embeddings (max pair
    * cosine ≈ 0.51) still produce candidate pairs at every SF. */
  def dedupEmbedLsh(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupLsh(Tables.embeddings(spark, dir), 0.25, numPlanes = 6)

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): cluster the
    * embeddings with k-means, compare pairs only WITHIN a cluster, and
    * drop every vector that has an earlier (lower-id) same-cluster
    * neighbor with cosine ≥ `threshold` — semantic dedup, catching
    * paraphrases that byte/shingle dedup can't see. Output is one row per
    * vector: (vec_id, keep, n_earlier_dups), deterministic given the
    * deterministic k-means in [[IvfOps]].
    *
    * Scale shape — exactly the paper's: the within-cluster all-pairs
    * compare is the algorithm (clustering exists to bound it), so cluster
    * count must grow with the corpus (the paper uses 50k clusters for
    * LAION-440M; rule of thumb k ≈ √n keeps E|cell|² ≈ n). The join is an
    * equality join on centroid_id — hash-partitioned, never a global cross
    * product; one cell's pairs never leave one task. */
  def semDedup(emb: DataFrame, threshold: Double = 0.25,
      numClusters: Int = IvfOps.DefaultK): DataFrame = {
    val e = Materialize(emb)
    val (_, assigned) = IvfOps.trainIndex(e, numClusters)
    semDedupFromAssigned(e, assigned, threshold)
  }

  /** The within-cluster compare + keep/drop labeling over a PRE-BUILT
    * inverted list — split out (round 15) so the declared query can ride
    * the session-shared IVF trainer ([[IvfOps.trainIndexShared]]) instead
    * of re-running the Lloyd scans six other queries already paid for. */
  private def semDedupFromAssigned(e: DataFrame, assigned: DataFrame,
      threshold: Double): DataFrame = {
    val a = assigned.select(col("centroid_id"), col("vec_id"),
      col("embedding"), l2Norm(col("embedding")).as("nrm"))
    val earlierDups = a.as("a").join(a.as("b"),
        col("a.centroid_id") === col("b.centroid_id")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"),
        round(cosine(dotProduct(col("a.embedding"), col("b.embedding")),
          col("a.nrm"), col("b.nrm")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_earlier_dups"))
    e.select(col("vec_id"))
      .join(earlierDups, Seq("vec_id"), "left")
      .select(col("vec_id"),
        col("n_earlier_dups").isNull.as("keep"),
        coalesce(col("n_earlier_dups"), lit(0L)).as("n_earlier_dups"))
      .orderBy(col("vec_id"))
  }

  /** Declared query — oracle-proven since round 8 (the k-means is
    * expressed in DuckDB via SparkEntry.lloydCtes' unrolled-Lloyd CTE);
    * DedupSpec additionally proves every dropped vector has a genuine
    * lower-id near-dup under the exact all-pairs ground truth. */
  def semDedupQuery(spark: SparkSession, dir: String): DataFrame = {
    // session-shared corpus + IVF inverted list (round 15): identical
    // centroids/assignments to the ad-hoc trainer (deterministic k-means
    // over the same parquet), so the keep/drop sets are bit-identical
    val (_, assigned) = IvfOps.trainIndexShared(spark, dir)
    semDedupFromAssigned(Tables.embeddings(spark, dir), assigned, 0.25)
  }

  /** Scale path for embedding near-dup: bucket vectors by hyperplane-LSH
    * signature, compare only within a bucket (equality join on the bucket
    * id — hash-partitioned, never a cross product). Near-identical vectors
    * land in the same bucket with high probability; `numPlanes` trades
    * recall vs bucket size. Returns pairs with cosine ≥ `threshold`. */
  def embeddingNearDupLsh(emb: DataFrame, threshold: Double,
      numPlanes: Int = 8): DataFrame = {
    val planes = graft.functions.VectorFunctions.hyperplanes(
      numPlanes, SimilarityOps.EmbeddingDim)
    val e = emb.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"),
      graft.functions.VectorFunctions
        .lshSignature(col("embedding"), planes).as("bucket"))
    e.as("a").join(e.as("b"),
      col("a.bucket") === col("b.bucket")
        && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(cosine(dotProduct(col("a.embedding"), col("b.embedding")),
          col("a.nrm"), col("b.nrm")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy(col("va"), col("vb"))
  }

  /** Per-item REPRESENTATIVE form of [[embeddingNearDupLsh]] — the
    * round-6 spot gate measured the pair-emitting form at e=2.0
    * OUTPUT-BOUND (SCALE.md): when true near-dup cluster sizes grow with
    * the corpus, enumerating pairs is inherently quadratic even though the
    * bucketed plan is sound. This variant aggregates inside the same
    * stage: per vector, the LOWEST earlier same-bucket neighbor at cosine
    * ≥ `threshold` (else itself) plus the earlier-dup count — |V| output
    * rows always. The map-side partial aggregation collapses pair rows
    * before the shuffle, so neither the shuffle nor the result scales with
    * pair count — the per-item SemDeDup output contract on the LSH path. */
  def embeddingNearDupRep(emb: DataFrame, threshold: Double,
      numPlanes: Int = 8): DataFrame = {
    val planes = graft.functions.VectorFunctions.hyperplanes(
      numPlanes, SimilarityOps.EmbeddingDim)
    val e = emb.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"),
      graft.functions.VectorFunctions
        .lshSignature(col("embedding"), planes).as("bucket"))
    val earlier = e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"), col("a.vec_id").as("earlier"),
        round(cosine(dotProduct(col("a.embedding"), col("b.embedding")),
          col("a.nrm"), col("b.nrm")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .groupBy(col("vec_id"))
      .agg(min(col("earlier")).as("rep"),
        count(lit(1)).as("n_earlier_dups"))
    emb.select(col("vec_id"))
      .join(earlier, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("rep"), col("vec_id")).as("rep"),
        coalesce(col("n_earlier_dups"), lit(0L)).as("n_earlier_dups"))
      .orderBy(col("vec_id"))
  }

  /** Declared query for [[embeddingNearDupRep]] — oracle-proven since
    * round 9 (hyperplane-literal SQL, see SparkEntry.embedBucketCtes);
    * DedupSpec keeps the brute-force same-bucket reference as a pin. */
  def dedupEmbedRep(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupRep(Tables.embeddings(spark, dir), 0.25, numPlanes = 6)

  /** q_entity_match: end-to-end entity resolution — the record-linkage
    * pipeline (Fellegi-Sunter shape): BLOCK candidate pairs by a cheap key
    * (`blockChars`-char lowercase prefix, default 8 — see the scale note
    * below), SCORE each candidate with Jaro-Winkler on
    * the 16-char name prefix, LINK pairs scoring ≥ `thr` into an edge
    * list, and CLUSTER transitively with [[connectedComponents]]. Output
    * is one row per multi-member entity cluster: the min-id representative
    * label, member count, and the sorted member list.
    *
    * This composes three primitives the library already proves separately
    * (blocked fuzzy pairs = q_fuzzy_jw; transitive closure = the
    * dedup-cluster CC; min-id survivorship = exact dedup) into the
    * deduplicate-customers / merge-author-profiles capability. Scale
    * shape: the block join is an equality join on the block key — never
    * all-pairs — and the key must be WIDE enough that block cardinality
    * grows with the data (an 8-char prefix here: the 2-char key's ~30
    * fixed blocks made candidates quadratic in corpus size, 42M pairs at
    * sf1 vs 3.2M with 8). Winkler's prefix boost means a ≥0.92 score
    * almost always implies a long shared prefix, so the recall cost is
    * small; a production run unions several blocking passes (prefix,
    * token-signature, phonetic) rather than widening one block. CC state
    * stays distributed. Oracle-checked end to end: JaroWinkler is pinned
    * bit-identical to DuckDB's `jaro_winkler_similarity`, so the edge set
    * is plain SQL, and the CC min-label fixpoint equals `min(r)` over the
    * transitive closure of a recursive CTE; DedupSpec additionally pins
    * clusters to a driver union-find on the same scored edges.
    *
    * ROUND-15 MEASUREMENT (fresh ScaleSpot on the current corpus): the
    * uncapped block join re-spots at e = 1.35 (2.16 → 48.3 s warm,
    * 10×→100×; candidate pairs 2.14M → 33.5M) — block sizes grow with
    * the data on this prefix key, so this form is the declared
    * CONTRAST DIAL; [[entityMatchCapped]] (q_entity_match_capped) is
    * the 100 TB PRIMARY with the per-block candidate cap. */
  def entityMatch(spark: SparkSession, dir: String, thr: Double = 0.92,
      blockChars: Int = 8, k: Int = 20): DataFrame = {
    val recs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        substring(lower(col("text")), 1, 16).as("name"),
        substring(lower(col("text")), 1, blockChars).as("blk"))
    val edges = recs.as("a").join(recs.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .filter(jaroWinkler(col("a.name"), col("b.name")) >= thr)
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
    connectedComponents(edges)
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"),
        sort_array(collect_list(col("node"))).as("members"))
      .filter(col("n_members") >= 2)
      .select(col("comp").as("entity_id"), col("n_members"),
        concat_ws(",", col("members").cast("array<string>")).as("members"))
      .orderBy(col("n_members").desc, col("entity_id"))
      .limit(k)
  }

  /** Per-block candidate cap for [[entityMatchCapped]] — shared with the
    * oracle SQL. */
  val EntityBlockCap = 64

  /** q_entity_match_capped — the declared 100 TB PRIMARY of the
    * entity-resolution family (round 15; [[entityMatch]] stays as the
    * measured CONTRAST DIAL, e = 1.35). Standard record-linkage block
    * capping: within each block only the first [[EntityBlockCap]]
    * records (doc_id order — deterministic) enter the pair join, so
    * per-block candidates are ≤ cap²/2 and the total pair volume is
    * LINEAR in the number of blocks (which grows with the data) instead
    * of quadratic in block size. An oversized block on a real corpus is
    * a too-generic key ("john smith…"), and production linkage skips or
    * caps it and recovers recall by unioning other blocking passes —
    * the same df-cap philosophy as q_dedup_ngram_capped's shingle cap.
    * The rank window runs per block key (parallel, bounded state after
    * WindowGroupLimit pushdown); everything downstream is
    * [[entityMatch]] unchanged. */
  def entityMatchCapped(spark: SparkSession, dir: String,
      thr: Double = 0.92, blockChars: Int = 8, k: Int = 20,
      cap: Int = EntityBlockCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
    val recs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        substring(lower(col("text")), 1, 16).as("name"),
        substring(lower(col("text")), 1, blockChars).as("blk"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= cap)
      .drop("rn")
    val edges = recs.as("a").join(recs.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .filter(jaroWinkler(col("a.name"), col("b.name")) >= thr)
      .select(col("a.doc_id").as("src"), col("b.doc_id").as("dst"))
    connectedComponents(edges)
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"),
        sort_array(collect_list(col("node"))).as("members"))
      .filter(col("n_members") >= 2)
      .select(col("comp").as("entity_id"), col("n_members"),
        concat_ws(",", col("members").cast("array<string>")).as("members"))
      .orderBy(col("n_members").desc, col("entity_id"))
      .limit(k)
  }
}
