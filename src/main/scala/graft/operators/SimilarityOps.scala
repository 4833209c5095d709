package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.tokensLower
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (north-star ★).
  * Random-hyperplane signatures follow Charikar (2002); the bucket-probe
  * structure is the classic LSH scheme of Indyk & Motwani (1998). An IVF
  * variant would replace the hyperplane signature with a k-means coarse
  * quantizer — same join shape on the centroid id.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
  *    The query side is tiny (a handful of probe vectors) and broadcast, so
  *    the candidate scan stays narrow even at scale; cost is O(|Q|·n).
  *  - [[annTopK]]: approximate top-k via random-hyperplane LSH bucketing —
  *    the 100 TB path. Vectors hash to 2^b sign-buckets; the pair join is an
  *    equality join on the bucket id, so Spark hash-partitions both sides
  *    and never materializes the cross product.
  */
object SimilarityOps {

  val EmbeddingDim = 64

  /** Fixed cyclic-Jacobi sweep count for [[embedPca]] — shared with the
    * q_embed_pca oracle SQL (the recursive-CTE replay interpolates it) so
    * the engine and DuckDB can never desync on the rotation count. */
  val JacobiSweeps = 6

  /** Exact cosine top-k of `candidates` for each query vector. */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), l2Norm(col("embedding")).as("q_nrm"))
    val c = candidates.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"), l2Norm(col("embedding")).as("c_nrm"))
    // top-k per probe: Catalyst plans `row_number() <= k` as a Partial
    // WindowGroupLimit on each scan partition (k rows per probe survive)
    // below the q_id exchange and a Final one above it, so only
    // ≤ partitions·|probes|·k rows shuffle. The order (cos_sim desc,
    // cand_id asc) is total per probe, so the rank is deterministic.
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    broadcast(q)
      .join(c, col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
        round(cosine(dotProduct(col("q_emb"), col("c_emb")),
          col("q_nrm"), col("c_nrm")), 4).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("cand_id"), col("cos_sim"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Declared query: exact top-10 neighbors for probe vectors vec_id < 5. */
  def simTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    bruteForceTopK(emb.filter(col("vec_id") < 5), emb, 10)
  }

  /** kNN label prediction: classify probe vectors by majority vote over
    * their `k` exact nearest labeled neighbors — the embedding-space
    * auto-labeling pass training pipelines run to propagate a small set of
    * human labels onto new data. Probes are vec_id < `nProbes`; the train
    * set is everything else (disjoint, so no self-matches). Vote ties
    * break to the smaller label; neighbor-rank ties break to the smaller
    * cand_id — fully deterministic, and SQL-expressible (the DuckDB oracle
    * hash-matches).
    *
    * Scale shape: same broadcast-probe × candidate-scan as
    * [[bruteForceTopK]] (O(|Q|·n), narrow), then two bounded aggregations
    * over |Q|·k rows. For large probe sets swap the neighbor stage for
    * [[annTopK]] / IVF — the vote logic is unchanged. */
  def knnLabel(spark: SparkSession, dir: String, k: Int = 10,
      nProbes: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val probes = emb.filter(col("vec_id") < nProbes)
    val train = emb.filter(col("vec_id") >= nProbes)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("n_votes").desc, col("label"))
    bruteForceTopK(probes, train, k)
      .join(train.select(col("vec_id").as("cand_id"), col("label")),
        Seq("cand_id"))
      .groupBy(col("q_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(probes.select(col("vec_id").as("q_id"),
        col("label").as("true_label")), Seq("q_id"))
      .select(col("q_id"), col("label").as("pred_label"), col("n_votes"),
        col("true_label"),
        (col("label") === col("true_label")).as("correct"))
      .orderBy(col("q_id"))
  }

  /** Approximate top-k: compare only vectors in the same hyperplane-sign
    * bucket. `numPlanes` trades recall vs bucket size (2^numPlanes buckets).
    * Deterministic (fixed-seed planes) — and since round 9 oracle-proven:
    * the planes are double literals, so the bucket join is plain SQL
    * (SparkEntry.embedBucketCtes; q_sim_lsh hash-matches DuckDB).
    * ScalaTest keeps the recall test vs the brute-force baseline. */
  def annTopK(queries: DataFrame, candidates: DataFrame, k: Int,
      numPlanes: Int = 6): DataFrame = {
    val planes = hyperplanes(numPlanes, EmbeddingDim)
    val q = queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), l2Norm(col("embedding")).as("q_nrm"),
      lshSignature(col("embedding"), planes).as("bucket"))
    val c = candidates.select(col("vec_id").as("cand_id"),
      col("embedding").as("c_emb"), l2Norm(col("embedding")).as("c_nrm"),
      lshSignature(col("embedding"), planes).as("bucket"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    q.join(c, Seq("bucket"))
      .filter(col("q_id") =!= col("cand_id"))
      .select(col("q_id"), col("cand_id"),
        round(cosine(dotProduct(col("q_emb"), col("c_emb")),
          col("q_nrm"), col("c_nrm")), 4).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("cand_id"), col("cos_sim"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Declared query: LSH-bucketed approximate top-10 for probes vec_id < 5. */
  def simLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    annTopK(emb.filter(col("vec_id") < 5), emb, 10)
  }

  /** q_ann_recall: recall@k audit of BOTH dense ANN indexes against the
    * exact baseline — the acceptance gate an index must clear before it
    * replaces brute force in production. For `nProbes` probe vectors the
    * exact top-k from [[bruteForceTopK]] is ground truth; each method's
    * recall@k is |ann ∩ exact| / k averaged over probes (a probe whose
    * shortlist misses everything still counts — the left join keeps its
    * zero). `avg_returned` reports how many of the k requested neighbors
    * the index produced at all (an LSH bucket smaller than k returns
    * fewer — visible recall ceiling, not silent). Companion to
    * [[DedupOps.minhashRecallAudit]], which audits the MinHash banding the
    * same way. Oracle-proven since round 9: the hyperplane signatures are
    * plane-literal SQL and the k-means quantizer is the unrolled-Lloyd
    * CTE, so the whole audit hash-matches DuckDB
    * (SparkEntry.annRecallSql); ScalaTest keeps the recall floor and
    * determinism pins. Scale shape: the exact side is the one O(|Q|·n) pass
    * (|Q| fixed and broadcast); everything downstream is
    * (probes × k)-sized. */
  def annRecall(spark: SparkSession, dir: String, k: Int = 10,
      nProbes: Int = 50): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    // session-shared IVF trainer (round 15): same first-payer contract as
    // the graph family — see IvfOps.trainIndexShared. The raw corpus is
    // re-materialized per call (base tables are never session-cached).
    val emb = Materialize(Tables.embeddings(spark, dir))
    val probes = emb.filter(col("vec_id") < nProbes)
    val exact = Materialize(
      bruteForceTopK(probes, emb, k).select(col("q_id"), col("cand_id")))
    val (centroids, assigned) = IvfOps.trainIndexShared(spark, dir)
    def recallOf(method: String, ann: DataFrame): DataFrame = {
      val short = ann.select(col("q_id"), col("cand_id"))
      val hits = exact.join(short, Seq("q_id", "cand_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      val returned = short.groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_ret"))
      exact.select(col("q_id")).distinct()
        .join(hits, Seq("q_id"), "left")
        .join(returned, Seq("q_id"), "left")
        .agg(count(lit(1)).as("n_probes"),
          (sum(coalesce(col("n_hit"), lit(0L))).cast("double")
            / (count(lit(1)) * k)).as("recall"),
          (sum(coalesce(col("n_ret"), lit(0L))).cast("double")
            / count(lit(1))).as("avg_ret"))
        .select(lit(method).as("method"),
          col("n_probes"),
          stableRound4(col("recall")).as("recall_at_k"),
          stableRound4(col("avg_ret")).as("avg_returned"))
    }
    recallOf("ivf", IvfOps.searchAssigned(probes, assigned, centroids, k = k))
      .unionAll(recallOf("lsh", annTopK(probes, emb, k)))
      .orderBy(col("method"))
  }

  /** Int8 scalar quantization of the embedding column — the 4× storage /
    * bandwidth compression an ANN index applies before it ships vectors:
    * per vector, scale = max|vᵢ|/127 and levelᵢ = ⌊vᵢ/scale + ½⌋ ∈
    * [−127, 127]. A pure narrow scan (no shuffle). The declared output
    * reports the scale and two EXACT integer checksums over the levels
    * (sum and sum of squares) rather than the 64-element array, so the
    * engine-comparison is integer-exact: any divergence in even one level
    * anywhere flips a checksum. ⌊x+½⌋ (not banker's rounding) keeps the
    * level function bit-identical across engines; all-zero vectors take
    * scale 0 with all-zero levels. */
  def quantizeEmbeddings(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    Tables.embeddings(spark, dir)
      .withColumn("scale",
        expr("array_max(transform(embedding, x -> abs(cast(x AS double)))) / 127.0"))
      .select(
        col("vec_id"),
        stableRound4(col("scale")).as("scale4"),
        when(col("scale") === 0.0, lit(0L)).otherwise(expr(
          "aggregate(transform(embedding, x -> cast(floor(cast(x AS double) / scale + 0.5) AS long)), " +
            "0L, (acc, l) -> acc + l)")).as("q_sum"),
        when(col("scale") === 0.0, lit(0L)).otherwise(expr(
          "aggregate(transform(embedding, x -> cast(floor(cast(x AS double) / scale + 0.5) AS long)), " +
            "0L, (acc, l) -> acc + l * l)")).as("q_norm"))
      .orderBy(col("vec_id"))
  }

  /** Per-dimension embedding statistics — the feature-drift / health report
    * for a vector corpus: count, mean, stddev, min, max of every dimension.
    * Dead dimensions (std ≈ 0), saturated ones (|mean| near the range
    * edge), and batch-to-batch drift all read directly off this table.
    *
    * Scale shape: one posexplode (narrow, dim× row multiplier) into a
    * partial-aggregated groupBy on the dimension index — |dims| output rows
    * whatever the corpus size; the classic sketchable rollup. */
  def embedDimStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select((col("pos") + 1).as("dim"), col("x").cast("double").as("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        stableRound4(avg(col("x"))).as("mean"),
        stableRound4(stddev_samp(col("x"))).as("std"),
        stableRound4(min(col("x"))).as("min_x"),
        stableRound4(max(col("x"))).as("max_x"))
      .orderBy(col("dim"))
  }

  /** Sparse TF-IDF cosine similarity via an INVERTED-INDEX join over a
    * deterministic hash-sample — the text-side complement of the dense
    * embedding paths: each sampled document is reduced to its `topTerms`
    * highest-TF-IDF terms (its sparse signature), candidate pairs come
    * from an equality join on shared terms, and cosine is computed over
    * the signatures. Term ranking and the membership threshold both use
    * ROUNDED weights so the signature (and thus the row set) is
    * reproducible across engines.
    *
    * Why a sample: on a NATURAL vocabulary, high-IDF signature terms are
    * rare, postings lists stay short, and the join is ≈ docs × topTerms² —
    * but on a degenerate common-vocabulary corpus (this fixture has 31
    * distinct tokens, min df = 5% of docs) every postings list is the
    * whole corpus and the join is inherently docs² (measured: 237 s at the
    * sf1 gate unsampled). The declared query therefore scores a
    * deterministic ~3% md5 sample — the audit-report formulation; the
    * full-corpus near-dup tools remain MinHash/LSH and SimHash, which stay
    * sub-quadratic by construction. `samplePrefix` widens the sample (or
    * "ff..." ≈ full corpus) when the vocabulary is known to be natural.
    *
    * Scale shape: sample filter rides the scan; two partial-aggregated
    * count hops (tf, df), a per-doc WindowGroupLimit for the signature,
    * one equality join on term, one pair aggregation. */
  def sparseSimPairs(spark: SparkSession, dir: String, topTerms: Int = 10,
      simThreshold: Double = 0.5, k: Int = 50,
      samplePrefix: String = "08"): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    import org.apache.spark.sql.expressions.Window
    val sampled = Tables.documents(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < samplePrefix)
    val tf = graft.operators.Materialize(
      sampled
        .select(col("doc_id"), explode(tokensLower(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf")))
    val dfc = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nd = sampled.agg(count(lit(1)).as("n_docs"))
    val w = tf.join(broadcast(dfc), Seq("tok")).crossJoin(broadcast(nd))
      .select(col("doc_id"), col("tok"),
        (col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0))).as("w"))
    val rn = row_number().over(Window.partitionBy(col("doc_id"))
      .orderBy(stableRound4(col("w")).desc, col("tok")))
    val top = graft.operators.Materialize(
      w.withColumn("rn", rn).filter(col("rn") <= topTerms)
        .select(col("doc_id"), col("tok"), col("w")))
    val nrm = top.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    top.as("a").join(top.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
      .join(nrm.select(col("doc_id").as("da"), col("nrm").as("na")), Seq("da"))
      .join(nrm.select(col("doc_id").as("db"), col("nrm").as("nb")), Seq("db"))
      .select(col("da"), col("db"),
        stableRound4(col("dot") / (col("na") * col("nb"))).as("sim"))
      .filter(col("sim") >= simThreshold)
      .orderBy(col("sim").desc, col("da"), col("db"))
      .limit(k)
  }

  /** Class-balance report over the labeled embeddings: per-label counts,
    * corpus share, and the standard inverse-frequency class weight
    * w = total / (k · n) (sklearn's "balanced" formula — weights average
    * to 1 across samples) — what a training pipeline computes before
    * weighting a loss or resampling a skewed label distribution.
    *
    * Scale shape: one partial-aggregated groupBy to |labels| rows, then a
    * broadcast one-row total; the embedding vectors are never read (column
    * pruning keeps the scan to the label column alone). */
  def labelBalance(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val counts = Tables.embeddings(spark, dir)
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(
      sum(col("n")).cast("double").as("total"),
      count(lit(1)).cast("double").as("k"))
    counts.crossJoin(broadcast(totals))
      .select(col("label"), col("n"),
        stableRound4(col("n") / col("total")).as("share"),
        stableRound4(col("total") / (col("k") * col("n")))
          .as("class_weight"))
      .orderBy(col("label"))
  }

  /** Confusion matrix of the kNN auto-labeler over a 100-probe eval slice —
    * the quality report run after every label-propagation pass (which
    * classes bleed into which). Reuses [[knnLabel]] end to end; the matrix
    * itself is one bounded aggregation over |probes| rows plus a broadcast
    * of the per-true-label totals for recall shares. */
  def knnConfusion(spark: SparkSession, dir: String,
      nProbes: Int = 100): DataFrame = {
    val preds = knnLabel(spark, dir, k = 10, nProbes = nProbes)
    val cells = preds.groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
    val rowTotals = cells.groupBy(col("true_label"))
      .agg(sum(col("n")).cast("double").as("row_total"))
    cells.join(broadcast(rowTotals), Seq("true_label"))
      .select(col("true_label"), col("pred_label"), col("n"),
        graft.functions.NumericFunctions
          .stableRound4(col("n") / col("row_total")).as("row_share"))
      .orderBy(col("true_label"), col("pred_label"))
  }

  /** q_hard_negative: hard-negative mining for contrastive training — for
    * each probe vector, the `k` most-similar vectors carrying a DIFFERENT
    * label. These highest-cosine cross-label pairs are exactly the
    * negatives a contrastive loss (InfoNCE/triplet) learns most from;
    * mining them is a standard corpus-prep pass for embedding-model
    * training.
    *
    * Scale shape: broadcast the (small) probe set against one narrow
    * candidate scan — O(|Q|·n) codegen'd dot products, no shuffle of the
    * corpus; the per-probe rank filter collapses to WindowGroupLimit
    * (bounded heap per partition). For probe sets too large to broadcast,
    * the same ranking runs over LSH/IVF candidates instead
    * ([[annTopK]] / IvfOps) — the mining logic is unchanged. */
  def hardNegatives(spark: SparkSession, dir: String, k: Int = 3,
      nProbes: Int = 20): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"), l2Norm(col("embedding")).as("q_nrm"))
    val c = emb.select(col("vec_id").as("cand_id"),
      col("label").as("neg_label"),
      col("embedding").as("c_emb"), l2Norm(col("embedding")).as("c_nrm"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("cand_id"))
    broadcast(q)
      .join(c, col("q_label") =!= col("neg_label"))
      .select(col("q_id"), col("q_label"), col("cand_id"), col("neg_label"),
        round(cosine(dotProduct(col("q_emb"), col("c_emb")),
          col("q_nrm"), col("c_nrm")), 4).as("cos_sim"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("cand_id"), col("q_label"),
        col("neg_label"), col("cos_sim"))
      .orderBy(col("q_id"), col("rn"))
  }

  /** Batch-drift audit of the embedding space: split vectors into two
    * pseudo-batches by vec_id parity, compute per-label centroids of each
    * half, and report the cosine similarity between a label's two
    * centroids — the monitoring query that catches an embedding-model or
    * featurization change between ingest batches (a healthy pipeline shows
    * cos ≈ 1 per label; a re-trained encoder shows a uniform drop, a data
    * bug shows one label diverging).
    *
    * Determinism: centroid means are 4-decimal-stabilized and then scaled
    * to exact BIGINT coordinates (×10⁴) before the dot product, so the
    * cosine is integer arithmetic over engine-reproducible values — no
    * float summation-order sensitivity between Spark partial aggregates
    * and the oracle.
    *
    * Scale shape: one posexplode (n·dim narrow rows) feeding a
    * labels×2×dim-bounded aggregation, then joins/aggs over that bounded
    * centroid set — no joins over data, no windows, no driver data. */
  def embedDrift(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val emb = Tables.embeddings(spark, dir)
    val cent = emb
      .select(col("label"), (col("vec_id") % 2).cast("int").as("half"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("half"), col("dim"))
      .agg(round(stableRound4(avg(col("x").cast("double"))) * 10000)
        .cast("long").as("mi"))
    val cos = cent.filter(col("half") === 0)
      .select(col("label"), col("dim"), col("mi").as("ma"))
      .join(cent.filter(col("half") === 1)
        .select(col("label"), col("dim"), col("mi").as("mb")),
        Seq("label", "dim"))
      .groupBy(col("label"))
      .agg(sum(col("ma") * col("mb")).as("dot"),
        sum(col("ma") * col("ma")).as("na2"),
        sum(col("mb") * col("mb")).as("nb2"))
      .select(col("label"), stableRound4(col("dot") /
        (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))))
        .as("centroid_cos"))
    emb.groupBy(col("label"))
      .agg(sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_even"),
        sum(when(col("vec_id") % 2 === 1, 1L).otherwise(0L)).as("n_odd"))
      .join(cos, Seq("label"))
      .select(col("label"), col("n_even"), col("n_odd"), col("centroid_cos"))
      .orderBy(col("label"))
  }

  /** q_embed_pca: principal-component spectrum of the embedding corpus —
    * explained-variance ratio per top component plus the cumulative share.
    * The standard embedding-health diagnostic (anisotropy / effective
    * dimensionality): a healthy space spreads variance across many
    * components; a collapsed or poorly-normalized one concentrates it in
    * one or two, and whitening/recentering decisions hang off this
    * spectrum.
    *
    * Scale shape: cov = E[xxᵀ] − μμᵀ. Both expectations are ONE scan with
    * partial-friendly vector aggregates — the flattened upper-triangle
    * outer product (dim(dim+1)/2 doubles per row, built by a codegen'd
    * nested transform) and the raw vector each feed [[vectorAvg]], so the
    * shuffle carries one fixed-size buffer per partition and only the
    * dim×dim moment matrix ever reaches the driver. The cyclic-Jacobi
    * eigensolver then runs on a 64×64 symmetric matrix — O(dim³) driver
    * work, independent of corpus size (the same bounded-model budget as
    * the k-means/PQ trainers). */
  def embedPca(spark: SparkSession, dir: String, topK: Int = 8): DataFrame = {
    import graft.functions.NumericFunctions.stableRound4
    val dim = EmbeddingDim
    val nUp = dim * (dim + 1) / 2
    val upper = expr(
      s"flatten(transform(sequence(0, ${dim - 1}), i -> " +
        s"transform(sequence(i, ${dim - 1}), j -> " +
        "cast(embedding[i] as double) * cast(embedding[j] as double))))")
    val m = Tables.embeddings(spark, dir)
      .select(col("embedding"), upper.as("up"))
      .agg(vectorAvg(col("embedding"), dim).as("mu"),
        vectorAvg(col("up"), nUp).as("moment"))
      .head()
    val mu = m.getSeq[Double](0).toArray
    val moment = m.getSeq[Double](1).toArray
    val cov = Array.ofDim[Double](dim, dim)
    var idx = 0
    for (i <- 0 until dim; j <- i until dim) {
      // stable6 barrier on the covariance: the eigensolve's INPUT is the
      // only cross-engine float divergence point (distributed vs DuckDB
      // aggregation order); from identical rounded entries the fixed-sweep
      // Jacobi below is a deterministic IEEE op sequence, so the oracle's
      // recursive-CTE replay reproduces the diagonals bit for bit
      val c = IvfOps.stable6(moment(idx) - mu(i) * mu(j))
      cov(i)(j) = c; cov(j)(i) = c
      idx += 1
    }
    // round6 diagonals + descending-order folds, mirrored by the oracle's
    // ORDER BY ev DESC list slices
    val eigs = jacobiEigenvalues(cov).map(IvfOps.stable6)
      .sorted(Ordering[Double].reverse)
    val total = eigs.sum
    val rows = eigs.take(topK).zipWithIndex.map { case (ev, k) =>
      (k, ev, ev / total, eigs.take(k + 1).sum / total)
    }
    import spark.implicits._
    rows.toSeq.toDF("component", "eigenvalue", "var_ratio", "cum_ratio")
      .select(col("component"),
        stableRound4(col("eigenvalue")).as("eigenvalue"),
        stableRound4(col("var_ratio")).as("var_ratio"),
        stableRound4(col("cum_ratio")).as("cum_ratio"))
      .orderBy(col("component"))
  }

  /** Round-robin (circle-method) rotation schedule for
    * [[jacobiEigenvalues]]: n−1 rounds of n/2 DISJOINT (p<q) pairs
    * covering all C(n,2) pairs exactly once — the classic Brent–Luk
    * parallel Jacobi ordering. Round r pairs (r mod m, m) with the fixed
    * index m = n−1, plus ((r+k) mod m, (r−k+m) mod m) for k = 1..n/2−1.
    * The q_embed_pca oracle SQL regenerates the SAME schedule from the
    * same integer arithmetic, so both engines replay identical rounds. */
  private[operators] def roundRobinPairs(
      n: Int): IndexedSeq[IndexedSeq[(Int, Int)]] = {
    require(n % 2 == 0, s"round-robin Jacobi schedule needs even n, got $n")
    val m = n - 1
    (0 until m).map { r =>
      (r % m, m) +: (1 until n / 2).map { k =>
        val i = (r + k) % m
        val j = (r - k + m) % m
        (math.min(i, j), math.max(i, j))
      }
    }
  }

  /** Round-robin parallel Jacobi eigenvalue sweep for a symmetric matrix
    * (driver-side, deterministic: fixed round-robin pair schedule and a
    * FIXED sweep count, so the whole float sequence is a pure function of
    * the input matrix — what lets the DuckDB oracle replay it bit-for-bit
    * as a recursive CTE). Each round applies n/2 DISJOINT rotations with
    * a two-phase update: all angles come from the pre-round matrix, phase
    * 1 rewrites the paired columns (reads only same-row entries), phase 2
    * rewrites the paired rows on the column-updated matrix. Disjoint
    * pairs touch disjoint columns/rows per phase, so every entry gets
    * exactly one update per phase and the float sequence is order-free
    * within a phase — the oracle needs one recursive iteration per ROUND
    * (63/sweep at n=64) instead of one per rotation (2016/sweep), a 32×
    * cut in its recursion depth (74 s → ~5 s measured,
    * dev/jacobi_parallel_proto.py: 64/64 diagonals bit-identical).
    * 6 sweeps leave a 64×64's off-diagonal below ~1e-8 (SimilaritySpec
    * pins the fixed count against a 4× longer run), 4 decimal orders
    * under the round-4 output. Brent & Luk 1985; Golub & Van Loan 8.5.
    * Adequate for the ≤64×64 moment matrices this module ever builds. */
  private[operators] def jacobiEigenvalues(a0: Array[Array[Double]],
      sweeps: Int = JacobiSweeps): Array[Double] = {
    val n = a0.length
    val a = a0.map(_.clone())
    val rounds = roundRobinPairs(n)
    var sweep = 0
    while (sweep < sweeps) {
      for (round <- rounds) {
        val params = round.flatMap { case (p, q) =>
          val apq = a(p)(q)
          if (math.abs(apq) <= 1e-15) None
          else {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t =
              if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            Some((p, q, c, t * c))
          }
        }
        for ((p, q, c, s) <- params; k <- 0 until n) { // phase 1: columns
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
        }
        for ((p, q, c, s) <- params; k <- 0 until n) { // phase 2: rows
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
        }
      }
      sweep += 1
    }
    (0 until n).map(i => a(i)(i)).toArray
  }
}
