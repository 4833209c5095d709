package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkTestBase, Tables}
import graft.functions.TextFunctions

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  /** documents plus a planted near-duplicate of doc 0 (one word changed)
    * and an exact duplicate of doc 1, with fresh high doc_ids. */
  private lazy val planted = {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val Array(t0, t1) = docs.filter(col("doc_id").isin(0, 1))
      .orderBy("doc_id").select("text").as[String].collect()
    val nearDup = t0.split(" ").toVector.updated(2, "zzzmutant").mkString(" ")
    val extra = Seq(
      (100000L, nearDup, "en", "synthetic", nearDup.length.toLong),
      (100001L, t1, "en", "synthetic", t1.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.union(extra)
  }

  test("dedupExact collapses the planted exact duplicate") {
    val deduped = planted.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
    assert(deduped.count() == planted.count() - 1)
    // the surviving id for doc 1's text is the original, not 100001
    assert(deduped.filter(col("doc_id") === 100001L).count() == 0)
  }

  test("minhashRecallAudit: recall monotone in bands, counts contained, " +
      "theory curve sane") {
    val rows = DedupOps.minhashRecallAudit(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    assert(rows.map(_._1).toSeq == Seq(4, 8, 16))
    rows.foreach { case (b, r, nTrue, nCand, nDet, recall, prec, theory) =>
      assert(b * r == 32)
      assert(nDet <= nCand && nDet <= nTrue,
        s"bands=$b: detected $nDet exceeds cand $nCand or true $nTrue")
      assert(recall >= 0 && recall <= 1 && prec >= 0 && prec <= 1)
      assert(theory > 0 && theory <= 1)
    }
    // shorter band rows (more bands) can only ADD candidate buckets per
    // doc pair probability-wise; on a fixed corpus measured recall must
    // not decrease from 4 -> 16 bands unless truth is empty
    val byBands = rows.map(r => r._1 -> r._6).toMap
    if (rows.head._3 > 0) {
      assert(byBands(16) >= byBands(8) - 1e-9)
      assert(byBands(8) >= byBands(4) - 1e-9)
      // 16 bands of 2 rows at tau=0.5 should catch most true pairs
      assert(byBands(16) > 0.5, s"recall@16 bands = ${byBands(16)}")
    }
  }

  test("minhash LSH finds the planted near-duplicate pair") {
    val pairs = DedupOps.minhashVerifiedPairs(planted, 0.5)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 100000L)))
    assert(pairs.contains((1L, 100001L))) // exact dup: jaccard 1.0
  }

  test("ngram Jaccard ranks the exact duplicate at 1.0 and the near-dup high") {
    // restricted to the 4 relevant docs: the corpus itself contains
    // generator-planted near-dups (jaccard ≈ 0.99) that outrank ours
    val four = planted.filter(col("doc_id").isin(0L, 1L, 100000L, 100001L))
    val top = DedupOps.ngramJaccardTopPairs(four, 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(top((1L, 100001L)) == 1.0)
    assert(top((0L, 100000L)) > 0.7)
  }

  test("ngram containment scores an embedded excerpt 1.0 where Jaccard dilutes") {
    import spark.implicits._
    // doc 1 ("p q r s") has shingles {pqr, qrs}; both sit inside doc 2's
    // set of 6 — containment 2/min(2,6)=1.0 while jaccard is only 2/6
    val docs = Seq(
      (1L, "p q r s"),
      (2L, "p q r s t u v w"),
      (3L, "x1 x2 x3 x4 x5")).toDF("doc_id", "text")
    val top = DedupOps.ngramContainmentTopPairs(docs, 5)
      .collect().map(r =>
        ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
    assert(top.head == (((1L, 2L), (2L, 1.0))), s"got ${top.head}")
    // no pair involves the disjoint doc 3
    assert(top.forall { case ((a, b), _) => a != 3L && b != 3L })
    // and the Jaccard form scores the same pair far below 1
    val jac = DedupOps.ngramJaccardTopPairs(docs, 5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(math.abs(jac((1L, 2L)) - 2.0 / 6.0) < 1e-3)
  }

  test("simhash: identical texts get identical signatures; near-dup is close") {
    val sigs = DedupOps.simhashSignatures(planted)
      .filter(col("doc_id").isin(0L, 1L, 100000L, 100001L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(100001L))
    val hamming = java.lang.Long.bitCount(sigs(0L) ^ sigs(100000L))
    assert(hamming <= 12, s"hamming $hamming too large for a near-dup")
  }

  test("scalar simhash is bit-identical to the aggregate formulation") {
    val docs = Tables.documents(spark, sf)
    val agg = DedupOps.simhashSignatures(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scalar = DedupOps.simhashSignaturesScalar(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(scalar == agg)
  }

  test("fingerprint is whitespace/case-insensitive") {
    val df = Seq(
      (1L, "Hello   World"),
      (2L, "  hello world "),
      (3L, "different text")).toDF("doc_id", "text")
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("dedupIncrNear: sound matches, exact-twin completeness, consistent novelty") {
    val out = DedupOps.dedupIncrNear(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2), r.getLong(3))))
      .toMap
    // driver ground truth: shingle sets + the md5 batch rule
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingles(
          graft.functions.TextFunctions.tokensLower(col("text"))).as("sh"),
        (substring(md5(col("doc_id").cast("string")), 1, 1) === "f")
          .as("is_batch"),
        col("text"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toSet, r.getBoolean(2),
        r.getString(3)))
    val corpus = docs.filter(!_._3)
    def jac(a: Set[String], b: Set[String]): Double =
      if (a.isEmpty && b.isEmpty) 0.0
      else a.intersect(b).size.toDouble / a.union(b).size
    // one output row per batch doc, and field consistency
    assert(out.size == docs.count(_._3))
    out.foreach { case (id, (novel, n, fm)) =>
      assert(novel == (n == 0L) && novel == (fm == -1L), s"doc $id")
    }
    // soundness: every reported first_match is a genuine >=0.5 near-dup
    val byId = docs.map(d => d._1 -> d._2).toMap
    out.foreach { case (id, (novel, _, fm)) =>
      if (!novel) assert(jac(byId(id), byId(fm)) >= 0.5,
        s"doc $id matched $fm below threshold")
    }
    // completeness floor: a batch doc with a byte-identical corpus twin
    // ALWAYS bands with it (equal texts -> equal signatures)
    docs.filter(_._3).foreach { case (id, _, _, text) =>
      if (corpus.exists(c => c._4 == text && c._2.nonEmpty))
        assert(!out(id)._1, s"doc $id has an exact corpus twin but is novel")
    }
    // reported match counts never exceed the exact >=0.5 neighbor count
    out.foreach { case (id, (_, n, _)) =>
      val exact = corpus.count(c => jac(byId(id), c._2) >= 0.5)
      assert(n <= exact, s"doc $id reports $n matches, exact is $exact")
    }
  }

  test("minhash verified pairs: exact precision and bounded recall vs all-pairs Jaccard") {
    // pins the end-to-end MinHash+LSH recall across signature-family
    // changes (round-3 xxhash64 -> Murmur3, round-9 Murmur3 -> salted
    // md5-60): the DuckDB oracle proves engine agreement but not recall
    // quality, so a silent recall regression would otherwise be invisible
    val docs = Tables.documents(spark, sf)
    val thr = 0.5
    val verified = DedupOps.minhashVerifiedPairs(docs, thr)
      .select("da", "db").as[(Long, Long)].collect().toSet
    // exact ground truth: all pairs with Jaccard >= thr over the same
    // word-3-gram shingle sets (pairs sharing no shingle can't reach 0.5)
    val ex = docs.select(col("doc_id"),
      TextFunctions.shingles(TextFunctions.tokensLower(col("text"))).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n"),
        explode(col("sh")).as("shingle"))
    val exact = ex.as("a")
      .join(ex.as("b"), col("a.shingle") === col("b.shingle")
        && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("shared"),
        max(col("a.n")).as("na"), max(col("b.n")).as("nb"))
      .filter(col("shared").cast("double")
        / (col("na") + col("nb") - col("shared")) >= thr)
      .select("da", "db").as[(Long, Long)].collect().toSet
    // verification computes exact Jaccard on candidates -> precision is 1.0
    assert(verified.subsetOf(exact),
      s"false positives: ${verified.diff(exact).take(5)}")
    assert(exact.nonEmpty, "fixture has no near-dup pairs; test is vacuous")
    val recall = verified.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${verified.size}/${exact.size})")
  }

  test("simhash hamming pairs equal all-pairs ground truth (4x15 banding is exact for <= 3)") {
    val docs = Tables.documents(spark, sf)
    val got = DedupOps.simhashHammingPairs(docs)
      .select("da", "db", "hamming").as[(Long, Long, Int)].collect().toSet
    val sigs = DedupOps.simhashSignaturesScalar(docs)
    val exact = sigs.as("a")
      .join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == exact,
      s"missed: ${exact.diff(got).take(5)}, extra: ${got.diff(exact).take(5)}")
  }

  test("simhash hamming pairs find crafted near-identical docs") {
    // identical texts -> identical signatures (hamming 0); a one-word edit
    // in a long doc flips few simhash bits; unrelated text stays far
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base),
      (3L, base.replace("word30", "altered")),
      (4L, "completely different text about other topics entirely"))
      .toDF("doc_id", "text")
    val pairs = DedupOps.simhashHammingPairs(docs, maxHamming = 3)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"identical docs not paired: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated doc paired: $pairs")
  }

  test("semDedup drop set is sound vs exact all-pairs cosine ground truth") {
    val emb = Tables.embeddings(spark, sf)
    val out = DedupOps.semDedup(emb, threshold = 0.25)
    assert(out.count() == emb.count())
    val dropped = out.filter(!col("keep"))
      .select("vec_id").as[Long].collect().toSet
    // exact ground truth: vectors with ANY lower-id neighbor at cos >= thr
    // (same-cell pairs are a subset of all pairs, so soundness must hold)
    import graft.functions.VectorFunctions._
    val e = emb.select(col("vec_id"), col("embedding"),
      l2Norm(col("embedding")).as("nrm"))
    val withEarlier = e.as("a").join(e.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"),
        round(cosine(dotProduct(col("a.embedding"), col("b.embedding")),
          col("a.nrm"), col("b.nrm")), 4).as("c"))
      .filter(col("c") >= 0.25)
      .select("vec_id").distinct().as[Long].collect().toSet
    assert(dropped.subsetOf(withEarlier),
      s"unsound drops: ${dropped.diff(withEarlier).take(5)}")
    assert(dropped.nonEmpty, "fixture produced no semantic dups; test is vacuous")
  }

  test("dedupMinhash output covers every document exactly once") {
    val out = DedupOps.dedupMinhash(spark, sf)
    assert(out.count() == Tables.documents(spark, sf).count())
    assert(out.filter(col("cluster_rep") > col("doc_id")).count() == 0)
  }

  test("entityMatch clusters equal a driver union-find over the same edges") {
    import org.apache.spark.sql.functions._
    val recs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), substring(lower(col("text")), 1, 16).as("name"),
        substring(lower(col("text")), 1, 8).as("blk"))
    val edges = recs.as("a").join(recs.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .filter(graft.functions.TextFunctions.jaroWinkler(
        col("a.name"), col("b.name")) >= 0.92)
      .select(col("a.doc_id"), col("b.doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver union-find
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r)
      parent.getOrElseUpdate(x, r); if (parent(x) != r) parent(x) = r; r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // full path compression pass, then group
    val groups = parent.keys.toSeq.map(n => find(n) -> n)
      .groupBy(_._1).map { case (c, ms) => c -> ms.map(_._2).sorted }
      .filter(_._2.size >= 2)
    val expect = groups.toSeq
      .sortBy { case (c, ms) => (-ms.size, c) }.take(20)
      .map { case (c, ms) => (c, ms.size.toLong, ms.mkString(",")) }
    val got = DedupOps.entityMatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == expect, s"got ${got.take(3)} expect ${expect.take(3)}")
  }

  test("standing band index: append twice, probe from storage == recompute") {
    // dedupIncrNear's deterministic split: batch = md5(doc_id) starts 'f',
    // corpus = the rest. Build the STORED index from the corpus in TWO
    // appends (md5 first char 0-7, then 8-e) — the grow-by-appends story —
    // and probe the same batch from storage.
    val idx = java.nio.file.Files
      .createTempDirectory("graft-band-index").toString
    val docs = Tables.documents(spark, sf)
    val firstHex = substring(md5(col("doc_id").cast("string")), 1, 1)
    DedupOps.bandIndexAppend(docs.filter(firstHex.between("0", "7")), idx)
    DedupOps.bandIndexAppend(
      docs.filter(firstHex.between("8", "e")), idx)
    // appends landed as band-partitioned parquet (8 band dirs)
    assert(new java.io.File(s"$idx/bands/band=0").exists(), idx)
    val probed = DedupOps.bandIndexProbe(spark, idx,
      docs.filter(firstHex === "f").select(col("doc_id"), col("text")))
      .collect().map(r =>
        (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3))).toSeq
    val recomputed = DedupOps.dedupIncrNear(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3))).toSeq
    assert(probed == recomputed,
      s"probe-from-storage diverged: got ${probed.take(5)} " +
        s"expect ${recomputed.take(5)}")
  }

  test("band index epoch appends: a replayed epoch replaces itself (exactly-once)") {
    val idx = java.nio.file.Files
      .createTempDirectory("graft-band-epoch").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val e0 = docs.filter(col("doc_id") < 100)
    val e1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
    DedupOps.bandIndexAppend(e0, idx, epoch = Some(0L))
    DedupOps.bandIndexAppend(e1, idx, epoch = Some(1L))
    def bandRows() = spark.read.parquet(s"$idx/bands")
      .select("doc_id", "band", "bkey").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(identity[(Long, Int, String)]).toSeq
    val once = bandRows()
    // the crash-replay scenario: the same micro-batch lands again under
    // the same epoch — dynamic partition overwrite must replace, not
    // duplicate (a multiset compare, so duplicates would be caught)
    DedupOps.bandIndexAppend(e1, idx, epoch = Some(1L))
    assert(bandRows() == once, "replayed epoch duplicated band rows")
    // content equals the plain-append layout on the same docs
    val ref = java.nio.file.Files
      .createTempDirectory("graft-band-epoch-ref").toString
    DedupOps.bandIndexAppend(e0.unionByName(e1), ref)
    val refRows = spark.read.parquet(s"$ref/bands")
      .select("doc_id", "band", "bkey").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(identity[(Long, Int, String)]).toSeq
    assert(bandRows() == refRows)
  }

  test("band index probe fence: replay after own append probes the pre-batch index") {
    // the crash window ADVICE r10 flagged: epoch 1's append committed but
    // the checkpoint didn't, so the replayed batch probes an index that
    // already holds its own rows. With maxEpochExclusive = 1 the probe
    // must see ONLY epoch 0 — identical verdicts to the original run —
    // instead of every doc matching itself at Jaccard 1.0.
    val idx = java.nio.file.Files
      .createTempDirectory("graft-band-fence").toString
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val e0 = docs.filter(col("doc_id") < 100)
    val e1 = docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
    DedupOps.bandIndexAppend(e0, idx, epoch = Some(0L))
    // original run: probe BEFORE the batch's own append
    def collectVerdicts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getLong(3))).toSeq
    val original = collectVerdicts(
      DedupOps.bandIndexProbe(spark, idx, e1, maxEpochExclusive = Some(1L)))
    DedupOps.bandIndexAppend(e1, idx, epoch = Some(1L))
    // replay: the index now contains epoch 1 itself; the fence must hide it
    val replayed = collectVerdicts(
      DedupOps.bandIndexProbe(spark, idx, e1, maxEpochExclusive = Some(1L)))
    assert(replayed == original,
      "fenced replay verdicts diverged from the original run")
    // and the unfenced probe really would differ (every doc self-matches),
    // proving the fence is load-bearing, not vacuous
    val unfenced = collectVerdicts(
      DedupOps.bandIndexProbe(spark, idx, e1))
    assert(unfenced != original, "unfenced probe unexpectedly matched — " +
      "fixture gives the fence nothing to exclude")
    assert(unfenced.forall(!_._2), "self-matching docs must all be non-novel")
  }

  test("band index probe reads the index with known schemas: one job to build, both layouts") {
    // the batch's Materialize is the only job; inferring the bands and
    // shingles schemas from their footers would add one job each
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val firstHex = substring(md5(col("doc_id").cast("string")), 1, 1)
    val batch = docs.filter(firstHex === "f")
    val recomputed = DedupOps.dedupIncrNear(spark, sf).collect().toSeq
    Seq(None, Some(0L)).foreach { epoch =>
      val idx = java.nio.file.Files
        .createTempDirectory("graft-band-probe-jobs").toString
      DedupOps.bandIndexAppend(docs.filter(firstHex.between("0", "7")), idx,
        epoch = epoch)
      DedupOps.bandIndexAppend(docs.filter(firstHex.between("8", "e")), idx,
        epoch = epoch.map(_ + 1))
      val (probe, jobs) = org.apache.spark.JobCount(spark.sparkContext)(
        DedupOps.bandIndexProbe(spark, idx, batch,
          maxEpochExclusive = epoch.map(_ + 2)))
      assert(jobs <= 1, s"epoch=$epoch: $jobs jobs to build the probe")
      assert(probe.collect().toSeq == recomputed, s"epoch=$epoch")
      val (bands, sh) = DedupOps.bandIndexTables(spark, idx)
      assert(bands.schema == spark.read.parquet(s"$idx/bands").schema)
      assert(sh.schema == spark.read.parquet(s"$idx/shingles").schema)
    }
  }
}
