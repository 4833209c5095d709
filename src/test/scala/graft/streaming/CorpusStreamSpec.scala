package graft.streaming

import java.nio.file.Files

import graft.StreamGate.land

class CorpusStreamSpec extends StreamGateChecks {

  test("streaming corpus clean dedups across micro-batches; equals the batch run")(
    gate("corpus_clean_cross_batch_dedup"))

  test("stream scoring with the batch-trained unigram model equals the batch run")(
    gate("unigram_scoring_vs_declared_twin"))

  test("stream scoring with the broadcast quality weights equals the declared q_quality_logistic")(
    gate("quality_scoring_vs_declared_twin"))

  test("streamed per-source token counts give the declared q_temperature_mix")(
    gate("temperature_mix_vs_declared_twin"))

  test("stateful domain cap flags equal the first-arrival replay and the declared q_domain_caps")(
    gate("domain_caps_vs_declared_twin"))

  test("streaming MinHash near-dup flags exact re-sends across micro-batches")(
    gate("neardup_cross_batch_minhash"))

  test("streaming near-dup matches the batch minhash verdict within one batch") {
    import spark.implicits._
    withTempDir("graft-neardup2") { base =>
      val in = Files.createDirectories(base.resolve("in"))
      val out = base.resolve("out").toString
      val cp = base.resolve("cp").toString

      // hand corpus: 2 identical docs (1,2), a perturbed copy (3) sharing
      // most shingles, and an unrelated doc (4)
      // perturb ONLY the last token: 1 of 38 shingles differs (J ~= 0.95),
      // far above the 0.5 threshold so the fixed hash family must both
      // band-match and sim-match
      val txt = (1 to 40).map(i => s"tok$i").mkString(" ")
      val perturbed = ((1 to 39).map(i => s"tok$i") :+ "ptok40").mkString(" ")
      val docs = Seq(
        (1L, txt), (2L, txt), (3L, perturbed),
        (4L, (1 to 40).map(i => s"other$i").mkString(" "))
      ).toDF("doc_id", "text")

      land(docs, in, "001.parquet")
      val q = CorpusStreamOps.nearDupFlags(
          spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(in.toString))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append").start()
      q.processAllAvailable()
      q.stop()

      val v = CorpusStreamOps.resolveNearDups(spark.read.parquet(out))
        .collect().map(r => r.getLong(0) ->
          ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getBoolean(2))).toMap
      assert(v(1L) == ((-1L, false)))      // first seen, kept
      assert(v(2L) == ((1L, true)))        // identical twin flagged against 1
      assert(v(4L)._2 == false)            // unrelated doc kept
      // the perturbed copy shares >=90% of shingles; at threshold 0.5 with
      // 32 hashes it must flag against doc 1 in at least one band
      assert(v(3L) == ((1L, true)))
    }
  }

  test("streaming band-index loop: per-batch probe+append equals the direct recompute")(
    gate("band_index_stream_probe_append"))

  test("production domain-cap stream sinks exactly the first-arrival survivors with intact payload")(
    gate("domain_caps_production_sink"))
}
