package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.plans.logical._

/** Writes SCALE_INDEX.md, the per-query scale-posture index, from two
  * [[Bench]] runs over data of different sizes (say sf0.1 and a
  * [[ScaleData]] directory of 10 copies):
  *
  *   sbt "runMain graft.ScaleIndex <a.json> <b.json> [out.md]"
  *
  * Each file holds Bench's `{"metric":"total",...}` line: the committed
  * BENCH_FULL.json, the file a full run writes to `SPARK_GRAFT_BENCH_OUT`,
  * or a captured Bench stdout. One row per query names
  *
  *   - its times t_a and t_b, the `queries` entries of the two lines, and
  *     the measured exponent e = log(t_b/t_a) / log(n_b/n_a), where n is
  *     the lineitem row count of each line's `sf` directory;
  *   - the authoritative prior spot exponent where one was measured
  *     (10×→100× synthetic growth, round recorded): those supersede the
  *     bench ratio for the superlinear-risk family because they measure a
  *     further decade;
  *   - a mechanical plan-shape summary from the optimized logical plan at
  *     `a`'s data (J=joins A=aggregates W=windows G=explodes
  *     B=materialize barriers S=table scans): the bounded-shape argument
  *     in compressed form.
  *
  * Exponents where t_b is under 0.6 s are fixed-overhead-dominated and
  * flagged `·`: the honest reading there is "cheap at both scales", not a
  * growth law. A query that errored in either run (a null entry) or is
  * missing from one of them gets an ERR row.
  */
object ScaleIndex {

  /** Prior measured exponents from the 10×→100× spot runs (or the
    * documented dial family), with the measuring round. Keyed facts live in
    * SCALE.md's round sections; this map is the index view of them. */
  val SpotE: Map[String, String] = Map(
    "q_ann_recall" -> "0.37 (r7)",
    "q_attribution" -> "0.65 (r7)",
    "q_audience_overlap" -> "0.34 (r7)",
    "q_audio_trim" -> "flat (r7)",
    "q_calibration" -> "0.43 (r7)",
    "q_caption_dedup" -> "1.63 (r7, CONTRAST DIAL)",
    "q_card_est" -> "flat (r7)",
    "q_cluster_purity" -> "0.10 (r7)",
    "q_dedup_embed_lsh" -> "2.0 output-bound (r6, CONTRAST DIAL)",
    "q_dedup_embed_rep" -> "flat (r6)",
    "q_dedup_incr" -> "0.17 (r6)",
    "q_bfs_hops" -> "0.43 (r10, lazy path; size-gated cache: 6.1 s @10x — see SCALE.md)",
    "q_dedup_incr_near" -> "0.31 (r9)",
    "q_dedup_ngram" -> "1.65 (r5, CONTRAST DIAL)",
    "q_dedup_ngram_capped" -> "0.55 (r6)",
    "q_dedup_spans" -> "0.80 (r6)",
    "q_doremi" -> "0.62 (r9)",
    "q_dp_topk" -> "0.07 (r7)",
    "q_dsir" -> "0.97 (r9)",
    "q_dup_span_frac" -> "0.65 (r6)",
    "q_edit_distance" -> "1.93 (r6, CONTRAST DIAL)",
    "q_edit_distance_blocked" -> "1.02 (r6)",
    "q_embed_pca" -> "0.73 (r7)",
    "q_entity_match" -> "1.35 (r15, CONTRAST DIAL; was 1.14 r5)",
    "q_entity_match_capped" -> "0.92 (r15)",
    "q_harmonic_centrality" -> "0.55 (r15; bfs_hops relaxation family, no spill at 100x)",
    "q_domain_caps" -> "0.10 (r15, 292k domains)",
    "q_domain_mix" -> "0.15 (r15, 292k domains)",
    "q_theil_index" -> "0.05 (r15)",
    "q_event_lag" -> "0.24 (r7)",
    "q_event_paths" -> "0.53 (r6)",
    "q_fuzzy_jw" -> "~1.9 (r6 family: q_edit_distance's 2-char blocking, CONTRAST DIAL)",
    "q_fuzzy_jw_blocked" -> "~1.0 (r6 family: 4-char blocking)",
    "q_graph_cc" -> "0.67 (r7)",
    "q_graph_lpa" -> "0.65 (r7)",
    "q_gram_novelty" -> "0.32 (r7)",
    "q_incr_join" -> "0.24 (r7)",
    "q_ivf_balance" -> "0.45 (r7)",
    "q_assortativity" -> "1.02 (r10: the \u0398(|E|) linear floor)",
    "q_hits" -> "0.82 (r10)",
    "q_ivfpq" -> "0.12 (r10)",
    // the full-corpus kNN family: Θ(|V|²·nprobe/k_cells) at the declared
    // FIXED k_cells=16 (oracle replayability); the production dial is
    // k_cells ∝ √|V| → Θ(|V|^1.5) — SCALE.md r11 cost-model note
    "q_knn_graph" -> "declared fixed16 e=2.09 MEASURED; kc∝√V e=1.04 (r12 KnnCellScale)",
    "q_knn_components" -> "graph build + CC; same measured dial (r12)",
    "q_lof" -> "rides q_knn_graph (same dial); LOF algebra |V|·k rows (r12)",
    "q_kn_trigram" -> "0.31 (r12)",
    "q_attribution_position" -> "0.13 (r12)",
    "q_textrank" -> "0.40 (r12)",
    "q_cdc_chunks" -> "0.40 (r12)",
    "q_kaplan_meier" -> "0.07 (r12)",
    "q_gini" -> "0.48 (r12)",
    "q_permutation_test" -> "flat (r12)",
    "q_llr_colloc" -> "0.30 (r12)",
    "q_self_bleu" -> "flat (r12)",
    "q_video_scene" -> "0.10 (r12)",
    "q_audio_vad" -> "flat (r12)",
    "q_cohens_kappa" -> "0.63 (r12, two trigram-family passes)",
    "q_auc" -> "flat (r12)",
    "q_hurst" -> "0.08 (r12, |hours|-bounded)",
    "q_clustering_coeff" -> "rides q_triangles (0.97 r7) + one degree pass (r12)",
    "q_modularity" -> "rides q_graph_lpa rounds (0.65 r7) + two label joins (r12)",
    "q_kruskal" -> "0.21 (r12, cents-compressed rank domain)",
    "q_elasticity" -> "0.41 (r12)",
    "q_mann_kendall" -> "flat (r12, |days|-bounded)",
    "q_ransac" -> "flat (r12, |days|-bounded)",
    "q_knn_recall" -> "sample-sized exact side (r11)",
    "q_kcenter" -> "0.67 (r10)",
    "q_kcore" -> "1.21 (r10: |E|-linear peel floor + |V| broadcast builds; dial: shuffle semi-joins past the broadcast budget)",
    "q_kn_bigram" -> "0.38 (r10)",
    "q_lang_trigram" -> "0.80 (r7)",
    "q_mmr" -> "0.30 (r10)",
    "q_markov" -> "0.56 (r6)",
    "q_minhash_recall" -> "0.69 (r9 re-measure)",
    "q_ngram_containment" -> "0.52 (r7)",
    "q_ohlc" -> "0.01 (r7)",
    "q_phash_dedup" -> "0.71 (r9)",
    "q_pit_join" -> "flat (r7)",
    "q_pq_ann" -> "0.16 (r6)",
    "q_quality_train" -> "0.28 (r7)",
    "q_rbo" -> "flat (r10: 1.07 s @10× = 1.08 s @100× — probe-bounded join over two bounded rankings)",
    "q_rank_eval" -> "0.63 (r9)",
    "q_semdedup" -> "0.07 (r6)",
    "q_session_window" -> "0.76 (r6)",
    "q_sessionize" -> "0.30 (r6)",
    "q_sim_ivf" -> "~0 (r6)",
    "q_sim_lsh" -> "~0 (r6)",
    "q_simhash_pairs" -> "0.38 (r5)",
    "q_skew_audit" -> "flat (r7)",
    "q_skip_audit" -> "0.11 (r7)",
    "q_snapshot_diff" -> "0.32 (r7)",
    "q_source_overlap" -> "0.69 (r6)",
    "q_split_leakage" -> "0.94 (r7)",
    "q_stl_decompose" -> "flat (r7)",
    "q_theil_sen" -> "0.59 (r7)",
    "q_theta_audience" -> "0.06 (r7)",
    "q_tpch_q12" -> "flat (r9)",
    "q_tpch_q21" -> "0.45 (r9)",
    "q_tpch_q4" -> "0.38 (r9)",
    "q_triangles" -> "0.97 (r7 mem-sized; 1.35 r5 @24g)",
    "q_watermark_sim" -> "0.40 (r7)",
    "q_epoch_shuffle" -> "0.05 (r13)",
    "q_adamic_adar" -> "0.49 (r13)",
    "q_tpch_q9" -> "0.31 (r13, post broadcast fix)",
    "q_cusum" -> "flat (r13, |days|-bounded)",
    "q_ewma_control" -> "flat (r13, |days|-bounded)",
    "q_entropy_rate" -> "0.24 (r13)",
    "q_hapax" -> "0.15 (r13)",
    "q_pq_distortion" -> "0.11 (r13)",
    "q_kl_drift" -> "flat (r13, |days*types|-bounded)",
  )

  private def shape(plan: LogicalPlan): String = {
    var j, a, w, g, b, s = 0
    plan.foreach {
      case _: Join => j += 1
      case _: Aggregate => a += 1
      case _: Window => w += 1
      case _: Generate => g += 1
      case _: org.apache.spark.sql.execution.LogicalRDD => b += 1
      case _: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        s += 1
      case _ => ()
    }
    s"${j}J ${a}A ${w}W ${g}G ${b}B ${s}S"
  }

  /** Bench's `{"metric":"total",...}` line in `text`: its per-query
    * times, a null entry (an errored query) read as None, and its `sf`. */
  def parseBench(text: String): (Map[String, Option[Double]], String) = {
    val mapper = new ObjectMapper()
    val line = text.linesIterator.map(_.trim).filter(_.startsWith("{"))
      .map(l => mapper.readTree(l))
      .find(n => n.path("metric").asText() == "total")
      .getOrElse(sys.error("""no {"metric":"total",...} line"""))
    val queries = line.get("queries").properties().asScala.map { e =>
      e.getKey -> Option(e.getValue).filterNot(_.isNull).map(_.asDouble())
    }.toMap
    (queries, line.get("sf").asText())
  }

  /** One entry per query named in either run, in name order: its times and
    * exponent e = log(t_b/t_a) / log(rowRatio), or None (an ERR row) when
    * it errored in either run or is missing from one. */
  def exponents(a: Map[String, Option[Double]], b: Map[String, Option[Double]],
      rowRatio: Double): Seq[(String, Option[(Double, Double, Double)])] =
    (a.keySet ++ b.keySet).toSeq.sorted.map { name =>
      name -> (for { ta <- a.get(name).flatten; tb <- b.get(name).flatten }
        yield (ta, tb, math.log(tb / ta) / math.log(rowRatio)))
    }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: ScaleIndex <a.json> <b.json> [out.md]")
    def read(path: String) = parseBench(Files.readString(Paths.get(path)))
    val ((qa, sfA), (qb, sfB)) = (read(args(0)), read(args(1)))
    val out = if (args.length > 2) args(2) else "SCALE_INDEX.md"
    val spark = GraftSession.builder("graft-scale-index").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def lineitemRows(sf: String) = Tables.lineitem(spark, sf).count().toDouble
    val rowRatio = lineitemRows(sfB) / lineitemRows(sfA)
    println(f"[index] $sfA -> $sfB: lineitem row ratio $rowRatio%.3f")
    val rows = exponents(qa, qb, rowRatio).map { case (name, r) =>
      val sh =
        try shape(SparkEntry.queries(name)(spark, sfA).queryExecution.optimizedPlan)
        catch { case _: Throwable => "?" }
      val spot = SpotE.getOrElse(name, "—")
      r match {
        case Some((ta, tb, e)) =>
          val flag = if (tb < 0.6) "·" else ""
          println(f"[index] $name%-24s $ta%7.2f $tb%7.2f  e=$e%.2f$flag $sh")
          f"| `$name` | $ta%.2f | $tb%.2f | $e%.2f$flag | $spot | $sh |"
        case None =>
          println(s"[index] $name ERR")
          s"| `$name` | ERR | ERR | ERR | $spot | $sh |"
      }
    }
    val header =
      s"""# SCALE_INDEX — per-query scale posture (generated by `runMain graft.ScaleIndex`)
        |
        |One row per query timed by two Bench runs (best-of-reps wall
        |seconds, Bench's `queries` map):
        |
        |- `t_a` on `$sfA`
        |- `t_b` on `$sfB`
        |
        |`e` = log(t_b/t_a) / log(n_b/n_a), with the measured lineitem row
        |ratio n_b/n_a = ${f"$rowRatio%.3f"}. `·` marks rows under 0.6 s at
        |`b`, where fixed overhead dominates and the honest reading is "cheap
        |at both scales", not a growth law. `spot e` is the authoritative
        |prior spot measurement (10×→100× synthetic growth, measuring
        |round in parentheses; full readings in SCALE.md's round sections):
        |it supersedes the bench ratio for the superlinear-risk family
        |because it measures a further decade of growth. `shape` compresses
        |the optimized logical plan at `a`'s data: J joins, A aggregates,
        |W windows, G explodes, B materialize barriers, S table scans
        |— the bounded-shape argument for rows without a spot number.
        |CONTRAST DIAL rows are the five declared quadratic baselines
        |(SURVEY §2.3), each shipping a measured scale-safe primary.
        |
        || query | t_a s | t_b s | e | spot e (round) | shape |
        ||---|---|---|---|---|---|""".stripMargin
    Files.writeString(Paths.get(out),
      header + "\n" + rows.mkString("\n") + "\n")
    println(s"[index] ${rows.size} rows -> $out")
    spark.stop()
  }
}
