package graft

import org.apache.spark.sql.functions._

/** Dev tool: time isolated sub-plans of the heavier declared queries to see
  * where the wall-clock actually goes (join row materialization vs compute
  * vs shuffle). Usage: runMain graft.DevProfile <probe> [...]; env
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_REPS as in [[WarmBench]]. */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-dev-profile", s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.VectorFunctions._

    def emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), l2Norm(col("embedding")).as("nrm"))

    val probes: Map[String, () => Long] = Map(
      // round-15 flip evidence: declared 2-partition SPRT walk vs the
      // prefix-offset sharded rewrite, FullExec action (run on the sf1
      // synthesis: SPARK_GRAFT_SF_DIR=/tmp/graft_sf1 SPARK_GRAFT_CPUS=32)
      "sprt_declared" -> (() =>
        FullExec.count(operators.StatOps.sprt(spark, sfDir))),
      "sprt_sharded" -> (() =>
        FullExec.count(operators.StatOps.sprtSharded(spark, sfDir))),
      // exact single-buffer percentile vs the mergeable sketch
      "winsorize_exact" -> (() =>
        FullExec.count(operators.AnalyticsOps.winsorize(spark, sfDir))),
      "winsorize_approx" -> (() =>
        FullExec.count(operators.AnalyticsOps.winsorizeApprox(spark, sfDir))),
      "mad_exact" -> (() =>
        FullExec.count(operators.AnalyticsOps.madOutlier(spark, sfDir))),
      "mad_approx" -> (() =>
        FullExec.count(operators.AnalyticsOps.madOutlierApprox(spark, sfDir))),
      "embed_join_count" -> (() =>
        emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id")).count()),
      "embed_dot_count" -> (() =>
        emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
          .select(cosine(dotProduct(col("a.embedding"), col("b.embedding")),
            col("a.nrm"), col("b.nrm")).as("c"))
          .filter(col("c") > 2.0).count()),
      "embed_full" -> (() =>
        operators.DedupOps.dedupEmbed(spark, sfDir).count()),
      "edit_join_count" -> (() => {
        val pref = Tables.documents(spark, sfDir)
          .select(col("doc_id"), substring(lower(col("text")), 1, 16).as("pref"),
            substring(lower(col("text")), 1, 2).as("blk"))
        pref.as("a").join(pref.as("b"),
          col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id")).count()
      }),
      "edit_full" -> (() =>
        operators.AnalyticsOps.editDistancePairs(spark, sfDir).count()),
      "ivf_full" -> (() =>
        SparkEntry.queries("q_sim_ivf")(spark, sfDir).count())
    )
    args.foreach { name =>
      val p = probes.getOrElse(name, sys.error(s"unknown probe $name"))
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); val n = p(); (System.nanoTime() - t0) / 1e9 -> n
      }
      println(f"[probe] $name%-18s " +
        times.map { case (t, n) => f"$t%.2f(n=$n)" }.mkString(" "))
    }
    spark.stop()
  }
}
