package graft

/** Dev tool: run named declared queries N times each in one JVM and print
  * every iteration's wall-clock, separating first-touch cost (codegen
  * compilation, parquet footer reads, JIT) from steady-state execution —
  * the number that actually scales with data size.
  *
  * Usage: runMain graft.WarmBench q_dedup_clusters q_sim_ivf [...]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_REPS (default 3),
  * SPARK_GRAFT_CPUS (default 4).
  */
object WarmBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder("graft-warm-bench", s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        FullExec.count(fn(spark, sfDir))
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[warm] $name%-20s ${times.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
