package graft

/** Dev tool: measure ANN probe-BATCH scaling (results recorded in
  * SCALE.md "ANN probe batch").
  *
  * The r10 verdict's top ask was to make the ADC search path's cost — and
  * its PLAN — scale in the probe count as data, not as plan branches.
  * [[graft.operators.PqOps.pqTopK]]/`ivfPqTopK` now put probes on one
  * broadcast DataFrame side; this gate measures the claim: each target
  * runs at nProbes ∈ {5, 50, 500} (warm: best of `reps`, first run
  * discarded as codegen warm-up) and reports the empirical probe-scaling
  * exponent e = log(t₅₀₀/t₅)/log(100). e ≈ 0 means fixed costs (training,
  * the corpus encode scan) dominate; e must stay well under 1 — the old
  * per-probe-plan-branch shape pays superlinear planning cost plus a full
  * corpus pass per probe, and fails this gate by construction.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.ProbeScale"
  */
object ProbeScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.builder("graft-probe-scale", s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val targets: Seq[(String, Int => org.apache.spark.sql.DataFrame)] = Seq(
      "q_pq_ann" -> ((n: Int) =>
        graft.operators.PqOps.pqTopK(spark, sfDir, nProbes = n)),
      "q_ivfpq" -> ((n: Int) =>
        graft.operators.PqOps.ivfPqTopK(spark, sfDir, nProbes = Some(n))))
    val probeCounts = Seq(5, 50, 500)

    targets.foreach { case (name, fn) =>
      val best = probeCounts.map { n =>
        val times = (0 to reps).map { _ =>
          val t0 = System.nanoTime()
          val rows = FullExec.count(fn(n))
          ((System.nanoTime() - t0) / 1e9, rows)
        }
        val (ts, rows) = (times.tail.map(_._1), times.head._2)
        println(f"[probescale] $name nProbes=$n%3d best=${ts.min}%.2fs " +
          f"all=${ts.map(t => f"$t%.2f").mkString(",")} rows=$rows")
        n -> ts.min
      }.toMap
      val e = math.log(best(500) / best(5)) / math.log(100.0)
      println(f"[probescale] $name exponent e(5->500) = $e%.2f")
    }
    spark.stop()
  }
}
