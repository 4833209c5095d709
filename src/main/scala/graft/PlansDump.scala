package graft

import java.nio.file.{Files, Paths}

/** Dev tool (round 15): dump `explain("formatted")` of declared queries to
  * `plans/<round>/<query>_<suffix>.txt` — the before/after plan evidence
  * the optimization rounds commit next to each change. With no query list
  * it dumps every declared query, so a full dump can never miss one.
  * Usage: `runMain graft.PlansDump <suffix> [q_a,q_b,...]` with
  * `SPARK_GRAFT_SF_DIR` (default sf0.001), `SPARK_GRAFT_CPUS`, and
  * `SPARK_GRAFT_PLANS_ROUND` (default r16) naming the round directory.
  */
object PlansDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlansDump <suffix> [q_a,q_b,...]")
    val suffix = args(0)
    val names = args.lift(1).fold(SparkEntry.queries.keys.toSeq.sorted)(
      _.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val round = sys.env.getOrElse("SPARK_GRAFT_PLANS_ROUND", "r16")
    val spark =
      GraftSession.builder("graft-plans", s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(s"plans/$round"))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, dir)
      Files.writeString(Paths.get(s"plans/$round/${n}_$suffix.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      println(s"[plans] wrote plans/$round/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
