package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver invokes with (sfDir, outDir); a dev-only optional 3rd arg
    // restricts to a comma-separated subset for fast oracle iteration
    val (sfDir, outDir) = (args(0), args(1))
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder("graft-verify", s"local[$cpus]", cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // one retry per query: a transient (GC pause mid-checkpoint, a lost
      // shuffle block under memory pressure) must not zero a gate row when
      // the recomputation is deterministic anyway
      def attempt(): Unit = fn(spark, sfDir).coalesce(1).write
        .mode("overwrite").parquet(s"$outDir/$name")
      // a query can fail BEFORE its write overwrites anything (eager
      // Materialize/head() in the builder), so stale output from a prior
      // run in a reused outDir would read as a green row for a failed
      // query — delete first, then a failure leaves only the marker
      def rmTree(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
        f.delete()
      }
      def wipe(): Unit = rmTree(new java.io.File(s"$outDir/$name"))
      wipe()
      try attempt()
      catch { case e1: Throwable =>
        System.err.println(s"[verify] retrying $name after: ${e1.getMessage}")
        // a session-cached localCheckpoint whose blocks were lost is
        // unrecoverable by recomputation of the SAME frame — drop EVERY
        // registered operator cache so the retry rebuilds from the
        // parquet scan (clearAll covers caches added later too)
        graft.operators.SessionCache.clearAll()
        wipe()
        try attempt()
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name failed: ${e2.getMessage}")
          failed(name) = Option(e2.getMessage).getOrElse(e2.getClass.getName)
          // explicit on-disk failure marker: the driver must see a RED row,
          // never an absent one (round-6 lost the graph family silently)
          wipe()
          val d = new java.io.File(s"$outDir/$name")
          d.mkdirs()
          Files.writeString(Paths.get(s"$outDir/$name/_FAILED"),
            failed(name) + "\n")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => subset.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // errors.json: every twice-failed query, explicitly. Always written
    // (possibly "{}") so the driver can distinguish "no failures" from
    // "harness died before finishing".
    val errJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
    spark.stop()
  }
}
