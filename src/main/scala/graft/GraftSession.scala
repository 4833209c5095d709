package graft

import org.apache.spark.sql.SparkSession

/** Session factory + SQL surface for the graft engine.
  *
  * [[builder]] encodes the 100 TB posture as configuration: AQE on (runtime
  * shuffle coalescing, dynamic broadcast selection, skew-join splitting),
  * UTC semantics, and shuffle parallelism sized to the cluster instead of
  * Spark's legacy 200. On a real cluster only `master` and the partition
  * count change; every operator in this library is written against plain
  * `SparkSession`, so nothing else is environment-specific.
  *
  * It also bounds Spark's generated-class cache at [[GeneratedClassCacheEntries]]
  * so that a warm session compiles each whole-stage class once. Every entry
  * point (Bench, Verify, the dev tools, the test base) builds through here;
  * a session built elsewhere keeps Spark's 100-entry default and recompiles.
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`, a static conf that Spark reads
    * once per JVM, when `CodeGenerator` is first used. At the default 100
    * entries a warm session misses on nearly every lookup: Bench's warm pass
    * of the declared queries at sf0.001 generates 5,106 distinct classes,
    * and its sweep at sf0.1 adds 421 more, 5,527 in all (local[4], no bound;
    * metaspace 68 MB -> 227 MB). The bound is 1.5x that union. */
  val GeneratedClassCacheEntries: Int = 8400

  def builder(appName: String = "graft",
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      shufflePartitions: Int = Runtime.getRuntime.availableProcessors())
      : SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      // the library's SQL functions (vector_dot, minhash_signature, ...);
      // see graft.plans.GraftExtensions
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        GeneratedClassCacheEntries.toString)

  /** Register every test table as a temp view so the whole engine surface is
    * additionally reachable through `spark.sql(...)` — Catalyst plans SQL
    * and DataFrame identically. */
  def openTables(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => Tables(spark, dir, t).createOrReplaceTempView(t))
}
