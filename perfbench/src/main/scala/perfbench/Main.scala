package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types._

import graft.{FullExec, GraftSession, SparkEntry}
import graft.operators.SessionCache
import graft.pipeline.TaxiPipeline
import graft.sources.JdbcSource
import graft.streaming.StreamingIngest

/** One benchmark process: builds the session, runs the workload's warm pass
  * (one untimed pass over the workload's own inputs, so compiled code and
  * JIT are warm; it prints [[Main.SetupDone]] when set-up is over), then
  * runs `--passes` timed passes over the workload, checking every
  * operation's output after timing it. Writes, under `--out`:
  *
  *  - `ops.jsonl`: one record per operation (pass, traced or not, latency,
  *    check error if any);
  *  - `spans.jsonl` (traced runs): run → pass → operation → layer call →
  *    Spark job spans;
  *  - `results/`: each query's first result as parquet, with
  *    `oracle_sql.json`, the layout the oracle compare reads;
  *  - `run.json`: versions, cores, peak RSS, failures in the warm pass.
  *
  * In a traced run the first pass settles the process untraced, then
  * passes alternate traced and untraced, so the tracing overhead is
  * measured inside one process.
  *
  * Usage: perfbench.Main --workload W --queries q1,q2 --data DIR --taxi DIR
  *   --passes N --trace 0|1 --out DIR */
object Main {
  val SetupDone = "PERFBENCH_SETUP_DONE"

  final case class Args(workload: String, queries: Seq[String], data: String,
      taxi: String, passes: Int, trace: Boolean, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    Args(m("workload"), m.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq,
      m.getOrElse("data", ""), m.getOrElse("taxi", ""), m("passes").toInt,
      m("trace") == "1", m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val work = new File(args.out).getAbsoluteFile
    work.mkdirs()
    val spark = GraftSession.builder("perfbench", master = s"local[$cpus]",
        shufflePartitions = cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(args.trace, spark.sparkContext.setLocalProperty)
    val streams = new StreamListener
    if (args.trace) {
      spark.sparkContext.addSparkListener(new JobListener(tracer))
      spark.streams.addListener(streams)
    }
    val bench = new Bench(spark, args, work, tracer, streams, cpus)

    val warmFailures = bench.warm()
    println(SetupDone)
    System.out.flush()
    bench.timedPasses()
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    bench.finish(warmFailures)
    spark.stop()
  }
}

/** The workloads and their per-operation checks. */
final class Bench(spark: SparkSession, args: Main.Args, work: File,
    tracer: Tracer, streams: StreamListener, cpus: Int) {
  import Bench._

  private val ops = new StringBuilder
  private val resultsDir = new File(work, "results")
  /** query → (rows, digest) of its first successful result this run */
  private val firstResult = scala.collection.mutable.Map[String, (Long, Long)]()

  private def record(fields: (String, Any)*): Unit =
    ops ++= fields.map { case (k, v) => Json.str(k) + ":" + Json.value(v) }
      .mkString("{", ",", "}\n")

  def isIngest: Boolean = args.workload == "ingest"

  /** The untimed warm pass; returns the operations that failed in it
    * (reported, not counted). */
  def warm(): Int =
    if (isIngest) ingestPass(args.taxi, pass = -1, timed = false)
    else {
      SessionCache.clearAll()
      args.queries.count(q => Try(FullExec.count(SparkEntry.queries(q)(spark,
        args.data))).isFailure)
    }

  /** Runs the timed passes; a traced run needs a traced and an untraced
    * pass after the first. */
  def timedPasses(): Unit = {
    val passes = if (args.trace) math.max(3, args.passes) else args.passes
    for (pass <- 0 until passes) {
      val traced = args.trace && pass % 2 == 1
      tracer.enabled = traced
      val gc0 = gcSeconds()
      tracer.span("pass") { s =>
        if (isIngest) ingestPass(args.taxi, pass, timed = true)
        else queryPass(pass)
        if (s != null) s.attrs("gc_s") = gcSeconds() - gc0
      }
    }
    tracer.enabled = false
  }

  // ---------------------------------------------------------------- queries

  private def queryPass(pass: Int): Unit = {
    SessionCache.clearAll()
    args.queries.foreach(q => queryOp(q, pass))
  }

  private def queryOp(q: String, pass: Int): Unit = {
    var planSpan: Span = null
    val t0 = System.nanoTime()
    val run = Try(tracer.span(s"op:$q", newTrace = true) { _ =>
      val df = tracer.span("operators.construct") { s =>
        val before = if (s != null) Some((SessionCache.buildLog, codegen())) else None
        val df = SparkEntry.queries(q)(spark, args.data)
        before.foreach { case (log0, cg0) =>
          val log1 = SessionCache.buildLog
          val grown = log1.filter { case (k, v) => log0.get(k).forall(_ < v) }
          s.attrs("session_cache_builds") = grown.size
          s.attrs("session_cache_build_s") = log1.values.sum - log0.values.sum
          s.attrs("codegen_compiles") = codegen()._1 - cg0._1
        }
        df
      }
      tracer.span("plans.plan") { s =>
        planSpan = s
        df.queryExecution.executedPlan
      }
      val rows = tracer.span("fullexec.exec") { s =>
        val cg0 = codegen()
        val n = FullExec.count(df)
        if (s != null) {
          val cg1 = codegen()
          s.attrs("codegen_compiles") = cg1._1 - cg0._1
          s.attrs("codegen_compile_s") = cg1._2 - cg0._2
        }
        n
      }
      (df, rows)
    })
    val latency = (System.nanoTime() - t0) / 1e9
    val check = run.flatMap { case (df, rows) =>
      Try(tracer.span("check") { _ =>
        // counted on the executed adaptive plan, whose exchanges are final
        if (planSpan != null) planSpan.attrs("exchanges") = exchanges(df)
        checkQuery(q, df, rows)
      })
    }
    val error = check match {
      case Success(None) => None
      case Success(Some(mismatch)) => Some(mismatch)
      case Failure(e) => Some(e.toString.takeWhile(_ != '\n').take(300))
    }
    record("pass" -> pass, "traced" -> tracer.enabled, "op" -> q,
      "error" -> error.orNull, "latency_s" -> latency)
  }

  /** Compares a result with the query's first result this run (row count
    * and an order-sensitive digest of its rows); the first result itself is
    * written out for the oracle compare. Returns the mismatch, if any. */
  private def checkQuery(q: String, df: DataFrame, rows: Long): Option[String] = {
    val d = digest(df)
    firstResult.get(q) match {
      case None =>
        executedRows(df).coalesce(1).write.mode("overwrite")
          .parquet(s"$resultsDir/$q")
        firstResult(q) = (rows, d)
        None
      case Some((r0, d0)) =>
        if (r0 == rows && d0 == d) None
        else Some(s"result differs from this run's first result " +
          s"(rows $rows vs $r0, digest $d vs $d0)")
    }
  }

  // ----------------------------------------------------------------- ingest

  /** One pass of the reference pipeline plus the streaming ingest over
    * `taxiDir`; returns the number of failed operations. */
  private def ingestPass(taxiDir: String, pass: Int, timed: Boolean): Int = {
    val counts = readCounts(s"$taxiDir/counts.json")
    val gz = s"$taxiDir/$MonthFile"
    val dir = new File(work, s"ingest/pass$pass")
    deleteTree(dir)
    val cfg = TaxiPipeline.Config(
      outputDir = s"$dir/out", taxiColor = "yellow", year = 2021, month = 1,
      jdbcUrl = s"jdbc:derby:$work/ingest/derby;create=true",
      bucketDir = s"$dir/bucket", warehouseDir = s"$dir/warehouse")
    val rows = counts("rows")
    val kept = counts("kept")
    val exported = math.min(cfg.exportRowCap.toLong, kept)
    var failed = 0

    def op[T](name: String, layer: String, rowsIn: Long = -1L,
        knownDefect: Boolean = false)(body: => T)(check: T => Option[String])
        : Option[T] = {
      val t0 = System.nanoTime()
      val res = Try(tracer.span(s"op:$name", newTrace = true) { _ =>
        tracer.span(layer) { s =>
          if (s != null && rowsIn >= 0) s.attrs("rows_in") = rowsIn
          body
        }
      })
      val latency = (System.nanoTime() - t0) / 1e9
      val error = res.flatMap(v => Try(tracer.span("check")(_ => check(v)))) match {
        case Success(m) => m
        case Failure(e) => Some(e.toString.takeWhile(_ != '\n').take(300))
      }
      if (error.isDefined) failed += 1
      if (timed) record("pass" -> pass, "traced" -> tracer.enabled, "op" -> name,
        "known_defect" -> knownDefect, "error" -> error.orNull,
        "latency_s" -> latency)
      res.toOption
    }

    // The fetch check reads the download back the way the pipeline reads
    // CSV. TaxiPipeline.downloadCsv saves it as `trip_data.gz.csv`, so the
    // codec (picked from the extension) is wrong and the gzip bytes come
    // back as text: a known program defect this check keeps visible.
    op("fetch", "pipeline.fetch", knownDefect = true)(
      TaxiPipeline.downloadCsv(new File(gz).toURI.toString, cfg)) { path =>
      if (Files.mismatch(Paths.get(gz), path) != -1L)
        Some("downloaded bytes differ from the source file")
      else {
        val cols = spark.read.option("header", "true").csv(path.toString).columns
        if (cols.toSeq == TaxiColumns) None
        else Some(s"download reads back as ${cols.length} column(s), not " +
          s"the ${TaxiColumns.size}-column taxi header")
      }
    }
    op("ingest", "pipeline.ingest", rowsIn = rows)(
      TaxiPipeline.ingest(spark, gz, cfg)) { case (n, zb, za) =>
      val stored = JdbcSource(cfg.jdbcUrl, TaxiPipeline.tableName(cfg))
        .read(spark).count()
      if ((n, zb, za, stored) == (rows, counts("zero_passengers"), 0L, kept)) None
      else Some(s"(rows, zero before, zero after, stored) = ($n, $zb, $za, " +
        s"$stored), want ($rows, ${counts("zero_passengers")}, 0, $kept)")
    }
    val back = op("export", "pipeline.export")(
      TaxiPipeline.exportToCloud(spark, cfg)) { _ =>
      val n = spark.read.parquet(s"${cfg.outputDir}/${TaxiPipeline.tableName(cfg)}.parquet")
        .count()
      if (n == exported) None else Some(s"exported $n rows, want $exported")
    }
    back.foreach { df =>
      op("readback", "pipeline.readback")(FullExec.count(df)) { n =>
        if (n == exported) None else Some(s"read back $n rows, want $exported")
      }
    }
    op("stream", "streaming.stream", rowsIn = rows) {
      streams.drain()
      val q = StreamingIngest.start(spark, s"$taxiDir/chunks", TaxiSchema,
        s"$dir/stream_out", s"$dir/stream_ckpt")
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
      val span = tracer.current
      if (span != null) {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        val (n, ms) = streams.drain()
        span.attrs("batches") = ms.size
        span.attrs("rows") = n
        span.attrs("batch_ms") = ms
      }
    } { _ =>
      val n = spark.read.parquet(s"$dir/stream_out").count()
      if (n == kept) None else Some(s"streamed $n rows kept, want $kept")
    }
    failed
  }

  // ----------------------------------------------------------------- output

  def finish(warmFailures: Int): Unit = {
    write("ops.jsonl", ops.toString)
    if (args.trace)
      write("spans.jsonl", tracer.spans.map(_.toJson).mkString("", "\n", "\n"))
    if (!isIngest) {
      resultsDir.mkdirs()
      val oracle = args.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _))
      Files.writeString(new File(resultsDir, "oracle_sql.json").toPath,
        Json.value(oracle.toMap))
      Files.writeString(new File(resultsDir, "errors.json").toPath, "{}")
    }
    val env = Map(
      "cpus" -> cpus,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "peak_rss_mb" -> peakRssMb(),
      "warm_failures" -> warmFailures)
    write("run.json", Json.value(env))
  }

  private def write(name: String, s: String): Unit =
    Files.writeString(new File(work, name).toPath, s)
}

object PlanWalk extends AdaptiveSparkPlanHelper

object Bench {
  val MonthFile = "yellow_tripdata_2021-01.csv.gz"

  val TaxiColumns: Seq[String] = Seq("VendorID", "tpep_pickup_datetime",
    "tpep_dropoff_datetime", "passenger_count", "trip_distance", "RatecodeID",
    "store_and_fwd_flag", "PULocationID", "DOLocationID", "payment_type",
    "fare_amount", "extra", "mta_tax", "tip_amount", "tolls_amount",
    "improvement_surcharge", "total_amount", "congestion_surcharge")

  /** The generator's column types, pinned for the streaming source. */
  val TaxiSchema: StructType = StructType(TaxiColumns.map { c =>
    val t = c match {
      case "tpep_pickup_datetime" | "tpep_dropoff_datetime" |
           "store_and_fwd_flag" => StringType
      case "VendorID" | "passenger_count" | "RatecodeID" | "PULocationID" |
           "DOLocationID" | "payment_type" => IntegerType
      case _ => DoubleType
    }
    StructField(c, t)
  })

  def readCounts(path: String): Map[String, Long] =
    "\"(\\w+)\": (\\d+)".r.findAllMatchIn(Files.readString(Paths.get(path)))
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  /** Exchanges in an executed query's physical plan, through adaptive
    * query stages and subqueries. */
  def exchanges(df: DataFrame): Int =
    PlanWalk.collectWithSubqueries(df.queryExecution.executedPlan) {
      case e: Exchange => e }.size

  /** An executed query's result as a new DataFrame over the same RDD, so
    * writing it reuses the finished shuffle stages instead of re-running
    * the query. */
  def executedRows(df: DataFrame): DataFrame = {
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    df.sparkSession.createDataFrame(df.queryExecution.toRdd
      .map(r => toRow(r).asInstanceOf[Row]), df.schema)
  }

  /** Order-sensitive digest of a result, from its own physical plan: a
    * polynomial hash of the row sequence, so it does not depend on where
    * the partitions split it. */
  def digest(df: DataFrame): Long = {
    val base = 1000003L
    df.queryExecution.toRdd.mapPartitionsWithIndex { (i, it) =>
      var (h, pow) = (0L, 1L)
      it.foreach { r => h = h * base + r.hashCode; pow *= base }
      Iterator((i, h, pow))
    }.collect().sortBy(_._1).foldLeft(0L) { case (acc, (_, h, pow)) =>
      acc * pow + h }
  }

  /** (whole-stage codegen compiles, seconds compiling) so far in this JVM.
    * Seconds are exact while the histogram holds every sample (≤ 1028). */
  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val vals = h.getSnapshot.getValues
    val n = h.getCount
    val sumMs = if (vals.isEmpty) 0.0 else vals.sum.toDouble * n / vals.length
    (n, sumMs / 1000.0)
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0
  }

  def peakRssMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")))
      .toOption.flatMap { lines =>
        import scala.jdk.CollectionConverters._
        lines.asScala.find(_.startsWith("VmHWM:"))
          .map(_.split("\\s+")(1).toDouble / 1024.0)
      }.getOrElse(Double.NaN)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
