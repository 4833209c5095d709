package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Turns every Spark job into a span under the span that was active on the
  * submitting thread when the job started (read from the job's
  * [[Tracer.SpanProperty]]), with the job's stage and task counters as
  * attributes. Jobs started outside any span are dropped. */
final class JobListener(tracer: Tracer) extends SparkListener {
  private final class Job(val span: Span) {
    val stages = mutable.Set[Int]()
    val counters = mutable.LinkedHashMap[String, Long]().withDefaultValue(0L)
  }
  private val jobs = mutable.Map[Int, Job]()
  private val stageToJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).foreach { parent =>
        // the result stage carries the job's call site: short form as its
        // name, the program stack as its details
        val result = e.stageInfos.maxByOption(_.stageId)
        val callSite = result.map(_.name).getOrElse("")
        val longSite = result.map(_.details).getOrElse("")
        val span = Span(tracer.nextId(), parent, parent, "spark.job",
          e.time.toDouble)
        span.attrs("job_id") = e.jobId
        span.attrs("call_site") = callSite
        span.attrs("kind") = JobListener.kind(callSite, longSite)
        jobs(e.jobId) = new Job(span)
        e.stageIds.foreach(s => stageToJob(s) = e.jobId)
      }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get)
        .foreach(_.stages += e.stageInfo.stageId)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val c = j.counters
      c("tasks") += 1
      Option(e.taskMetrics).foreach { m =>
        c("task_busy_ms") += m.executorRunTime
        c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        c("input_bytes") += m.inputMetrics.bytesRead
        c("input_records") += m.inputMetrics.recordsRead
        c("output_bytes") += m.outputMetrics.bytesWritten
        c("output_records") += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      j.span.end = e.time.toDouble
      j.span.attrs("stages") = j.stages.size
      j.counters.foreach { case (k, v) => j.span.attrs(k) = v }
      j.span.attrs("succeeded") = e.jobResult == JobSucceeded
      tracer.add(j.span)
    }
  }
}

object JobListener {
  /** What a job is for, from its call site (Spark names the last Spark
    * method it passed through, then the first program frame): a JDBC write
    * (`jdbc_write`), a `spark.read.parquet` schema read (`schema`; read
    * under the construct layer only, where nothing writes), or anything
    * else (`other`). */
  def kind(callSiteShort: String, callSiteLong: String): String =
    if (callSiteLong.contains("JdbcSink")) "jdbc_write"
    else if (callSiteShort.startsWith("parquet at ")) "schema"
    else "other"
}

/** Micro-batch counters of the streaming queries started while it is
  * registered. */
final class StreamListener extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer[(Long, Long)]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) batches += ((p.numInputRows, p.batchDuration))
  }

  /** (rows, batch durations in ms) since the last call. */
  def drain(): (Long, Seq[Long]) = synchronized {
    val out = (batches.map(_._1).sum, batches.map(_._2).toList)
    batches.clear()
    out
  }
}
