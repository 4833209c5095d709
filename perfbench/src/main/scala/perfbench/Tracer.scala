package perfbench

import scala.collection.mutable

/** One timed interval at a layer boundary. `trace` is shared by every span
  * of one operation (the operation span's own id); `parent` is 0 for the
  * root. Times are epoch milliseconds with sub-millisecond precision, the
  * clock Spark's listener events use. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    start: Double, var end: Double = Double.NaN,
    attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty) {
  def toJson: String = Json.value(mutable.LinkedHashMap[String, Any](
    "id" -> id, "parent" -> parent, "trace" -> trace, "name" -> name,
    "start_ms" -> start, "end_ms" -> end, "attrs" -> attrs))
}

/** Records spans in memory and, while a span is open on the driver thread,
  * tags every Spark job that thread submits with the span's id (a local
  * property, inherited by threads the call starts, plus the job group), so
  * [[JobListener]] can hang the job under the span that was active when it
  * started. Disabled, it only runs the body. */
final class Tracer(var enabled: Boolean, setLocal: (String, String) => Unit) {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble

  /** The innermost open span, or null. */
  def current: Span = stack.headOption.orNull

  def now(): Double = msBase + (System.nanoTime() - nanoBase) / 1e6
  def nextId(): Long = ids.incrementAndGet()

  /** Runs `body` inside a span named `name`; a span named by `newTrace`
    * starts a new trace id (one per operation). */
  def span[T](name: String, newTrace: Boolean = false)(body: Span => T): T = {
    if (!enabled) return body(null)
    val id = nextId()
    val parent = stack.headOption
    val trace = if (newTrace || parent.isEmpty) id else parent.get.trace
    val s = Span(id, parent.map(_.id).getOrElse(0L), trace, name, now())
    stack = s :: stack
    tag(Some(s))
    try body(s)
    finally {
      s.end = now()
      stack = stack.tail
      tag(stack.headOption)
      synchronized(done += s)
    }
  }

  private def tag(s: Option[Span]): Unit = {
    setLocal(Tracer.SpanProperty, s.map(_.id.toString).orNull)
    setLocal(Tracer.JobGroup, s.map(x => s"perfbench-${x.id}").orNull)
  }

  def add(s: Span): Unit = synchronized(done += s)
  def spans: Seq[Span] = synchronized(done.toList)
}

object Tracer {
  val SpanProperty = "perfbench.span"
  /** SparkContext's job-group property (what `setJobGroup` sets). */
  val JobGroup = "spark.jobGroup.id"
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
